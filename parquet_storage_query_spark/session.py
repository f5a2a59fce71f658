"""SparkSession factory with scale-oriented defaults.

The reference delegates optimization to its backends (SURVEY.md §4); here the
equivalent is a session configured so Catalyst/Tungsten/AQE do that work:
AQE on (runtime re-plan, skew-join handling, partition coalescing), parquet
filter + aggregate pushdown on, UTC session timezone (so results compare
bit-for-bit against a DuckDB oracle), Arrow enabled for the Pandas-UDF path.

At 100 TB these settings matter more than any operator code: AQE coalesces
the post-shuffle partitions to target size instead of a fixed 200/32, skewed
join keys get split automatically, and stats-only COUNT/MIN/MAX queries are
answered from parquet footers without scanning data.
"""

from __future__ import annotations

import os
import socket

from pyspark.sql import SparkSession


def _enable_py4j_nodelay() -> None:
    """Disable Nagle on every py4j control socket (guide §4: you cannot
    remove the JVM↔Python boundary, but you control how efficiently it is
    crossed). py4j leaves TCP_NODELAY unset on its localhost sockets, and
    every Column/DataFrame method is a tiny write-read ping-pong — exactly
    the pattern where Nagle + delayed-ACK stalls each round trip. Measured
    on this box: DataFrame.select() plan-construction drops ~2x (16.6ms →
    8.2ms per call) with NODELAY on. This is plan-CONSTRUCTION overhead
    paid once per query, not data-path work — the Arrow batch channels the
    executors use are large buffered writes where Nagle is irrelevant.
    Idempotent; patches the connection classes so sockets created later
    (one per Python thread under the pin-thread ClientServer) inherit it,
    including the ones the JVM opens to Python for callbacks (a
    `foreachBatch` function calls back into the JVM over its callback
    connection, which then joins the pool Python calls from)."""
    import contextlib

    def _patch(cls, method_name: str) -> None:
        orig = getattr(cls, method_name, None)
        if orig is None or getattr(orig, "_nodelay_wrapped", False):
            return

        def wrapped(self, *a, **kw):  # noqa: ANN001
            out = orig(self, *a, **kw)
            with contextlib.suppress(Exception):
                self.socket.setsockopt(socket.IPPROTO_TCP, socket.TCP_NODELAY, 1)
            return out

        wrapped._nodelay_wrapped = True
        setattr(cls, method_name, wrapped)

    with contextlib.suppress(Exception):
        from py4j.clientserver import ClientServerConnection

        _patch(ClientServerConnection, "connect_to_java_server")
        _patch(ClientServerConnection, "init_socket_from_python_server")
    with contextlib.suppress(Exception):
        from py4j.java_gateway import GatewayConnection

        _patch(GatewayConnection, "start")


_enable_py4j_nodelay()


def _enable_stat_keyed_zip_invalidation() -> None:
    """Re-read a zip archive's directory on `importlib.invalidate_caches()`
    only when the archive changed. Before 3.12, every call makes each
    `zipimporter` in `sys.path_importer_cache` re-parse its archive's
    whole central directory, and PySpark's worker calls it at the start
    of EVERY Python task (`worker_util.setup_spark_files`). A worker has
    ~12 importers over pyspark.zip (1,328 entries) and 2 over the
    spark-core jar (5,359 entries), so each task paid 150-250 ms of CPU
    re-reading archives that never change. Wrapped, an archive is re-read
    only when its (st_mtime_ns, st_size) differs from what this process
    last read; otherwise the importer is rebound to the shared cached
    directory. A failed `stat` falls back to the original method.
    Every pandas UDF whose function lives in this package imports it when
    the worker unpickles the task, so from then on each reused worker
    reads each archive once more and afterwards pays one `stat` per
    importer per task instead. CPython 3.12 made this invalidation
    lazy, so there it is left alone. Idempotent."""
    import sys
    import zipimport

    if sys.version_info >= (3, 12):
        return
    orig = zipimport.zipimporter.invalidate_caches
    if getattr(orig, "_stat_keyed", False):
        return
    read_as_of: dict[str, tuple[int, int]] = {}

    def invalidate_caches(self):  # noqa: ANN001
        try:
            st = os.stat(self.archive)
        except OSError:
            read_as_of.pop(self.archive, None)
            orig(self)
            return
        key = (st.st_mtime_ns, st.st_size)
        files = zipimport._zip_directory_cache.get(self.archive)
        if files is not None and read_as_of.get(self.archive) == key:
            self._files = files
            return
        # stat before the read: a write racing the read changes the key,
        # so the next call reads again
        orig(self)
        read_as_of[self.archive] = key

    invalidate_caches._stat_keyed = True
    zipimport.zipimporter.invalidate_caches = invalidate_caches


_enable_stat_keyed_zip_invalidation()

# local[32] single-JVM test box; a real deployment overrides master/memory
# via spark-submit and these become per-executor settings.
_DEFAULTS = {
    # --- optimizer / adaptive execution ---
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # target post-shuffle partition size; AQE coalesces down to this
    "spark.sql.adaptive.advisoryPartitionSizeInBytes": "64m",
    # --- parquet scan path ---
    "spark.sql.parquet.filterPushdown": "true",
    # answer COUNT/MIN/MAX from row-group statistics when possible
    "spark.sql.parquet.aggregatePushdown": "true",
    "spark.sql.files.maxPartitionBytes": "128m",
    # --- correctness vs oracle ---
    "spark.sql.session.timeZone": "UTC",
    # --- python interop ---
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # --- broadcast threshold: dims like region/nation/supplier always fit ---
    "spark.sql.autoBroadcastJoinThreshold": "64m",
    "spark.ui.enabled": "false",
}


def _default_driver_memory() -> str:
    """The local JVM heap: the smaller of 16g and half of physical memory.

    Local mode = one JVM: the "driver" heap is ALL executor memory. 16g
    measured FASTER than 48g on the checkpoint-heavy 10× dedup builds
    (cos-LSH build 17.9s vs 47.8s isolated) — the giant heap pays G1
    page-commit/locality costs that dwarf any spill it avoids. Below 32 GB
    of RAM, a 16g heap plus the JVM's off-heap and the Python workers
    outgrows the machine: on a 15 GB host the kernel killed two sf1 JVMs
    at about 15.9 GB RSS, so the heap takes half. A real cluster sets
    executor memory via spark-submit; this only sizes the local JVM."""
    cap_mb = 16 << 10
    try:
        phys = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE")
    except (AttributeError, ValueError, OSError):
        return f"{cap_mb}m"  # no sysconf names on this platform
    return f"{min(cap_mb, phys // 2 >> 20)}m"


def get_spark(
    app_name: str = "parquet-storage-query-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the session.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (32 on the test
    box); on a cluster pass None and set master via spark-submit.
    ``shuffle_partitions`` defaults to the core count locally — with AQE
    coalescing enabled this is an upper bound, not a fixed fan-out.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = cpus

    builder = SparkSession.builder.appName(app_name).master(master)
    for k, v in _DEFAULTS.items():
        builder = builder.config(k, v)
    builder = builder.config("spark.sql.shuffle.partitions", str(shuffle_partitions))
    builder = builder.config(
        "spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM") or _default_driver_memory()
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    _nodelay_existing_connections(spark)
    return spark


def _nodelay_existing_connections(spark: SparkSession) -> None:
    """Best-effort NODELAY for connections opened BEFORE this module was
    imported (a harness that built its own session first): the class patch
    in _enable_py4j_nodelay only covers sockets created after import."""
    import contextlib

    with contextlib.suppress(Exception):
        pool = spark.sparkContext._gateway._gateway_client.deque
        for conn in list(pool):
            with contextlib.suppress(Exception):
                conn.socket.setsockopt(socket.IPPROTO_TCP, socket.TCP_NODELAY, 1)
