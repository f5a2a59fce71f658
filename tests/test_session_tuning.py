"""Session/streaming tuning regression guards (r12).

1. The py4j TCP_NODELAY patch (r11's broadest win: every Column/DataFrame
   call is a tiny write-read ping-pong that Nagle+delayed-ACK stalls) must
   stay applied — a py4j upgrade that renames the patched methods would
   silently revert it — also on the callback connections the JVM opens to
   Python for `foreachBatch` functions.
2. The stream state-partition sizing helper must stay data-derived (key
   domain / backlog bytes), honor the env override, and actually reach the
   started streaming query's cloned conf, without leaking into a stream
   started concurrently on another thread.
3. The default local heap never exceeds the machine's physical memory.
"""

from __future__ import annotations

import contextlib
import json
import socket

from parquet_storage_query_spark.streaming.windows import (
    _local_dir_bytes,
    _run_to_memory,
    _state_partitions,
    drain_stream,
)


def test_py4j_nodelay_patch_applied(spark, tmp_path):
    # the class patch marks the wrapped methods; assert it took
    from py4j.clientserver import ClientServerConnection

    for method in ("connect_to_java_server", "init_socket_from_python_server"):
        assert getattr(
            getattr(ClientServerConnection, method), "_nodelay_wrapped", False
        ), f"py4j NODELAY class patch missing on {method} (py4j upgrade renamed it?)"
    # a foreachBatch function calls the JVM over the connection the JVM
    # opened to Python; that connection then joins the pool checked below
    src = str(tmp_path / "src")
    spark.range(3).write.parquet(src)
    counts = []
    drain_stream(
        spark.readStream.schema("id long")
        .parquet(src)
        .writeStream.foreachBatch(lambda batch, _id: counts.append(batch.count()))
    )
    assert sum(counts) == 3
    # and the live gateway's sockets actually carry the option
    gw = spark.sparkContext._gateway
    conns = list(getattr(gw._gateway_client, "deque", []))
    live = [
        c
        for c in conns
        if getattr(c, "socket", None) is not None
    ]
    assert live, "no live py4j connections to inspect"
    for c in live:
        assert (
            c.socket.getsockopt(socket.IPPROTO_TCP, socket.TCP_NODELAY) != 0
        ), "py4j control socket has Nagle enabled (NODELAY patch regressed)"


def test_state_partitions_sizing(spark, monkeypatch):
    default = int(spark.conf.get("spark.sql.shuffle.partitions"))
    # bounded key domains: one reduce slot per ~8 keys, capped at session
    assert _state_partitions(spark, keys=8) == 1
    assert _state_partitions(spark, keys=75) == min(default, 10)
    # backlog-derived: floor 8 for small replays, grows with bytes
    assert _state_partitions(spark, backlog_bytes=1 << 20) == 8
    big = 64 * (32 << 20)  # 2 GiB -> 64 partitions (if 4*default allows)
    assert _state_partitions(spark, backlog_bytes=big) == min(4 * default, 64)
    # env override wins
    monkeypatch.setenv("SPARK_GRAFT_STREAM_STATE_PARTITIONS", "3")
    assert _state_partitions(spark, keys=75) == 3
    assert _state_partitions(spark, backlog_bytes=big) == 3


@contextlib.contextmanager
def _captured_state_partitions():
    """Yield a dict that receives `parts`: the numShufflePartitions of the
    stateful operator of each streaming query stopped inside the block,
    read from its progress just before stop()."""
    import pyspark.sql.streaming.query as _sq

    captured = {}
    orig_stop = _sq.StreamingQuery.stop

    def capturing_stop(self):
        try:
            for p in self.recentProgress:
                d = p if isinstance(p, dict) else json.loads(p.json)
                for so in d.get("stateOperators", []):
                    captured["parts"] = so.get("numShufflePartitions")
        except Exception:
            pass
        return orig_stop(self)

    _sq.StreamingQuery.stop = capturing_stop
    try:
        yield captured
    finally:
        _sq.StreamingQuery.stop = orig_stop


def test_run_to_memory_partitions_reach_query_and_conf_restored(spark, tmp_path):
    from pyspark.sql import functions as F

    prev = spark.conf.get("spark.sql.shuffle.partitions")
    df = (
        spark.readStream.format("rate")
        .option("rowsPerSecond", "500")
        .option("numPartitions", "1")
        .load()
        .groupBy((F.col("value") % 5).alias("k"))
        .count()
    )
    with _captured_state_partitions() as captured:
        import time

        # rate source ticks in wall time: give it a moment to emit rows
        # before processAllAvailable drains (an empty batch still commits
        # state and reports numShufflePartitions, so no flake either way)
        time.sleep(2)
        _run_to_memory(df, "t_state_parts_out", "update", partitions=2)
    assert captured.get("parts") == 2
    assert spark.conf.get("spark.sql.shuffle.partitions") == prev


def test_jsonl_stream_state_partitions_sized_for_language_domain(spark, monkeypatch):
    """source_jsonl_stream sizes its per-lang state from the language
    domain, not from the session: at the test session's 8 shuffle
    partitions the started query holds the one state partition that 5
    languages need (8 measured ~20x the commit time for the same rows)."""
    from parquet_storage_query_spark.operators.advanced import (
        LANG_DOMAIN_BOUND,
        source_jsonl_stream,
    )

    from .conftest import SF_SMOKE

    monkeypatch.delenv("SPARK_GRAFT_STREAM_STATE_PARTITIONS", raising=False)
    assert int(spark.conf.get("spark.sql.shuffle.partitions")) == 8
    assert _state_partitions(spark, keys=LANG_DOMAIN_BOUND) == 1
    with _captured_state_partitions() as captured:
        rows = source_jsonl_stream(spark, SF_SMOKE).collect()
    assert len(rows) <= LANG_DOMAIN_BOUND
    assert captured.get("parts") == 1, captured


def test_local_dir_bytes(tmp_path):
    (tmp_path / "a").write_bytes(b"x" * 100)
    sub = tmp_path / "sub"
    sub.mkdir()
    (sub / "b").write_bytes(b"y" * 50)
    assert _local_dir_bytes(str(tmp_path)) == 150
    assert _local_dir_bytes(str(tmp_path / "a")) == 100


class _ConfStub:
    """Just enough of a SparkSession for `_state_partitions`."""

    def __init__(self, shuffle_partitions: int):
        self.conf = {"spark.sql.shuffle.partitions": str(shuffle_partitions)}


def test_state_partitions_cap_wins_over_floor(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_STREAM_STATE_PARTITIONS", raising=False)
    # at parallelism 1 the 4x cap (4) bounds even the floor of 8
    assert _state_partitions(_ConfStub(1), backlog_bytes=1 << 20) == 4
    assert _state_partitions(_ConfStub(1), backlog_bytes=64 * (32 << 20)) == 4
    # at 4 cores a small replay still gets the floor of 8
    assert _state_partitions(_ConfStub(4), backlog_bytes=1 << 20) == 8
    assert _state_partitions(_ConfStub(4), backlog_bytes=64 * (32 << 20)) == 16


def test_unsized_start_never_clones_a_transient_partition_count(
    spark, tmp_path, monkeypatch
):
    """A sized start holds `spark.sql.shuffle.partitions` at its own value
    for the length of its start(). An unsized start on another thread, and
    a `_state_partitions` read, must both wait for the restore instead of
    picking up the transient value."""
    import json
    import threading

    import pyspark.sql.streaming.query as _sq
    from pyspark.sql import functions as F
    from pyspark.sql.streaming.readwriter import DataStreamWriter

    monkeypatch.delenv("SPARK_GRAFT_STREAM_STATE_PARTITIONS", raising=False)
    default = int(spark.conf.get("spark.sql.shuffle.partitions"))
    assert default > 1
    src = str(tmp_path / "src")
    spark.range(40).write.parquet(src)

    def counts():
        return (
            spark.readStream.schema("id long")
            .parquet(src)
            .groupBy((F.col("id") % 5).alias("k"))
            .count()
        )

    sized_df, unsized_df = counts(), counts()
    parts: dict[str, int] = {}
    orig_stop = _sq.StreamingQuery.stop

    def capturing_stop(self):
        for p in self.recentProgress:
            d = p if isinstance(p, dict) else json.loads(p.json)
            for so in d.get("stateOperators", []):
                parts[self.name] = so.get("numShufflePartitions")
        return orig_stop(self)

    in_sized_start = threading.Event()
    orig_start = DataStreamWriter.start

    def slow_sized_start(self, *a, **kw):
        if threading.current_thread().name == "sized":
            # hold the transient value long enough for the other thread
            # to reach its own start
            in_sized_start.set()
            threading.Event().wait(1.5)
        return orig_start(self, *a, **kw)

    monkeypatch.setattr(_sq.StreamingQuery, "stop", capturing_stop)
    monkeypatch.setattr(DataStreamWriter, "start", slow_sized_start)
    read: dict[str, int] = {}
    errors: list[BaseException] = []

    def run(fn):
        def body():
            try:
                fn()
            except BaseException as e:  # noqa: BLE001
                errors.append(e)

        return body

    def unsized():
        assert in_sized_start.wait(30)
        read["keys"] = _state_partitions(spark, keys=8 * default)
        _run_to_memory(unsized_df, "t_race_unsized_out", "update")

    sized = threading.Thread(
        target=run(lambda: _run_to_memory(sized_df, "t_race_sized_out", "update", partitions=1)),
        name="sized",
    )
    other = threading.Thread(target=run(unsized), name="unsized")
    sized.start()
    other.start()
    sized.join(120)
    other.join(120)
    assert not sized.is_alive() and not other.is_alive()
    assert not errors, errors
    assert parts == {"t_race_sized_out": 1, "t_race_unsized_out": default}
    assert read["keys"] == default
    assert spark.conf.get("spark.sql.shuffle.partitions") == str(default)


def test_default_driver_memory_fits_physical_memory(monkeypatch):
    """The default heap is the smaller of 16g and half of physical memory:
    a 16g heap on a 15 GB host got the JVM OOM-killed at sf1. Spark-free:
    only os.sysconf is faked."""
    import os

    from parquet_storage_query_spark.session import _default_driver_memory

    page = 4096

    def heap_bytes(phys: int) -> int:
        sizes = {"SC_PHYS_PAGES": phys // page, "SC_PAGE_SIZE": page}
        monkeypatch.setattr(os, "sysconf", lambda name: sizes[name])
        mem = _default_driver_memory()
        assert mem.endswith("m"), mem
        return int(mem[:-1]) << 20

    gib = 1 << 30
    for phys in (2 * gib, 8 * gib, 15 * gib, 31 * gib, 32 * gib, 64 * gib, 512 * gib):
        assert heap_bytes(phys) <= phys // 2
    assert heap_bytes(15 * gib) == 15 * gib // 2
    assert heap_bytes(64 * gib) == 16 * gib
    assert heap_bytes(512 * gib) == 16 * gib
