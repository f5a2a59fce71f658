"""Session/streaming tuning regression guards (r12).

1. The py4j TCP_NODELAY patch (r11's broadest win: every Column/DataFrame
   call is a tiny write-read ping-pong that Nagle+delayed-ACK stalls) must
   stay applied — a py4j upgrade that renames the patched methods would
   silently revert it.
2. The stream state-partition sizing helper must stay data-derived (key
   domain / backlog bytes), honor the env override, and actually reach the
   started streaming query's cloned conf, without leaking into a stream
   started concurrently on another thread.
"""

from __future__ import annotations

import socket

from parquet_storage_query_spark.streaming.windows import (
    _local_dir_bytes,
    _run_to_memory,
    _state_partitions,
)


def test_py4j_nodelay_patch_applied(spark):
    # the class patch marks the wrapped methods; assert it took
    from py4j.clientserver import ClientServerConnection

    assert getattr(
        ClientServerConnection.connect_to_java_server, "_nodelay_wrapped", False
    ), "py4j NODELAY class patch missing (py4j upgrade renamed the method?)"
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


def test_run_to_memory_partitions_reach_query_and_conf_restored(spark, tmp_path):
    import json

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
    captured = {}
    import pyspark.sql.streaming.query as _sq

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
        import time

        # rate source ticks in wall time: give it a moment to emit rows
        # before processAllAvailable drains (an empty batch still commits
        # state and reports numShufflePartitions, so no flake either way)
        time.sleep(2)
        _run_to_memory(df, "t_state_parts_out", "update", partitions=2)
    finally:
        _sq.StreamingQuery.stop = orig_stop
    assert captured.get("parts") == 2
    assert spark.conf.get("spark.sql.shuffle.partitions") == prev


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
