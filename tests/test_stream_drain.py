"""Every stream runs through one drain path: `streaming.windows.drain_stream`.

1. On a vanilla session (the driver's shape: no engine defaults), a
   registered stream still matches its oracle, and afterwards the session
   checkpoints through Hadoop's FileSystem API. A session that already
   names a checkpoint manager keeps it.
2. Inside the package, only `drain_stream` starts a stream writer or
   calls `processAllAvailable()`, so the checkpoint manager and the
   state-partition sizing reach every stream the engine starts.
"""

from __future__ import annotations

import ast
from pathlib import Path

from parquet_storage_query_spark.catalog import (
    CHECKPOINT_MANAGER_CONF,
    FS_CHECKPOINT_MANAGER,
)
from parquet_storage_query_spark.fingerprint import (
    oracle_connection,
    oracle_result,
    result_fingerprint,
    spark_result,
)
from parquet_storage_query_spark.registry import all_queries
from parquet_storage_query_spark.streaming.windows import drain_stream

from .conftest import SF_SMOKE

PACKAGE = Path(__file__).resolve().parent.parent / "parquet_storage_query_spark"
DRAIN = ("streaming/windows.py", "drain_stream")


def test_stream_on_vanilla_session_checkpoints_through_filesystem(spark):
    vanilla = spark.newSession()
    assert vanilla.conf.get(CHECKPOINT_MANAGER_CONF, None) is None
    qd = all_queries()["stream_time_filter_count"]
    scols, srows = spark_result(qd.builder(vanilla, SF_SMOKE), False)
    with oracle_connection(SF_SMOKE) as con:
        ocols, orows = oracle_result(con, SF_SMOKE, qd.oracle, False)
    assert result_fingerprint(scols, srows) == result_fingerprint(ocols, orows)
    assert vanilla.conf.get(CHECKPOINT_MANAGER_CONF) == FS_CHECKPOINT_MANAGER


def test_named_checkpoint_manager_is_kept(spark, tmp_path):
    named = (
        "org.apache.spark.sql.execution.streaming.checkpointing."
        "FileContextBasedCheckpointFileManager"
    )
    session = spark.newSession()
    session.conf.set(CHECKPOINT_MANAGER_CONF, named)
    src = str(tmp_path / "src")
    session.range(5).write.parquet(src)
    stream = session.readStream.schema("id long").parquet(src)
    drain_stream(stream.writeStream.format("memory").queryName("t_named_mgr_out"))
    assert session.table("t_named_mgr_out").count() == 5
    assert session.conf.get(CHECKPOINT_MANAGER_CONF) == named


def _name(func: ast.expr) -> str | None:
    return func.attr if isinstance(func, ast.Attribute) else getattr(func, "id", None)


def _mentions_write_stream(node: ast.AST) -> bool:
    return any(
        isinstance(n, ast.Attribute) and n.attr == "writeStream" for n in ast.walk(node)
    )


def stream_drain_sites(root: Path = PACKAGE) -> list[str]:
    """Calls outside `drain_stream` that start a stream writer (`.start()`
    on a `writeStream` chain, or on a name bound to one) or call
    `processAllAvailable()`."""
    sites = []
    for path in sorted(root.rglob("*.py")):
        rel = path.relative_to(root).as_posix()
        tree = ast.parse(path.read_text())
        writers = {
            t.id
            for n in ast.walk(tree)
            if isinstance(n, ast.Assign) and _mentions_write_stream(n.value)
            for t in n.targets
            if isinstance(t, ast.Name)
        }
        allowed = {
            id(n)
            for fn in ast.walk(tree)
            if isinstance(fn, ast.FunctionDef) and (rel, fn.name) == DRAIN
            for n in ast.walk(fn)
        }
        for n in ast.walk(tree):
            if not isinstance(n, ast.Call) or id(n) in allowed:
                continue
            name = _name(n.func)
            starts = name == "start" and isinstance(n.func, ast.Attribute) and (
                _mentions_write_stream(n.func.value)
                or (isinstance(n.func.value, ast.Name) and n.func.value.id in writers)
            )
            if starts or name == "processAllAvailable":
                sites.append(f"{rel}:{n.lineno}")
    return sorted(sites)


def test_only_drain_stream_starts_streams():
    sites = stream_drain_sites()
    assert sites == [], f"run these streams through drain_stream: {sites}"


def test_drain_guard_sees_each_start_shape(tmp_path):
    """The walker must catch a chained start, a start on a bound writer and
    a bare drain, or the guard above passes vacuously; a thread start is
    not a stream start."""
    (tmp_path / "m.py").write_text(
        "def a(df):\n"
        "    q = df.writeStream.format('memory').start()\n"
        "def b(df):\n"
        "    w = df.writeStream.format('memory')\n"
        "    q = w.start()\n"
        "    q.processAllAvailable()\n"
        "def c(t):\n"
        "    t.start()\n"
    )
    assert stream_drain_sites(tmp_path) == ["m.py:2", "m.py:5", "m.py:6"]
