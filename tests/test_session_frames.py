"""Session-held intermediates have one way to be materialized:
`cache.session_frame`.

1. No eager `localCheckpoint` sits inside a `session_memo` build or a
   `@prepared` builder, or inside a helper defined in the same function
   that such a build calls, anywhere in the package except `cache.py`, so
   the materialization policy lives in one function. Per-query
   checkpoints (reached by no memo) and per-round checkpoints of
   iterative loops stay direct calls. Module-level helpers are not
   followed; the ones whose checkpoints a memoized plan keeps are listed
   in `cache.session_frame`'s docstring.
2. `session_frame` builds once under concurrent callers, returns an
   already-materialized frame, and a memo hit launches no Spark job.
"""

from __future__ import annotations

import ast
import threading
from pathlib import Path

PACKAGE = Path(__file__).resolve().parent.parent / "parquet_storage_query_spark"


def _name(func: ast.expr) -> str | None:
    return func.attr if isinstance(func, ast.Attribute) else getattr(func, "id", None)


def _is_eager_checkpoint(node: ast.AST) -> bool:
    return (
        isinstance(node, ast.Call)
        and _name(node.func) == "localCheckpoint"
        and any(
            k.arg == "eager" and getattr(k.value, "value", None) is True
            for k in node.keywords
        )
    )


def _defs_in(body: list[ast.stmt]) -> dict[str, ast.FunctionDef]:
    """Functions defined in a scope's body, not inside nested functions."""
    out, stack = {}, list(body)
    while stack:
        n = stack.pop()
        if isinstance(n, ast.FunctionDef):
            out[n.name] = n
        elif not isinstance(n, (ast.Lambda, ast.ClassDef)):
            stack.extend(ast.iter_child_nodes(n))
    return out


def _memo_builds(tree: ast.Module) -> list[tuple[ast.AST, dict[str, ast.FunctionDef]]]:
    """Every `@prepared` builder and every `session_memo` build (a lambda,
    or a function named in scope), with the functions defined in its
    enclosing function bodies (module-level helpers are not followed)."""
    found: list[tuple[ast.AST, dict[str, ast.FunctionDef]]] = []

    def visit(node: ast.AST, scope: dict, local: dict) -> None:
        if isinstance(node, (ast.Module, ast.FunctionDef)):
            scope = {**scope, **_defs_in(node.body)}
        if isinstance(node, ast.FunctionDef):
            local = {**local, **_defs_in(node.body)}
        if isinstance(node, ast.FunctionDef) and any(
            isinstance(d, ast.Call) and _name(d.func) == "prepared"
            for d in node.decorator_list
        ):
            found.append((node, local))
        if isinstance(node, ast.Call) and _name(node.func) == "session_memo":
            build = (node.args[3:4] or [k.value for k in node.keywords if k.arg == "build"])[0]
            if isinstance(build, ast.Lambda):
                found.append((build, local))
            elif isinstance(build, ast.Name) and build.id in scope:
                found.append((scope[build.id], local))
        for child in ast.iter_child_nodes(node):
            visit(child, scope, local)

    visit(tree, {}, {})
    return found


def _reached(build: ast.AST, local: dict[str, ast.FunctionDef]) -> list[ast.AST]:
    """The nodes of `build` and of every local function it calls,
    transitively: the memoized result keeps what those helpers checkpoint."""
    nodes, todo, seen = [], [build], set()
    while todo:
        for n in ast.walk(todo.pop()):
            nodes.append(n)
            if isinstance(n, ast.Call) and isinstance(n.func, ast.Name):
                fn = local.get(n.func.id)
                if fn is not None and fn not in seen:
                    seen.add(fn)
                    todo.append(fn)
    return nodes


def session_held_checkpoints(root: Path = PACKAGE) -> list[str]:
    sites = set()
    for path in sorted(root.rglob("*.py")):
        if path.name == "cache.py":
            continue
        for build, local in _memo_builds(ast.parse(path.read_text())):
            sites |= {
                f"{path.relative_to(root)}:{n.lineno}"
                for n in _reached(build, local)
                if _is_eager_checkpoint(n)
            }
    return sorted(sites)


def test_no_session_held_checkpoint_outside_cache():
    sites = session_held_checkpoints()
    assert sites == [], f"route these through cache.session_frame: {sites}"


def test_guard_sees_each_kind_of_memo_build(tmp_path):
    """The walker must catch all three shapes and the helpers they call,
    or the guard above passes vacuously; a per-query checkpoint outside
    any memo is not flagged."""
    (tmp_path / "m.py").write_text(
        "@prepared('q')\n"
        "def a(spark, sf):\n"
        "    return df.localCheckpoint(eager=True)\n"
        "def b(spark, sf):\n"
        "    return session_memo(spark, sf, 't', lambda: df.localCheckpoint(eager=True))\n"
        "def c(spark, sf):\n"
        "    def build():\n"
        "        return df.localCheckpoint(eager=True)\n"
        "    return session_memo(spark, sf, 't', build)\n"
        "def d(spark, sf):\n"
        "    return df.localCheckpoint(eager=True)\n"
        "def e(spark, sf):\n"
        "    def labels():\n"
        "        return df.localCheckpoint(eager=True)\n"
        "    return session_memo(spark, sf, 't', lambda: labels().join(d(spark, sf)))\n"
    )
    # e's nested helper is flagged; the module-level d it calls is not
    assert session_held_checkpoints(tmp_path) == ["m.py:14", "m.py:3", "m.py:5", "m.py:8"]


def test_session_frame_builds_once_materialized(spark):
    from parquet_storage_query_spark.cache import session_frame

    sc = spark.sparkContext
    sf_dir, tag = "session_frame_test", "frame"
    builds = []

    def build():
        builds.append(1)
        return spark.range(1000).selectExpr("id", "id * 2 AS twice")

    got = [None] * 4
    start = threading.Barrier(4, timeout=60)

    def call(i: int) -> None:
        sc.setJobGroup("session_frame_first", "first call")
        start.wait()
        got[i] = session_frame(spark, sf_dir, tag, build)

    threads = [threading.Thread(target=call, args=(i,)) for i in range(4)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=120)
        assert not t.is_alive()
    assert len(builds) == 1
    assert all(df is got[0] for df in got)
    # materialized at build time: a job ran, and the plan is a scan of
    # the checkpointed blocks, not the Range it was built from
    assert sc.statusTracker().getJobIdsForGroup("session_frame_first")
    analyzed = got[0]._jdf.queryExecution().analyzed().toString()
    assert "LogicalRDD" in analyzed and "Range" not in analyzed, analyzed

    sc.setJobGroup("session_frame_second", "second call")
    try:
        again = session_frame(spark, sf_dir, tag, build)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert again is got[0]
    assert len(builds) == 1
    assert sc.statusTracker().getJobIdsForGroup("session_frame_second") == []
