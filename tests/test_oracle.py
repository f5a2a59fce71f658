"""Queries are checked against their DuckDB oracles one way:
`parquet_storage_query_spark/fingerprint.py`.

1. Only `fingerprint.oracle_connection` creates DuckDB views over corpus
   parquet, anywhere in the package, `tools/` or `tests/` (`perfbench/`
   keeps its own oracle), so every checker reads the same tables.
2. That one setup reads a table stored as a folder of parquet files, and
   rewrites the oracles' literal `'{sf_dir}/<t>.parquet'` references to the
   folder's glob: the reference queries match on a 4-file micros folder
   and on a 4-file TIMESTAMP(NANOS) folder, in both fetch modes.
3. `FINGERPRINTS.json` pins the head of the registry: its keys are the
   first 60 registered queries (`tools/dump_fingerprints.py 60`).
"""

from __future__ import annotations

import ast
import json
import re
from pathlib import Path

import pytest

from parquet_storage_query_spark.fingerprint import (
    oracle_connection,
    oracle_result,
    result_fingerprint,
    spark_result,
)
from parquet_storage_query_spark.registry import all_queries

REPO = Path(__file__).resolve().parent.parent
ROOTS = ("parquet_storage_query_spark", "tools", "tests")
ALLOWED = REPO / "parquet_storage_query_spark" / "fingerprint.py"
_CREATE_VIEW = re.compile(r"\bCREATE\s+(OR\s+REPLACE\s+)?(TEMP(ORARY)?\s+)?VIEW\b", re.I)


def _name(func: ast.expr) -> str | None:
    return func.attr if isinstance(func, ast.Attribute) else getattr(func, "id", None)


def _calls(node: ast.AST, *names: str) -> bool:
    return any(isinstance(n, ast.Call) and _name(n.func) in names for n in ast.walk(node))


def _is_corpus_view(node: ast.AST) -> bool:
    """`con.execute/sql("CREATE VIEW ... read_parquet(...)")` (or an
    f-string over `table_path(...)`), or `<read_parquet relation>.create_view`."""
    if not isinstance(node, ast.Call):
        return False
    if _name(node.func) == "create_view":
        return isinstance(node.func, ast.Attribute) and _calls(node.func.value, "read_parquet", "from_parquet")
    if _name(node.func) not in ("execute", "sql") or not node.args:
        return False
    stmt = node.args[0]
    text = "".join(
        n.value for n in ast.walk(stmt) if isinstance(n, ast.Constant) and isinstance(n.value, str)
    )
    over_parquet = re.search(r"read_parquet|parquet_scan", text, re.I) or _calls(stmt, "table_path")
    return bool(_CREATE_VIEW.search(text) and over_parquet)


def corpus_view_sites(paths: list[Path]) -> list[str]:
    return sorted(
        f"{path.relative_to(REPO) if path.is_relative_to(REPO) else path.name}:{n.lineno}"
        for path in paths
        for n in ast.walk(ast.parse(path.read_text()))
        if _is_corpus_view(n)
    )


def test_only_fingerprint_creates_oracle_views():
    paths = [p for root in ROOTS for p in sorted((REPO / root).rglob("*.py")) if p != ALLOWED]
    sites = corpus_view_sites(paths)
    assert sites == [], f"use fingerprint.oracle_connection instead: {sites}"


def test_fingerprints_file_covers_registry_head():
    pinned = json.loads((REPO / "FINGERPRINTS.json").read_text())
    assert set(pinned) == set(list(all_queries())[:60])


def test_guard_sees_each_way_to_create_a_view(tmp_path):
    """The walker catches the view setups the checkers used to copy, and
    the one in fingerprint.py, or the guard above passes vacuously."""
    m = tmp_path / "m.py"
    m.write_text(
        "for t in TABLES:\n"
        "    con.execute(f\"CREATE VIEW {t} AS SELECT * FROM read_parquet('{table_path(d, t)}')\")\n"
        "con.execute(f'create or replace temp view {t} as select * from {table_path(d, t)}')\n"
        "con.read_parquet(path).create_view('events')\n"
        "con.execute(resolve_oracle(sql, d))\n"
        "con.execute(f'CREATE TABLE {t} AS SELECT * FROM {src}')\n"
        "df.createOrReplaceTempView('orders_v')\n"
    )
    assert corpus_view_sites([m]) == ["m.py:2", "m.py:3", "m.py:4"]
    assert len(corpus_view_sites([ALLOWED])) == 1


REF_QUERIES = ["ref_total_count", "ref_time_filter_count", "ref_min_max", "ref_per_file_counts"]


@pytest.fixture(scope="module")
def nanos_folder_corpus(tmp_path_factory) -> str:
    """`events` only, as the benchmark writes it: a folder of 4 files with
    `ts` stored as TIMESTAMP(NANOS)."""
    from perfbench.gen import write_corpus

    dest = str(tmp_path_factory.mktemp("nanos_corpus"))
    write_corpus(dest, 0.001, 7, {"events": 4}, only=("events",))
    return dest


@pytest.mark.parametrize("pandas", [False, True], ids=["collect", "pandas"])
@pytest.mark.parametrize("corpus", ["folder_corpus", "nanos_folder_corpus"])
@pytest.mark.parametrize("name", REF_QUERIES)
def test_reference_queries_match_oracle_on_folder_corpus(name, corpus, pandas, spark, request):
    sf_dir = request.getfixturevalue(corpus)
    qd = all_queries()[name]
    scols, srows = spark_result(qd.builder(spark, sf_dir), pandas)
    with oracle_connection(sf_dir) as con:
        ocols, orows = oracle_result(con, sf_dir, qd.oracle, pandas)
    assert result_fingerprint(scols, srows) == result_fingerprint(ocols, orows)
    if name == "ref_per_file_counts":
        assert len(srows) == 4
