"""Dual-engine result check (reference D6: QueryOrchestration.cs:371-401
runs storage + ADX back-to-back; here Spark + DuckDB results reduce to
(row count, sorted column names, order-insensitive value hash)).

ONE implementation that every checker calls (tools/, runner.py's
differential mode, the tests) — round 1 carried two copies whose drift
masked a real divergence (ADVICE r1: runner's norm lacked the isfinite
guard; check.py's canonicalized int-valued floats, hiding the
prep_binpack_plan HUGEINT mismatch the driver caught). `oracle_connection`
sets up the DuckDB side, `spark_result` / `oracle_result` fetch either
engine in either mode, and `canon_lines` is the rendering that
`result_fingerprint` hashes and the diff printers print.

STRICT float rendering: int-valued floats keep their ".0" — the driver
renders a float64 cell as "149174.0" while Spark's BIGINT renders
"149174", so an engine type divergence must fingerprint differently here
too (the oracle then needs a CAST, not the comparator a pardon).
"""

from __future__ import annotations

import hashlib
import math
import os

from .catalog import TABLES, table_path
from .registry import resolve_oracle


def norm_cell(v) -> str:
    if v is None:
        return "∅"
    if isinstance(v, bool):
        return str(bool(v)).lower()
    if isinstance(v, float):
        if not math.isfinite(v):  # int(v)/repr paths must not raise on nan/inf
            return repr(v)
        if v == 0.0:  # fold -0.0 into 0.0 (same value on both engines)
            return "0.0"
        return repr(v)
    if isinstance(v, list):
        return "[" + ",".join(norm_cell(x) for x in v) + "]"
    return str(v)


def canon_lines(cols: list[str], rows: list[tuple]) -> list[str]:
    """Each row's cells in sorted-column order, rendered and sorted."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted("|".join(norm_cell(r[i]) for i in order) for r in rows)


def result_fingerprint(cols: list[str], rows: list[tuple]) -> tuple[int, tuple[str, ...], str]:
    h = hashlib.md5("\n".join(canon_lines(cols, rows)).encode()).hexdigest()
    return len(rows), tuple(sorted(cols)), h


def oracle_connection(sf_dir: str):
    """A DuckDB connection with one view per corpus table present under
    `sf_dir`. A table stored as a folder reads through its `*.parquet`
    glob, so a folder of many files reads the same as a single file."""
    import duckdb

    con = duckdb.connect()
    for t in TABLES:
        path = table_path(sf_dir, t)
        if os.path.isdir(path):
            path = os.path.join(path, "*.parquet")
        elif not os.path.exists(path):
            continue
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    return con


def oracle_query(sf_dir: str, oracle: str) -> str:
    """The oracle SQL for `sf_dir`: literal `'{sf_dir}/<t>.parquet'` file
    references to a folder table read its glob, as the views do."""
    for t in TABLES:
        if os.path.isdir(table_path(sf_dir, t)):
            oracle = oracle.replace(f"{{sf_dir}}/{t}.parquet'", f"{{sf_dir}}/{t}.parquet/*.parquet'")
    return resolve_oracle(oracle, sf_dir)


def pandas_rows(pdf) -> list[tuple]:
    """Render a pandas frame the way a repr-based comparator would see it:
    numpy scalars keep their dtype identity (str(np.float64(42.0)) ==
    '42.0'), so int64-vs-float64 engine divergence must fingerprint
    differently here — that is the point of the pandas mode."""
    return [tuple(r) for r in pdf.itertuples(index=False, name=None)]


def spark_result(sdf, pandas: bool = False) -> tuple[list[str], list[tuple]]:
    if pandas:
        return sdf.columns, pandas_rows(sdf.toPandas())
    return sdf.columns, [tuple(r) for r in sdf.collect()]


def oracle_result(con, sf_dir: str, oracle: str, pandas: bool = False) -> tuple[list[str], list[tuple]]:
    sql = oracle_query(sf_dir, oracle)
    if pandas:
        pdf = con.sql(sql).df()
        return list(pdf.columns), pandas_rows(pdf)
    cur = con.execute(sql)
    return [d[0] for d in cur.description], cur.fetchall()
