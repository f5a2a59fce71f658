"""Cross-engine output-type audit — the round-7 root-cause gate.

CORRECTNESS_r04-r06 carried hash-red rows (rows/schema green) that no
fetchall()-based emulation could reproduce. Root cause, found round 7:
DuckDB's implicit widening types — SUM(BIGINT) -> HUGEINT,
SUM(DECIMAL(18,2)) -> DECIMAL(38,2) — convert to float64 under the
pandas fetch path (`.df()`), while Spark's BIGINT stays int64. A driver
that compares pandas-fetched cells sees "42.0" vs "42": hash mismatch,
rows and schema matching. All 20 r6 reds, and only those among the 49
checkable sampled queries, had a HUGEINT/DECIMAL oracle column;
`scalar_decimal_money` flipped green in r6 exactly when its DECIMAL
output became BIGINT.

This audit makes the class structurally impossible to reintroduce:

1. No oracle output column may be HUGEINT / UHUGEINT / DECIMAL, nor
   plain DATE (DuckDB DATE renders datetime64 "YYYY-MM-DD 00:00:00"
   under .df() but datetime.date "YYYY-MM-DD" under fetchall; Spark's
   DateType flips the same way with Arrow on/off — ISO strings are the
   only rendering stable across every fetch path).
2. For every (spark, oracle) column pair, the PANDAS dtypes must agree
   on a family (integer / float / object / bool / datetime) — pandas
   dtype, not logical type, because that is what a pandas-fetching
   comparator renders.

Usage: python tools/type_audit.py [sf_dir] [query ...]
Exit 0 = clean. Run by pytest (tests/test_type_audit.py) at sf0.001.
"""

from __future__ import annotations

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from parquet_storage_query_spark.fingerprint import oracle_connection, oracle_query
from parquet_storage_query_spark.registry import all_queries, require_known

BANNED_PREFIXES = ("HUGEINT", "UHUGEINT", "DECIMAL")

# The ONE deliberate exception: the fetch-path canary's oracle keeps its
# bare SUM (HUGEINT) BY DESIGN — a red driver row there is the round-7
# experiment working (operators/diagnostics.py outcome table).
EXEMPT = {"diag_hugeint_probe"}


def dtype_family(dt: str) -> str:
    if dt.startswith(("int", "uint")):
        return "int"
    if dt.startswith("float"):
        return "float"
    if dt.startswith("datetime"):
        return "datetime"
    if dt == "bool":
        return "bool"
    return "object"


def audit_oracle_types(sf_dir: str, only: set[str] | None = None) -> list[str]:
    """Gate 1: banned DuckDB result types, checked from the oracle alone
    (cheap — no Spark session needed)."""
    con = oracle_connection(sf_dir)
    problems: list[str] = []
    for name, qd in all_queries().items():
        if qd.oracle is None or (only and name not in only) or name in EXEMPT:
            continue
        try:
            rel = con.sql(oracle_query(sf_dir, qd.oracle))
        except Exception as e:  # noqa: BLE001
            problems.append(f"{name}: oracle error: {str(e)[:120]}")
            continue
        for col, typ in zip(rel.columns, rel.types):
            ts = str(typ).upper()
            if ts.startswith(BANNED_PREFIXES):
                problems.append(f"{name}: oracle column {col} is {typ} (pandas-fetch renders it float64)")
            elif ts == "DATE":
                problems.append(f"{name}: oracle column {col} is DATE (fetch-path-dependent rendering; emit an ISO string)")
    con.close()
    return problems


def audit_pandas_families(spark, sf_dir: str, only: set[str] | None = None) -> list[str]:
    """Gate 2: spark-vs-oracle pandas dtype families per column."""
    con = oracle_connection(sf_dir)
    problems: list[str] = []
    for name, qd in all_queries().items():
        if qd.oracle is None or (only and name not in only) or name in EXEMPT:
            continue
        try:
            spdf = qd.builder(spark, sf_dir).toPandas()
            opdf = con.sql(oracle_query(sf_dir, qd.oracle)).df()
        except Exception as e:  # noqa: BLE001
            problems.append(f"{name}: error: {str(e)[:120]}")
            continue
        sd = {c: dtype_family(str(t)) for c, t in spdf.dtypes.items()}
        od = {c: dtype_family(str(t)) for c, t in opdf.dtypes.items()}
        for col in sd:
            if col in od and sd[col] != od[col]:
                # int-vs-float is benign ONLY when caused by NULLs present on
                # both sides (both become float64 then) — which would make the
                # families EQUAL, so any inequality here is a real divergence.
                problems.append(
                    f"{name}: column {col} spark={sd[col]} oracle={od[col]}"
                )
    con.close()
    return problems


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    only = set(sys.argv[2:]) or None
    require_known(only or ())
    problems = audit_oracle_types(sf_dir, only)
    for p in problems:
        print("TYPE ", p)
    from parquet_storage_query_spark.session import get_spark

    spark = get_spark("type_audit")
    fam = audit_pandas_families(spark, sf_dir, only)
    for p in fam:
        print("FAMILY", p)
    total = len(problems) + len(fam)
    print(f"\n{total} type problems")
    return 1 if total else 0


if __name__ == "__main__":
    raise SystemExit(main())
