"""Per-cell diagnostic dump for driver-hash divergences.

CORRECTNESS_r05 recorded 7 hash mismatches that no local emulation could
reproduce (values, types, and hashes identical under 4 replay modes —
VERDICT r5). If a divergence ever recurs, this tool makes it diagnosable
from a transcript: for each named query it prints, side by side, every
cell of the Spark result and the DuckDB oracle result with its PYTHON
TYPE and exact repr, in the fingerprint's canonical order, plus the
normalized line actually hashed. A differing cell is then visible as
text instead of an opaque hash bit.

Usage: python tools/dump_cells.py [sf_dir] query [query ...]
"""

from __future__ import annotations

import sys
from pathlib import Path

import duckdb

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from parquet_storage_query_spark.fingerprint import (
    canon_lines,
    oracle_connection,
    oracle_result,
    result_fingerprint,
    spark_result,
)
from parquet_storage_query_spark.registry import all_queries, require_known
from parquet_storage_query_spark.session import get_spark

MAX_ROWS = 40  # full dump cap per engine; beyond it only differing lines print


def typed_row(cols: list[str], row: tuple) -> str:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return "  ".join(f"{cols[i]}=<{type(row[i]).__name__}>{row[i]!r}" for i in order)


def main() -> int:
    args = sys.argv[1:]
    sf_dir = "/root/testdata/sf0.01"
    if args and "/" in args[0]:
        sf_dir, args = args[0], args[1:]
    if not args:
        print(__doc__)
        return 2
    require_known(args)
    qs = all_queries()
    spark = get_spark("dump_cells")
    con = oracle_connection(sf_dir)
    print(f"duckdb={duckdb.__version__}  spark={spark.version}  sf_dir={sf_dir}")
    for name in args:
        qd = qs[name]
        print(f"\n=== {name} ===")
        scols, srows = spark_result(qd.builder(spark, sf_dir))
        sfp = result_fingerprint(scols, srows)
        print(f"spark : rows={sfp[0]} cols={sfp[1]} hash={sfp[2]}")
        if qd.oracle is None:
            print("(no oracle)")
            continue
        ocols, orows = oracle_result(con, sf_dir, qd.oracle)
        ofp = result_fingerprint(ocols, orows)
        print(f"duckdb: rows={ofp[0]} cols={ofp[1]} hash={ofp[2]}")
        print(f"match : {sfp == ofp}")
        sl, ol = canon_lines(scols, srows), canon_lines(ocols, orows)
        if len(srows) <= MAX_ROWS:
            for r in sorted(srows, key=lambda r: canon_lines(scols, [r])[0]):
                print(f"  S {typed_row(scols, r)}")
            for r in sorted(orows, key=lambda r: canon_lines(ocols, [r])[0]):
                print(f"  D {typed_row(ocols, r)}")
        for line in sorted(set(sl) - set(ol))[:10]:
            print(f"  spark-only  : {line}")
        for line in sorted(set(ol) - set(sl))[:10]:
            print(f"  duckdb-only : {line}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
