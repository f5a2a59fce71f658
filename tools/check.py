"""Local emulation of the driver's correctness gate.

Runs every registered query on Spark at the given sf_dir AND its DuckDB
oracle on the same parquet files (a table may be one file or a folder of
them), then compares row count, sorted column names, and an
order-insensitive value hash, all through the package's fingerprint.py.
Stricter than tolerant — if this passes, the driver's CORRECTNESS check
should too.

Usage: python tools/check.py [--threads N] [--pandas] [sf_dir] [query ...]

`--threads N` fans the SPARK side across N concurrent threads of one
session before the sequential oracle comparison — the emulation of a
harness that runs registered queries in parallel. This is the one mode
that could reproduce the CORRECTNESS_r05 artifact-corruption signature
pre-round-6 (concurrent overwrite of a shared artifact dir); with the
committed-artifact protocol it must stay green.

`--pandas` fetches BOTH engines' results through their pandas paths
(Spark `toPandas()`, DuckDB `.df()`) instead of collect()/fetchall().
This is the ROUND-7 DISCOVERY mode: a driver that fetches via pandas
sees DuckDB HUGEINT (the implicit result type of SUM(BIGINT)) and
DECIMAL columns as float64 while Spark's BIGINT stays int64 — "42.0"
vs "42" — a hash mismatch invisible to every fetchall()-based
emulation. All 20 CORRECTNESS_r06 hash-reds, and ONLY those among the
sampled queries, had a HUGEINT/DECIMAL oracle output column. A query
is done only when it passes this gate in BOTH fetch modes.
"""

from __future__ import annotations

import sys
import time
from pathlib import Path

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


def main() -> int:
    # order-insensitive flag parsing: `--pandas --threads 4` and
    # `--threads 4 --pandas` must both compose (ADVICE r7: the old
    # positional loop silently consumed --pandas as the sf_dir)
    import argparse

    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--threads", type=int, default=0)
    ap.add_argument("--pandas", dest="use_pandas", action="store_true")
    ap.add_argument("sf_dir", nargs="?", default="/root/testdata/sf0.01")
    ap.add_argument("queries", nargs="*")
    ns = ap.parse_args()
    use_pandas, sf_dir, only = ns.use_pandas, ns.sf_dir, set(ns.queries)
    require_known(only)
    spark = get_spark("check")
    con = oracle_connection(sf_dir)
    qs = all_queries()
    todo = [n for n in sorted(qs) if not only or n in only]

    def run_spark(name: str) -> tuple[list[str], list[tuple]] | Exception:
        try:
            return spark_result(qs[name].builder(spark, sf_dir), use_pandas)
        except Exception as e:  # noqa: BLE001
            return e

    ahead: dict[str, tuple[list[str], list[tuple]] | Exception] = {}
    if ns.threads:
        # concurrent-driver emulation: run every Spark side first, N-wide
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(max_workers=ns.threads) as pool:
            ahead = dict(zip(todo, pool.map(run_spark, todo)))

    failures, passed, rows_only = [], 0, 0
    for name in todo:
        qd = qs[name]
        t0 = time.perf_counter()
        got = ahead[name] if ns.threads else run_spark(name)
        if isinstance(got, Exception):
            failures.append((name, f"SPARK ERROR: {got}"))
            print(f"FAIL  {name}: spark error: {str(got)[:300]}")
            continue
        scols, srows = got
        if qd.oracle is None:
            rows_only += 1
            print(f"rows  {name}: {len(srows)} rows ({time.perf_counter()-t0:.1f}s) [no oracle]")
            continue
        try:
            ocols, orows = oracle_result(con, sf_dir, qd.oracle, use_pandas)
        except Exception as e:  # noqa: BLE001
            failures.append((name, f"DUCKDB ERROR: {e}"))
            print(f"FAIL  {name}: duckdb error: {str(e)[:300]}")
            continue
        sfp = result_fingerprint(scols, srows)
        ofp = result_fingerprint(ocols, orows)
        if sfp == ofp:
            passed += 1
            print(f"ok    {name}: {sfp[0]} rows ({time.perf_counter()-t0:.1f}s)")
        else:
            failures.append((name, "mismatch"))
            print(f"FAIL  {name}: spark={sfp[0]} rows cols={sfp[1]} hash={sfp[2][:8]}")
            print(f"      oracle={ofp[0]} rows cols={ofp[1]} hash={ofp[2][:8]}")
            if sfp[1] != ofp[1]:
                print("      COLUMN MISMATCH")
            elif sfp[0] == ofp[0]:
                sl, ol = set(canon_lines(scols, srows)), set(canon_lines(ocols, orows))
                for d in sorted(sl - ol)[:3]:
                    print(f"      spark-only : {d[:200]}")
                for d in sorted(ol - sl)[:3]:
                    print(f"      oracle-only: {d[:200]}")
    print(f"\n{passed} ok, {rows_only} rows-only, {len(failures)} failed")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
