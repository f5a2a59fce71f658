"""Profile streaming queries: wrap streaming.windows._run_to_memory to
capture every StreamingQueryProgress (durationMs breakdown + state-store
metrics) while running the registered query end-to-end.

Usage: python tools/profile_streaming.py <sf_dir> <query> [query ...]
       [--conf k=v ...]   extra session conf (e.g. RocksDB provider A/B)
"""
from __future__ import annotations

import json
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))


def split_args(argv: list[str]) -> tuple[list[str], dict[str, str]]:
    """Positional arguments, and the `k=v` value after each `--conf`."""
    args: list[str] = []
    confs: dict[str, str] = {}
    it = iter(argv)
    for a in it:
        if a == "--conf":
            k, _, v = next(it, "").partition("=")
            if k:
                confs[k] = v
        else:
            args.append(a)
    return args, confs


def main() -> None:
    args, confs = split_args(sys.argv[1:])
    sf_dir = args[0]
    names = args[1:]

    import tempfile
    import os
    import shutil

    idx = tempfile.mkdtemp(prefix="profile_stream_idx_")
    os.environ["SPARK_GRAFT_INDEX_DIR"] = idx
    import atexit

    atexit.register(lambda: shutil.rmtree(idx, ignore_errors=True))

    from parquet_storage_query_spark.registry import all_queries
    from parquet_storage_query_spark.session import get_spark
    from parquet_storage_query_spark.streaming import windows as W

    progresses: list[dict] = []
    orig = W._run_to_memory

    import pyspark.sql.streaming.query as _sq

    _orig_stop = _sq.StreamingQuery.stop

    def _capturing_stop(self):
        try:
            for p in self.recentProgress:
                progresses.append(p if isinstance(p, dict) else json.loads(p.json))
        except Exception:
            pass
        return _orig_stop(self)

    _sq.StreamingQuery.stop = _capturing_stop

    def wrapped(df, name, mode, partitions=None):
        return orig(df, name, mode, partitions)

    W._run_to_memory = wrapped
    # some operators import _run_to_memory by name at call time via
    # `from .windows import _run_to_memory` INSIDE the function body, so
    # patching the module attribute covers them all.

    spark = get_spark("profile_streaming", extra_conf=confs or None)
    qs = all_queries()
    spark.range(1).count()

    for name in names:
        progresses.clear()
        t0 = time.perf_counter()
        df = qs[name].builder(spark, sf_dir)
        n = df._jdf.queryExecution().toRdd().count()
        wall = time.perf_counter() - t0
        print(f"\n=== {name}: {wall:.3f}s total, {n} rows, "
              f"{len(progresses)} progress events ===")
        for p in progresses:
            dur = p.get("durationMs", {})
            so = p.get("stateOperators", [])
            st = ""
            if so:
                s0 = so[0]
                st = (f" state[commitMs={s0.get('commitTimeMs')} keys={s0.get('numRowsTotal')}"
                      f" upd={s0.get('numRowsUpdated')} mem={s0.get('memoryUsedBytes')}"
                      f" parts={s0.get('numShufflePartitions')}]")
            print(f"  batch {p.get('batchId')}: rows={p.get('numInputRows')}"
                  f" trigger={dur.get('triggerExecution')}ms"
                  f" addBatch={dur.get('addBatch')}ms"
                  f" getBatch={dur.get('getBatch')}ms"
                  f" latestOffset={dur.get('latestOffset')}ms"
                  f" queryPlanning={dur.get('queryPlanning')}ms"
                  f" commitOffsets={dur.get('commitOffsets')}ms"
                  f" walCommit={dur.get('walCommit')}ms" + st)


if __name__ == "__main__":
    main()
