"""Benchmark entry point.

    python3 perfbench/run.py --workload serve_mix --seed 1 --seconds 20 --trace 0

Runs one workload of ``perfbench.workloads`` in one process against the
package in the checkout, on ``local[<cpus>]``, and prints one JSON line as
the last line of stdout: ``correct``, ``attempted``, ``failed`` and
``metrics``. ``--trace 0`` reports the end-to-end metrics of
``BENCHMARK.json``; ``--trace 1`` runs the loop untraced for half the
time, replays the same rounds traced, and reports the per-layer metrics.
Progress and the check log go to stderr. Everything the run writes is
under ``.perfbench_work/`` in the checkout and is removed at exit; an
untraced run keeps every op latency, a traced run its spans, in
``.perfbench_out/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
MB = 1024 * 1024


def _parse(argv: list[str]) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf", type=float, default=None, help="override the workload's scale factor")
    return ap.parse_args(argv)


def _committed(root: str) -> dict[str, int]:
    """Committed artifact directories under ``root`` and their bytes."""
    from parquet_storage_query_spark.cache import COMMIT_MARKER

    out = {}
    for dirpath, _dirs, files in os.walk(root):
        if COMMIT_MARKER in files:
            out[dirpath] = sum(
                os.path.getsize(os.path.join(dp, f)) for dp, _d, fs in os.walk(dirpath) for f in fs
            )
    return out


def end_to_end(stats, setup_s: float, peak_kb: int) -> dict:
    """Set-up time, memory, and the engine CPU seconds of the ops. Each
    op's CPU seconds are summarised by their median over the run's rounds,
    then averaged over the ops. Wall-time figures go to stderr only: on a
    shared host they move with the CPU time stolen from the machine."""
    from perfbench.harness import log
    from perfbench.stats import gmean, median, op_medians, tail

    n = len(stats.ops)
    cpu = op_medians(stats.ops, stats.cpu)
    wall = op_medians(stats.ops, stats.latencies)
    tail_v, tail_p, _ = tail(stats.latencies)
    log(f"wall: {n / sum(wall[op] for op in stats.ops):.3f} ops/s, op gmean {gmean(wall.values()):.4f}s, "
        f"pooled p50 {median(stats.latencies):.4f}s, p{tail_p:.1f} {tail_v:.4f}s of {n} samples")
    return {
        "setup_s": (setup_s, "s"),
        # every timed op at its median: the CPU cost of the mix per op
        "op_cpu_s": (sum(cpu[op] for op in stats.ops) / n, "s"),
        # every op weighs the same, short or long
        "op_cpu_gmean_s": (gmean(cpu.values()), "s"),
        "build_cpu_gmean_s": (gmean(op_medians(stats.cold_ops, stats.cold_cpu).values()), "s"),
        "peak_rss_mb": (peak_kb / 1024.0, "MB"),
    }


def per_layer(ctx, stats, wl, wall_untraced: float, wall_traced: float,
              session_s: float, memo_new: int, artifacts: dict) -> dict:
    from perfbench.stats import median
    from perfbench.tracing import self_times

    from parquet_storage_query_spark import catalog

    tr = ctx.tracer
    # a direct catalog.load per table of the workload, five times each
    load_s = []
    for sf_dir, table in wl.tables:
        for _ in range(5):
            with tr.span("op", op=f"catalog.load:{table}"), tr.span("catalog.load"):
                t0 = time.perf_counter()
                catalog.load(ctx.spark, sf_dir, table)
                load_s.append(time.perf_counter() - t0)
    c = tr.counters
    sm = tr.stream_metrics()
    selfs = self_times(tr.spans)
    p = stats.prep
    ops = len(stats.latencies) + stats.failed
    m = {
        "session.start_s": (session_s, "s"),
        "catalog.load_s": (median(load_s), "s"),
        "registry.builder_s": (tr.span_seconds("registry.builder"), "s"),
        "registry.builder_jobs": (c.builder_jobs, "count"),
        "operators.action_s": (tr.span_seconds("operators.action"), "s"),
        "operators.jobs": (c.jobs, "count"),
        "operators.stages": (c.stages, "count"),
        "operators.tasks": (c.tasks, "count"),
        "operators.task_run_s": (c.task_run_ms / 1000.0, "s"),
        "operators.input_mb": (c.input_bytes / MB, "MB"),
        "operators.shuffle_read_mb": (c.shuffle_read_bytes / MB, "MB"),
        "operators.shuffle_write_mb": (c.shuffle_write_bytes / MB, "MB"),
        "operators.spill_mb": (c.spill_bytes / MB, "MB"),
        "operators.gc_s": (c.gc_ms / 1000.0, "s"),
        "cache.memo_new": (memo_new, "count"),
        "cache.artifacts_committed": (len(artifacts), "count"),
        "cache.artifact_mb": (sum(artifacts.values()) / MB, "MB"),
        "prep.convert_s": (p["convert_s"], "s"),
        "prep.compact_s": (p["compact_s"], "s"),
        "prep.compact_grouped_s": (p["compact_grouped_s"], "s"),
        "prep.files_in": (p["files_in"], "count"),
        "prep.files_out": (p["files_out"], "count"),
        "prep.bytes_written_mb": (p["bytes_written"] / MB, "MB"),
        "prep.mb_per_s": (
            p["source_bytes"] / MB / (p["convert_s"] + p["compact_s"] + p["compact_grouped_s"])
            if p["source_bytes"] else 0.0, "MB/s"),
        "prep.bytes_stored_ratio": (
            p["compacted_bytes"] / p["compacted_source_bytes"] if p["compacted_source_bytes"] else 0.0,
            "ratio"),
        "streaming.batches": (sm["batches"], "count"),
        "streaming.batch_p50_ms": (sm["batch_p50_ms"], "ms"),
        "streaming.add_batch_ms": (sm["add_batch_ms"], "ms"),
        "streaming.commit_ms": (sm["commit_ms"], "ms"),
        "streaming.op_p50_s": (median(stats.stream_latencies) if stats.stream_latencies else 0.0, "s"),
        "check.fail_ratio": (stats.failed / ops if ops else 0.0, "ratio"),
        "trace.query_op_s": (tr.query_op_seconds(), "s"),
        "trace.op_self_s": (selfs.get("op", 0.0), "s"),
        "trace.status_read_s": (tr.span_seconds("trace.status_read"), "s"),
        "trace.overhead_pct": ((wall_traced / wall_untraced - 1.0) * 100.0, "%"),
    }
    return m


def main(argv: list[str]) -> int:
    args = _parse(argv)
    if not (ROOT / "parquet_storage_query_spark").is_dir():
        print(f"perfbench: no parquet_storage_query_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    work = ROOT / ".perfbench_work" / f"{args.workload}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    os.environ["TMPDIR"] = str(work / "tmp")
    os.makedirs(os.environ["TMPDIR"], exist_ok=True)
    cpus = len(os.sched_getaffinity(0))  # what `nproc` prints
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    os.environ["SPARK_GRAFT_INDEX_DIR"] = str(work / "idx")
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR

    from perfbench import harness
    from perfbench.harness import Context, RssSampler, Stats, log
    from perfbench.tracing import Tracer

    spark = None
    try:
        t0 = time.perf_counter()
        spark = harness.start_session(str(work), cpus)
        spark.range(1).count()
        session_s = time.perf_counter() - t0
        jvm_pid = int(spark._jvm.java.lang.ProcessHandle.current().pid())

        wl = WORKLOADS[args.workload](args.sf)
        ctx = Context(spark, Tracer(spark), str(work), args.seed, jvm_pid)
        stats = Stats()
        wl.setup(ctx, stats)
        if getattr(wl, "expected", None) == {}:
            raise RuntimeError("no op passed its first-call check")
        setup_s = harness.process_age_s()
        log(f"setup {setup_s:.2f}s (session {session_s:.2f}s), {len(stats.cold_latencies)} first calls; "
            f"{len(ctx.engine_cpu.compilers)} JIT compiler threads left out of engine CPU")

        from parquet_storage_query_spark import cache

        # a fixed amount of work per run: as many whole rounds as fit the
        # requested seconds at the workload's nominal round length
        n_rounds = max(1, round(args.seconds / wl.round_s))
        if not args.trace:
            with RssSampler(jvm_pid) as rss:
                for i in range(n_rounds):
                    wl.round(ctx, stats, i)
            log(f"peak rss python {rss.peak_each_kb[0] / 1024:.0f} MB, jvm {rss.peak_each_kb[1] / 1024:.0f} MB")
            metrics = end_to_end(stats, setup_s, rss.peak_kb)
            out_dir = ROOT / ".perfbench_out"
            out_dir.mkdir(exist_ok=True)
            (out_dir / f"{args.workload}-seed{args.seed}-samples.json").write_text(json.dumps({
                "ops": stats.ops, "latencies": stats.latencies, "cpu": stats.cpu,
                "cold_ops": stats.cold_ops, "cold_latencies": stats.cold_latencies, "cold_cpu": stats.cold_cpu,
                "setup_s": setup_s, "session_s": session_s, "metrics": {k: v for k, (v, _u) in metrics.items()},
            }))
        else:
            # rounds in pairs, the same round once untraced and once traced,
            # alternating which goes first; per-layer metrics come from the
            # traced rounds, the overhead from the two wall times
            ctx.tracer = tracer = Tracer(spark, listen=True)
            plain, stats = stats, Stats()
            walls = {False: 0.0, True: 0.0}
            memo_new, artifacts = 0, {}
            for pair in range(max(1, n_rounds // 2)):
                for on in ((False, True) if pair % 2 == 0 else (True, False)):
                    tracer.set_enabled(on)
                    memo0, art0 = len(cache._MEMO), _committed(str(work))
                    t0 = time.perf_counter()
                    wl.round(ctx, stats if on else plain, pair)
                    walls[on] += time.perf_counter() - t0
                    tracer.set_enabled(False)
                    if on:
                        memo_new += len(cache._MEMO) - memo0
                        artifacts.update((k, v) for k, v in _committed(str(work)).items() if k not in art0)
            tracer.set_enabled(True)
            metrics = per_layer(ctx, stats, wl, walls[False], walls[True], session_s, memo_new, artifacts)
            out_dir = ROOT / ".perfbench_out"
            out_dir.mkdir(exist_ok=True)
            tracer.write(str(out_dir / f"{args.workload}-seed{args.seed}-spans.jsonl"))
            tracer.close()
            stats.attempted += plain.attempted
            stats.failed += plain.failed
        log(f"{n_rounds} rounds, {len(stats.latencies)} timed ops, {stats.failed} failed of {stats.attempted}")
        result = {
            "correct": stats.failed == 0,
            "attempted": stats.attempted,
            "failed": stats.failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }
    finally:
        if spark is not None:
            harness.stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
