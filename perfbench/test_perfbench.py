"""The benchmark's own tests: ``python3 -m pytest perfbench -q`` from the
repository root (``-m "not slow"`` skips the per-workload smoke runs)."""

from __future__ import annotations

import filecmp
import json
import os
import subprocess
import sys
import time
from pathlib import Path

import pytest

from perfbench import gen
from perfbench.harness import Stats, checked_query, timed_query
from perfbench.stats import tail

ROOT = Path(__file__).resolve().parent.parent


def _tree(root: Path) -> list[str]:
    return sorted(str(p.relative_to(root)) for p in root.rglob("*") if p.is_file())


def test_generator_same_seed_gives_identical_bytes(tmp_path):
    for d in ("a", "b"):
        gen.write_corpus(str(tmp_path / d), 0.001, 7, {"events": 5, "lineitem": 3})
        gen.write_source_batch(str(tmp_path / d / "src"), "csv.gz", 3, 200, seed=7)
        gen.write_source_batch(str(tmp_path / d / "src"), "parquet", 3, 200, seed=7)
    a, b = tmp_path / "a", tmp_path / "b"
    assert _tree(a) == _tree(b)
    assert len(_tree(a)) == 5 + 3 + 8 + 6
    for rel in _tree(a):
        assert filecmp.cmp(a / rel, b / rel, shallow=False), rel


def test_generator_seed_changes_inputs_and_manifest_counts(tmp_path):
    m1 = gen.write_corpus(str(tmp_path / "s1"), 0.001, 1, {"events": 4}, only=("events",))
    m2 = gen.write_corpus(str(tmp_path / "s2"), 0.001, 2, {"events": 4}, only=("events",))
    assert m1["files"] == m2["files"] == 4
    assert m1["bytes"] == sum(f.stat().st_size for f in (tmp_path / "s1").rglob("*") if f.is_file())
    assert not filecmp.cmp(tmp_path / "s1/events.parquet/part-00000.parquet",
                           tmp_path / "s2/events.parquet/part-00000.parquet", shallow=False)


def test_generator_keeps_nanosecond_timestamps(tmp_path):
    import pyarrow.parquet as pq

    gen.write_corpus(str(tmp_path), 0.001, 3, {"events": 2}, only=("events",))
    col = pq.ParquetFile(tmp_path / "events.parquet/part-00000.parquet").schema.column(1)
    assert col.name == "ts" and col.physical_type == "INT64"
    assert "nanoseconds" in str(col.logical_type)


def test_subsetting_tables_does_not_change_them():
    full = gen.make_tables(0.001, 5)
    sub = gen.make_tables(0.001, 5, only=("lineitem",))
    assert sub["lineitem"].equals(full["lineitem"])


def test_tail_is_highest_percentile_with_ten_samples_beyond():
    xs = [float(i) for i in range(1, 101)]  # 1..100
    value, pct, n = tail(xs)
    assert (value, pct, n) == (90.0, 90.0, 100)
    assert sum(x > value for x in xs) == 10
    value, pct, n = tail(xs[:30])
    assert (value, n) == (20.0, 30) and abs(pct - 200 / 3) < 1e-9
    assert sum(x > value for x in xs[:30]) == 10


def test_tail_falls_back_to_median_below_twenty_samples():
    assert tail([3.0, 1.0, 2.0]) == (2.0, 50.0, 3)
    assert tail([float(i) for i in range(19)])[1] == 50.0


class _NoTrace:
    def read_jobs(self, op):
        pass


class _FakeCtx:
    """Stands in for the Spark side: returns canned results per op."""

    tracer = _NoTrace()

    def __init__(self, results):
        self.results = results

    def clock(self):
        return time.perf_counter(), time.process_time()

    def query(self, name, sf_dir, collect=False):
        out = self.results[name]
        if isinstance(out, Exception):
            raise out
        return out


def test_wrong_row_count_and_exception_count_as_failed():
    stats = Stats()
    ctx = _FakeCtx({"good": 5, "wrong": 4, "boom": RuntimeError("x")})
    for name in ("good", "wrong", "boom"):
        timed_query(ctx, stats, name, "unused", expected_rows=5)
    assert (stats.attempted, stats.failed) == (3, 2)
    assert len(stats.latencies) == 1


def test_wrong_values_fail_the_fingerprint_check():
    from parquet_storage_query_spark.fingerprint import result_fingerprint

    want = result_fingerprint(["k", "v"], [(1, "a"), (2, "b")])
    stats = Stats()
    ctx = _FakeCtx({
        "same": (["v", "k"], [("b", 2), ("a", 1)]),
        "off": (["k", "v"], [(1, "a"), (2, "c")]),
    })
    assert checked_query(ctx, stats, "same", "unused", want) == 2
    assert checked_query(ctx, stats, "off", "unused", want) is None
    assert (stats.attempted, stats.failed, len(stats.latencies)) == (2, 1, 1)


@pytest.mark.slow
@pytest.mark.parametrize("workload", ["serve_mix", "ingest_build"])
def test_smoke_prints_every_metric_with_its_unit(workload):
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    want = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "1",
         "--seconds", "1", "--trace", "0", "--sf", "0.001"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
        env={**os.environ, "PYTHONWARNINGS": "ignore"},
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    out = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] and out["failed"] == 0 and out["attempted"] >= 1
    assert {k: v["unit"] for k, v in out["metrics"].items()} == want
    assert all(v["value"] > 0 for v in out["metrics"].values())


def test_end_to_end_summarises_each_op_by_its_median():
    from perfbench.run import end_to_end

    stats = Stats()
    for name, cpu in (("a", 1.0), ("a", 3.0), ("b", 4.0), ("b", 4.0)):
        stats.timed(name, cpu / 2, cpu)
    stats.first_call("c", 1.0, 2.0)
    stats.first_call("d", 1.0, 8.0)
    m = end_to_end(stats, setup_s=5.0, peak_kb=2048)
    assert m["op_cpu_s"] == ((2.0 + 2.0 + 4.0 + 4.0) / 4, "s")
    assert m["op_cpu_gmean_s"][0] == pytest.approx((2.0 * 4.0) ** 0.5)
    assert m["build_cpu_gmean_s"][0] == pytest.approx(4.0)
    assert m["setup_s"] == (5.0, "s") and m["peak_rss_mb"] == (2.0, "MB")
