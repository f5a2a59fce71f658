"""Differential correctness: every registered query vs its DuckDB oracle
at sf0.001 (fast tier; the driver re-runs the same contract at sf0.01).

This mirrors the reference's dual-engine methodology
(QueryOrchestration.cs:371-401 runs storage + ADX back-to-back) upgraded to
automated hash comparison per SURVEY.md §5.
"""

from __future__ import annotations

import pytest

from parquet_storage_query_spark.fingerprint import (
    oracle_connection,
    oracle_result,
    result_fingerprint,
    spark_result,
)
from parquet_storage_query_spark.registry import all_queries

from .conftest import SF_SMOKE

_QUERIES = all_queries()


@pytest.fixture(scope="module")
def oracle_con():
    with oracle_connection(SF_SMOKE) as con:
        yield con


# Queries whose sf0.001 differential row measures >= ~2.5 s (iterative
# fixpoints, BPE training, rsd-0.01 HLL, stream harnesses, k-means) —
# marked slow so the fast lane (`pytest -m "not slow"`, <5 min) stays a
# gate people actually run. The FULL suite, the driver's sf0.01 gate,
# and tools/check.py still cover every one of these. Every pandas-fetch
# row (ids `<name>-pandas`, after all collect rows so they run warm) is
# slow too: `tools/check.py --pandas` is the same gate at sf0.01.
_SLOW_ROWS = {
    "graph_kcore", "graph_pagerank", "text_bpe_vocab_train",
    "text_bpe_tokenize_apply", "agg_approx_distinct",
    "agg_approx_distinct_audit", "sim_pq_adaptive_topk",
    "sink_jsonl_codec_matrix", "dedup_canonicalize",
    "dedup_embedding_cosine", "source_jsonl_stream", "sim_ivfpq_topk",
    "agg_grouped_median", "train_leakage_safe_split", "sim_kmeans_train",
    "sim_mmr_rerank", "agg_topk_twophase", "sim_random_projection",
    "sql_recursive_ledger", "dedup_setsim_capped",
}


@pytest.mark.parametrize(
    "name,pandas",
    [
        pytest.param(n, False, id=n, marks=[pytest.mark.slow] if n in _SLOW_ROWS else [])
        for n in sorted(_QUERIES)
    ]
    + [
        pytest.param(n, True, id=f"{n}-pandas", marks=pytest.mark.slow)
        for n in sorted(_QUERIES)
    ],
)
def test_query_matches_oracle(name, pandas, spark, oracle_con):
    qd = _QUERIES[name]
    scols, srows = spark_result(qd.builder(spark, SF_SMOKE), pandas)
    if qd.oracle is None:
        # rows-only contract: runs, stable schema, deterministic row count
        again = spark_result(qd.builder(spark, SF_SMOKE), pandas)[1]
        assert len(srows) == len(again)
        return
    ocols, orows = oracle_result(oracle_con, SF_SMOKE, qd.oracle, pandas)
    assert result_fingerprint(scols, srows) == result_fingerprint(ocols, orows)


def test_approx_percentiles_within_tolerance(spark):
    """The sketch estimates must track the exact interpolated percentiles
    (accuracy=10000 → rank error ≤ n/10000, far under 2% of value on the
    order-price distribution)."""
    from parquet_storage_query_spark.operators.advanced import (
        agg_approx_percentiles,
        agg_percentiles,
    )

    exact = {r["o_orderstatus"]: r for r in agg_percentiles(spark, SF_SMOKE).collect()}
    approx = {r["o_orderstatus"]: r for r in agg_approx_percentiles(spark, SF_SMOKE).collect()}
    assert set(exact) == set(approx)
    for status, er in exact.items():
        for p in ("p50", "p90", "p99"):
            assert abs(approx[status][p] - er[p]) <= 0.02 * abs(er[p]), (status, p)


def test_hll_sketch_within_tolerance(spark):
    """DataSketches HLL at lgConfigK=12 has ~1.6% relative standard error;
    the per-type and merged-ALL estimates must land within 5% of the exact
    distinct counts (and the union-merge must not degrade accuracy)."""
    from pyspark.sql import functions as F

    from parquet_storage_query_spark.catalog import load
    from parquet_storage_query_spark.operators.advanced import agg_hll_sketch

    ev = load(spark, SF_SMOKE, "events")
    exact = {
        r["event_type"]: r["n"]
        for r in ev.groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()
    }
    exact["ALL"] = ev.select("user_id").distinct().count()
    approx = {r["event_type"]: r["approx_users"] for r in agg_hll_sketch(spark, SF_SMOKE).collect()}
    assert set(approx) == set(exact)
    for k, est in approx.items():
        assert abs(est - exact[k]) <= max(1, 0.05 * exact[k]), (k, est, exact[k])


def test_windowed_hll_within_tolerance(spark):
    """agg_windowed_hll is the registry's last rows-only family member
    without a pinned numeric contract (VERDICT r5 #7): per 6-hour window,
    the HLL (lgConfigK=12, ~1.6% RSE) distinct-user estimate must land
    within 5% of the exact windowed count — the same envelope the global
    variant pins — and the window grid itself must match exactly."""
    from pyspark.sql import functions as F

    from parquet_storage_query_spark.catalog import load
    from parquet_storage_query_spark.operators.advanced import agg_windowed_hll

    exact = {
        (r["window_start"], ): (r["n_users"], r["n_events"])
        for r in load(spark, SF_SMOKE, "events")
        .groupBy(F.window("ts", "6 hours").alias("w"))
        .agg(
            F.countDistinct("user_id").alias("n_users"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .select(F.col("w.start").alias("window_start"), "n_users", "n_events")
        .collect()
    }
    got = {
        (r["window_start"], ): (r["approx_users"], r["n_events"])
        for r in agg_windowed_hll(spark, SF_SMOKE).collect()
    }
    assert set(got) == set(exact) and len(got) > 50
    for k, (est, n_ev) in got.items():
        true_users, true_ev = exact[k]
        assert n_ev == true_ev, k  # the non-sketch column is exact
        assert abs(est - true_users) <= max(1, 0.05 * true_users), (k, est, true_users)


def test_generative_differential_fuzz(spark):
    """Generative dual-engine check (tools/fuzz_differential.py): 25 random
    scan→filter→group→aggregate specs compiled to both a Spark plan and
    DuckDB SQL must fingerprint-match. Covers the cross-engine typing trap
    space (HUGEINT widening, round() type preservation, NULL keys)
    systematically rather than one hand-written oracle at a time."""
    from tools.fuzz_differential import run_fuzz

    mismatches = run_fuzz(spark, SF_SMOKE, n_specs=25, seed=7)
    assert not mismatches, [s.describe() for s in mismatches]


def test_countmin_is_conservative_and_bounded(spark):
    """CMS point estimates must NEVER undercount (min over rows of cells
    that each contain the key's full count), and the expected overcount is
    ~2·n_events/CMS_W per row — assert the top-10 errors stay within a
    loose multiple of that bound so a hashing bug (undercount or gross
    collision pile-up) fails loudly."""
    from parquet_storage_query_spark.operators.advanced import (
        CMS_W,
        agg_countmin_heavy_hitters,
    )
    from parquet_storage_query_spark.catalog import load

    from .conftest import SF_SMOKE

    rows = agg_countmin_heavy_hitters(spark, SF_SMOKE).collect()
    assert len(rows) == 10
    n_events = load(spark, SF_SMOKE, "events").count()
    bound = 10 * 2 * n_events / CMS_W  # 10× the per-row expectation
    for r in rows:
        assert r["overcount"] >= 0, r
        assert r["est_n"] >= r["true_n"], r
        assert r["overcount"] <= bound, (r, bound)


def test_kmv_estimate_within_tolerance(spark):
    """KMV estimator envelope: relative error std is ~1/sqrt(k-2) ≈ 12.7%
    at k=64 — assert every group lands within 4 sigmas, and groups with
    fewer than k distinct values report EXACT counts."""
    from parquet_storage_query_spark.operators.advanced import KMV_K, agg_kmv_distinct

    from .conftest import SF_SMOKE

    rows = agg_kmv_distinct(spark, SF_SMOKE).collect()
    assert any(r["event_type"] == "ALL" for r in rows)
    for r in rows:
        if r["n_exact"] < KMV_K:
            assert r["kmv_est"] == float(r["n_exact"]), r
        else:
            rel = abs(r["kmv_est"] - r["n_exact"]) / r["n_exact"]
            assert rel < 4 / (KMV_K - 2) ** 0.5, (r, rel)


def test_bpe_vocab_train_invariants(spark):
    """BPE trainer: the merge table must be reproducible run-to-run, the
    corpus token count strictly decreases by one per applied merge, and
    each learned pair was the frequency argmax at its step (counts are
    non-increasing only within a step's own selection, so just sanity:
    positive counts, distinct learned symbols)."""
    from parquet_storage_query_spark.cache import _MEMO
    from parquet_storage_query_spark.operators.text import text_bpe_vocab_train

    from .conftest import SF_SMOKE

    out1 = sorted(map(tuple, text_bpe_vocab_train(spark, SF_SMOKE).collect()))
    for k in [k for k in _MEMO if k[2] == "bpe_vocab_query"]:
        _MEMO.pop(k)
    out2 = sorted(map(tuple, text_bpe_vocab_train(spark, SF_SMOKE).collect()))
    assert out1 == out2
    assert len(out1) == 3
    toks = [r[4] for r in out1]
    assert toks[0] > toks[1] > toks[2]
    pairs = {(r[1], r[2]) for r in out1}
    assert len(pairs) == 3
    assert all(r[3] > 0 for r in out1)


def test_sessionize_matches_native_session_window(spark):
    """Cross-algorithm validation: the gaps-and-islands sessionizer
    (window_sessionize — lag-gap + running sum) and Spark's native
    F.session_window aggregation implement the SAME 30-minute-gap session
    semantics via completely different algorithms (window functions vs
    merging session state). Their per-user session sets must agree
    exactly: same count, same (start, end, n_events) multiset."""
    from pyspark.sql import functions as F

    from parquet_storage_query_spark.catalog import load
    from parquet_storage_query_spark.operators.windows import window_sessionize

    from .conftest import SF_SMOKE

    ours = {
        (r["user_id"], str(r["session_start"]), str(r["session_end"]), r["n_events"])
        for r in window_sessionize(spark, SF_SMOKE).collect()
    }
    native = {
        (r["user_id"], str(r["session_start"]), str(r["session_end"]), r["n_events"])
        for r in (
            load(spark, SF_SMOKE, "events")
            .groupBy(F.session_window("ts", "30 minutes").alias("sw"), "user_id")
            .agg(
                F.count(F.lit(1)).alias("n_events"),
                F.min("ts").alias("session_start"),
                F.max("ts").alias("session_end"),
            )
            .select("user_id", "session_start", "session_end", "n_events")
            .collect()
        )
    }
    assert ours == native and len(ours) > 100


def test_bloom_prefilter_contract(spark):
    """The Bloom bitmap must have NO false negatives (every dim key
    probes true — that is why the oracle can be the plain semi-join) and
    a small false-positive rate (that is why the prefilter pays off:
    m=65,536 bits / k=2 at smoke-scale occupancy predicts well under 1%;
    assert a loose 5% so the test pins the mechanism, not the corpus)."""
    from pyspark.sql import functions as F

    from parquet_storage_query_spark.catalog import load
    from parquet_storage_query_spark.operators.relational import (
        join_bloom_prefilter,
    )

    # executing the query memoizes the bitmap; rebuild the probe verdicts
    join_bloom_prefilter(spark, SF_SMOKE).collect()
    from parquet_storage_query_spark.cache import session_memo

    words = session_memo(spark, SF_SMOKE, "bloom_building_custkeys", lambda: None)
    assert words is not None and len(words) == 1024
    cust = load(spark, SF_SMOKE, "customer").select("c_custkey", "c_mktsegment").collect()
    import hashlib

    def pos(key: int, salt: str) -> int:
        h = int(hashlib.md5(f"{salt}{key}".encode()).hexdigest()[:15], 16)
        return h % (1024 * 64)

    def hit(key: int) -> bool:
        ok = True
        for salt in ("bl-a:", "bl-b:"):
            p = pos(key, salt)
            ok = ok and bool((words[p // 64] >> (p % 64)) & 1)
        return ok

    members = [r["c_custkey"] for r in cust if r["c_mktsegment"] == "BUILDING"]
    non_members = [r["c_custkey"] for r in cust if r["c_mktsegment"] != "BUILDING"]
    assert members and non_members
    assert all(hit(k) for k in members), "false negative — bloom broken"
    fp = sum(1 for k in non_members if hit(k)) / len(non_members)
    assert fp < 0.05, f"false-positive rate {fp:.3f} out of bounds"


def test_recursive_ledger_restores_recursion_valve(spark):
    """sql_recursive_ledger sizes spark.sql.cteRecursionRowLimit to the
    measured |customers| x depth, but SCOPED (ADVICE r9): after the
    builder returns — the result is eagerly localCheckpoint-ed inside
    the try so laziness can't escape the scope — the session's prior
    valve must be back, so a later recursive query with a real runaway
    still hits the safety default instead of inheriting a giant limit."""
    from parquet_storage_query_spark.operators.advanced import (
        sql_recursive_ledger,
    )

    key = "spark.sql.cteRecursionRowLimit"
    prior = spark.conf.get(key, None)
    try:
        spark.conf.set(key, "123456")  # a recognizable sentinel
        df = sql_recursive_ledger(spark, SF_SMOKE)
        assert spark.conf.get(key) == "123456", "valve leaked past builder"
        assert df.count() > 0  # materialized result survives the restore
    finally:
        if prior is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prior)
