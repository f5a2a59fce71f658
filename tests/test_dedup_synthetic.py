"""Recall tests for the hash-seeded dedup operators (no DuckDB oracle):
plant known near-duplicates and verify MinHash-LSH / SimHash find them.
The corpus tables contain no real dups (all 500 sf0.001 texts distinct),
so these tests construct them."""

from __future__ import annotations

import pytest

# synthetic-corpus recall suites rebuild signature tables per case -- ~100 s wall
pytestmark = pytest.mark.slow

from pyspark.sql import functions as F

from parquet_storage_query_spark.operators.dedup import (
    N_MINHASH,
    minhash_signature,
    shingle_hashes,
    shingles_col,
)


@pytest.fixture(scope="module")
def corpus(spark):
    base = (
        "the quick brown fox jumps over the lazy dog and runs far away "
        "into the deep dark forest while the hunter watches quietly"
    )
    near = base.replace("quietly", "silently")  # one token changed
    other = (
        "completely different content about spark query engines and "
        "columnar storage with predicate pushdown at massive scale"
    )
    # moderate-similarity pair: last 6 tokens rewritten → 3-gram shingle
    # Jaccard ≈ 0.556. The 16-band × 2-row LSH must still surface it (the
    # old 4×4 banding caught only ~26% of pairs at this similarity).
    moderate = (
        "the quick brown fox jumps over the lazy dog and runs far away "
        "into the deep dark wolf sleeps nearby tonight peacefully under"
    )
    return spark.createDataFrame(
        [(1, base), (2, near), (3, other), (4, base), (5, moderate)],
        "doc_id long, text string",
    )


def test_minhash_finds_planted_near_dups(corpus):
    docs = (
        corpus.select("doc_id", shingles_col().alias("sh"))
        .withColumn("hs", F.array_distinct(shingle_hashes(F.col("sh"))))
        .withColumn("sig", minhash_signature("hs"))
    )
    rows = {r["doc_id"]: r["sig"] for r in docs.collect()}
    assert len(rows[1]) == N_MINHASH
    # the seeds must actually differ (regression: lambda-bytecode dedup
    # once collapsed all 32 seeds into one hash function)
    assert len(set(rows[1])) > N_MINHASH // 2
    # exact dup → identical signature
    assert rows[1] == rows[4]
    # near dup → mostly-matching signature
    matches_near = sum(a == b for a, b in zip(rows[1], rows[2]))
    matches_other = sum(a == b for a, b in zip(rows[1], rows[3]))
    assert matches_near >= N_MINHASH // 2
    assert matches_other <= 2


def test_lsh_pipeline_emits_planted_pair(spark, corpus, tmp_path, monkeypatch):
    """End-to-end dedup_minhash_lsh over a corpus containing planted dups:
    the (1,4) exact pair and (1,2) near pair must surface."""
    # write the synthetic corpus as the documents table of a fake sf_dir
    sf = str(tmp_path)
    corpus.withColumn("lang", F.lit("en")).withColumn("source", F.lit("t")).withColumn(
        "n_chars", F.length("text").cast("long")
    ).write.parquet(f"{sf}/documents.parquet")

    from parquet_storage_query_spark.operators.dedup import dedup_minhash_lsh

    pairs = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in dedup_minhash_lsh(spark, sf).collect()
    }
    assert pairs.get((1, 4)) == 1.0
    assert (1, 2) in pairs and pairs[(1, 2)] > 0.7
    # moderate pair (shingle Jaccard ≈ 0.556): the banding must catch it,
    # not just the near-identical pairs
    assert (1, 5) in pairs and 0.5 <= pairs[(1, 5)] < 0.7
    assert all(3 not in p for p in pairs)


def test_simhash_close_for_near_dups(spark, corpus, tmp_path):
    sf = str(tmp_path)
    corpus.withColumn("lang", F.lit("en")).withColumn("source", F.lit("t")).withColumn(
        "n_chars", F.length("text").cast("long")
    ).write.parquet(f"{sf}/documents.parquet")

    from parquet_storage_query_spark.operators.dedup import dedup_simhash

    sims = {r["doc_id"]: r["simhash"] for r in dedup_simhash(spark, sf).collect()}
    ham = lambda a, b: bin(a ^ b).count("1")  # noqa: E731
    assert ham(sims[1], sims[4]) == 0  # exact dup
    assert ham(sims[1], sims[2]) <= 8  # near dup: few bits differ
    assert ham(sims[1], sims[3]) >= 16  # unrelated: many bits differ


def test_cosine_lsh_finds_planted_near_dup_vectors(spark):
    """Banded hyperplane LSH must surface a planted high-cosine pair via
    the band-bucket equi-join (dedup_embedding_cosine's candidate stage),
    and must not emit the orthogonal distractor."""
    import numpy as np

    from parquet_storage_query_spark.operators.dedup import (
        lsh_band_keys,
        lsh_band_pairs,
    )

    rng = np.random.RandomState(7)
    base = rng.standard_normal(64)
    near = base + 0.05 * rng.standard_normal(64)  # cos ≈ 0.999
    other = rng.standard_normal(64)  # cos ≈ 0 vs base
    cos = lambda a, b: float(a @ b / (np.linalg.norm(a) * np.linalg.norm(b)))  # noqa: E731
    assert cos(base, near) > 0.99 and abs(cos(base, other)) < 0.4

    e = spark.createDataFrame(
        [(1, [float(x) for x in base]), (2, [float(x) for x in near]),
         (3, [float(x) for x in other])],
        "vec_id long, v array<double>",
    )
    pairs = {(r["vec_a"], r["vec_b"]) for r in lsh_band_pairs(e, lsh_band_keys(e)).collect()}
    assert (1, 2) in pairs  # P(miss) = (1-p^8)^16 ≈ 1e-9 at cos 0.999
    assert (1, 3) not in pairs and (3, 1) not in pairs


# ---------------------------------------------------------------------------
# cos-LSH scale guard: threshold-vs-random-bulk assertion + bucket budget
# ---------------------------------------------------------------------------


def test_cos_scale_guard_engages_inside_the_bulk(spark, monkeypatch):
    """On this corpus the 16×6 banding admits ~22% of RANDOM pairs (its
    looseness is deliberate — sim_lsh_topk recall shares the index), so
    the guard must engage the bucket budget — but at bench SFs every
    bucket is under B=128, so nothing may be dropped (this is what keeps
    the oracle hash unchanged). r11 (ADVICE r10 #1): the cap is now applied
    UNCONDITIONALLY — the sampled census only gates the diagnostic log —
    so even a linear-regime estimate must still return the capped plan,
    value-identical whenever every bucket fits the budget. The oracle
    replays the cap unconditionally; a quiet sample hiding one dense
    bucket would otherwise diverge the differential check."""
    from parquet_storage_query_spark.catalog import load_parallel
    from parquet_storage_query_spark.functions.vectors import as_double
    from parquet_storage_query_spark.operators.dedup import (
        COS_ADMIT_EPS,
        LAST_COS_GUARD,
        cos_lsh_index,
        cos_scale_guard,
        estimate_cos_scale_stats,
    )

    e = load_parallel(spark, SF_SMOKE, "embeddings").select(
        "vec_id", as_double("embedding").alias("v")
    )
    stats = estimate_cos_scale_stats(e)
    # the documented scale hazard is real on this corpus: the banding
    # admits a large constant fraction of RANDOM pairs (~22% measured)
    assert stats["admit_frac"] > 100 * COS_ADMIT_EPS
    assert 0.3 < stats["quantile"] < 0.6  # 0.45 sits in/near the bulk

    bands = cos_lsh_index(spark, SF_SMOKE)
    n_before = bands.count()
    guarded = cos_scale_guard(bands, e)
    assert LAST_COS_GUARD["engaged"] is True
    assert LAST_COS_GUARD["dropped_rows"] == 0  # B clears every bench bucket
    assert guarded.count() == n_before

    # linear regime (a tight-banding/high-threshold deployment): the cap
    # still applies (oracle parity), but must be value-identical when
    # every bucket fits — same rows, only the census log is skipped
    from parquet_storage_query_spark.operators import dedup as dedup_mod

    monkeypatch.setattr(
        dedup_mod,
        "estimate_cos_scale_stats",
        lambda _e, n_sample=1024: {"quantile": 0.2, "admit_frac": 0.0, "n_sampled": 512.0},
    )
    quiet = cos_scale_guard(bands, e)
    assert LAST_COS_GUARD["engaged"] is False
    assert quiet.count() == n_before
    # exact same membership set, not just the same count
    assert quiet.exceptAll(bands).count() == 0


def test_bucket_budget_bounds_pair_generation(spark):
    """A degenerate corpus where EVERY vector lands in the same buckets
    (identical direction → identical hyperplane signs): pair generation
    must be capped at C(B, 2) per (band, bucket) instead of C(n, 2) — the
    by-construction bound that replaces the Θ(n²) verify. Each band keeps
    a DIFFERENT hash-ranked subset (the rank key includes the band — by
    design: per-band diversification preserves more recall than one fixed
    global subset), so the total is bounded by bands · C(B, 2). The kept
    subset must be deterministic across invocations."""
    from parquet_storage_query_spark.operators.dedup import (
        _bucket_capped,
        lsh_band_keys,
        lsh_band_pairs,
    )

    n, budget = 40, 8
    # all vectors are positive multiples of one direction → same bucket in
    # every band, i.e. the worst-case bucket the budget exists for
    base = [float((i % 7) + 1) for i in range(64)]
    e = spark.createDataFrame(
        [(i, [x * (1.0 + 0.001 * i) for x in base]) for i in range(n)],
        "vec_id long, v array<double>",
    )
    bands = lsh_band_keys(e)
    capped = _bucket_capped(bands, budget)
    per_bucket = capped.groupBy("band", "bucket").count().collect()
    assert all(r["count"] <= budget for r in per_bucket)
    from parquet_storage_query_spark.operators.dedup import N_COS_BANDS

    pairs = lsh_band_pairs(e, capped)
    assert pairs.count() <= N_COS_BANDS * (budget * (budget - 1) // 2)
    assert pairs.count() < n * (n - 1) // 2  # strictly below all-pairs
    # deterministic: the same call keeps the same members
    again = _bucket_capped(bands, budget)
    assert sorted(map(tuple, capped.collect())) == sorted(map(tuple, again.collect()))


# ---------------------------------------------------------------------------
# Implementation-independent oracles for the rows-only (hash-seeded) ops:
# recompute signatures/partitions in pure Python from Spark's primitive
# hashes and compare (VERDICT r1 "Next round" #8).
# ---------------------------------------------------------------------------

from .conftest import SF_SMOKE  # noqa: E402


def _py_md5_i64(s: str) -> int:
    import hashlib

    return int(hashlib.md5(s.encode("utf-8")).hexdigest()[:15], 16)


def _py_shingle_hashes(text: str, k: int = 3) -> set[int]:
    w = text.strip().split(" ")
    grams = (
        [" ".join(w[i : i + k]) for i in range(len(w) - k + 1)]
        if len(w) >= k
        else [text.strip()]
    )
    return {_py_md5_i64(g) for g in grams}


def test_minhash_signature_matches_pure_python_fold(spark):
    """Recompute MinHash signatures ENTIRELY in pure Python from the raw
    text (hashlib md5 + the affine folds — no Spark expression involved)
    and compare on a 50-doc sample. The md5 seeding makes the whole
    pipeline replicable outside Spark, so this catches the r1
    lambda-bytecode-dedup class of regression (all seeds silently
    collapsing to one hash function), any silent change of seed encoding,
    AND any drift in the shingle/tokenize conventions."""
    from pyspark.sql import functions as F

    from parquet_storage_query_spark.catalog import load
    from parquet_storage_query_spark.operators.dedup import (
        MH_COEFFS,
        MH_PRIME,
        minhash_signature,
        shingle_hashes,
        shingles_col,
    )

    docs = (
        load(spark, SF_SMOKE, "documents")
        .filter(F.col("doc_id") < 50)
        .select("doc_id", "text", shingles_col().alias("sh"))
        .select(
            "doc_id", "text", F.array_distinct(shingle_hashes(F.col("sh"))).alias("hs")
        )
    )
    rows = docs.withColumn("sig", minhash_signature("hs")).select(
        "doc_id", "text", "sig"
    ).collect()
    assert len(rows) > 0
    for r in rows:
        hs = _py_shingle_hashes(r["text"])
        expected = [
            min((a * (h % MH_PRIME) + b) % MH_PRIME for h in hs) for a, b in MH_COEFFS
        ]
        assert list(r["sig"]) == expected, r["doc_id"]


def test_simhash_matches_pure_python_votes(spark):
    """Recompute 60-bit SimHash ENTIRELY in pure Python (hashlib md5 per
    token, bit votes, pack — no Spark expression involved) and compare on
    a 50-doc sample — an oracle for the vote/pack logic independent of the
    60-column aggregate AND of the tokenize/hash conventions."""
    from pyspark.sql import functions as F

    from parquet_storage_query_spark.catalog import load
    from parquet_storage_query_spark.operators.dedup import SIMHASH_BITS, dedup_simhash

    got = {
        r["doc_id"]: r["simhash"]
        for r in dedup_simhash(spark, SF_SMOKE).filter(F.col("doc_id") < 50).collect()
    }
    texts = {
        r["doc_id"]: r["text"]
        for r in load(spark, SF_SMOKE, "documents")
        .filter(F.col("doc_id") < 50)
        .select("doc_id", "text")
        .collect()
    }
    expected = {}
    for doc, text in texts.items():
        hs = [_py_md5_i64(w) for w in text.strip().split(" ")]
        sim = 0
        for j in range(SIMHASH_BITS):
            vote = sum(1 if (h >> j) & 1 else -1 for h in hs)
            if vote > 0:
                sim |= 1 << j
        expected[doc] = sim
    assert got == expected


def test_minhash_lsh_recall_precision_against_exact_jaccard(spark):
    """Exact-Jaccard oracle over ALL corpus pairs (python set math on the
    hashed shingle sets): every emitted pair must truly clear the 0.5
    threshold (precision = 1 by construction — this checks the verify
    join), and every pair at J ≥ 0.7 must be emitted (the 16×2 banding
    misses such a pair with P ≈ 1e-5; deterministic hashes make the
    outcome stable)."""
    from pyspark.sql import functions as F

    from parquet_storage_query_spark.catalog import load
    from parquet_storage_query_spark.operators.dedup import (
        dedup_minhash_lsh,
        shingle_hashes,
        shingles_col,
    )

    sets = {
        r["doc_id"]: frozenset(r["hs"])
        for r in load(spark, SF_SMOKE, "documents")
        .select("doc_id", shingles_col().alias("sh"))
        .select("doc_id", F.array_distinct(shingle_hashes(F.col("sh"))).alias("hs"))
        .collect()
    }
    emitted = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in dedup_minhash_lsh(spark, SF_SMOKE).collect()
    }
    ids = sorted(sets)
    exact = {}
    for i, a in enumerate(ids):
        for b in ids[i + 1:]:
            inter = len(sets[a] & sets[b])
            if inter:
                j = inter / len(sets[a] | sets[b])
                if j >= 0.5:
                    exact[(a, b)] = j
    for pair, jac in emitted.items():
        assert pair in exact, f"emitted pair {pair} below true threshold"
        assert abs(exact[pair] - jac) < 5e-4
    for pair, j in exact.items():
        if j >= 0.7:
            assert pair in emitted, f"high-similarity pair {pair} (J={j}) missed"


def test_cluster_partition_matches_union_find(spark):
    """dedup_clusters must equal the partition a pure-Python union-find
    produces from the same candidate pairs: identical membership, min-label
    cluster ids, keep flag exactly on the representative."""
    from parquet_storage_query_spark.operators.dedup import (
        dedup_clusters,
        dedup_minhash_lsh,
    )

    pairs = [(r["doc_a"], r["doc_b"]) for r in dedup_minhash_lsh(spark, SF_SMOKE).collect()]
    parent: dict[int, int] = {}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    expected = {}
    for n in parent:
        root = find(n)
        expected[n] = root
    # canonicalize to min member per component
    comp_min: dict[int, int] = {}
    for n, r in expected.items():
        comp_min[r] = min(comp_min.get(r, n), n)
    expected = {n: comp_min[r] for n, r in expected.items()}

    got = {r["doc_id"]: (r["cluster_id"], r["keep"]) for r in dedup_clusters(spark, SF_SMOKE).collect()}
    assert {n: c for n, (c, _k) in got.items()} == expected
    for n, (c, keep) in got.items():
        assert keep == (n == c)


def test_kmeans_fixpoint_invariants(spark):
    """Lloyd's invariants on the trained clustering: every corpus vector
    belongs to exactly one of k clusters, counts sum to the corpus size,
    the run is deterministic (repeat == repeat), and re-assigning a sample
    of vectors against the final centroids agrees with the reported
    mean-distance ordering (each point's own cluster centroid is its
    nearest — checked on a sample driver-side)."""
    from parquet_storage_query_spark.catalog import load
    from parquet_storage_query_spark.operators.similarity import (
        K_CLUSTERS,
        sim_kmeans_train,
    )

    out1 = sorted(map(tuple, sim_kmeans_train(spark, SF_SMOKE).collect()))
    out2 = sorted(map(tuple, sim_kmeans_train(spark, SF_SMOKE).collect()))
    assert out1 == out2  # deterministic (and the prepared plan re-executes)
    n_corpus = load(spark, SF_SMOKE, "embeddings").count()
    assert sum(r[1] for r in out1) == n_corpus
    assert {r[0] for r in out1} <= set(range(K_CLUSTERS))
    assert all(r[2] >= 0 for r in out1)  # mean_dist non-negative


def test_prepared_memos_isolate_sf_dirs(spark):
    """Prepared/memoized serving plans are keyed per (session, sf_dir): the
    same session querying two scale factors must get each directory's own
    answer, not a stale index built for the other."""
    from parquet_storage_query_spark.catalog import load
    from parquet_storage_query_spark.operators.dedup import (
        dedup_exact,
        dedup_minhash_lsh,
    )

    for sf_dir in ("/root/testdata/sf0.001", "/root/testdata/sf0.01"):
        n_distinct = load(spark, sf_dir, "documents").select("text").distinct().count()
        assert dedup_exact(spark, sf_dir).count() == n_distinct, sf_dir
        max_doc = load(spark, sf_dir, "documents").agg({"doc_id": "max"}).collect()[0][0]
        pairs = dedup_minhash_lsh(spark, sf_dir).collect()
        # every served pair must reference doc_ids from THIS corpus
        assert all(r["doc_a"] <= max_doc and r["doc_b"] <= max_doc for r in pairs), sf_dir
        # re-serving from the prepared plan is stable
        assert len(pairs) == dedup_minhash_lsh(spark, sf_dir).count(), sf_dir


def test_ann_recall_vs_bruteforce(spark):
    """Both approximate ANN tiers must retrieve a meaningful share of the
    exact top-k: every result they DO return must be a true corpus vector,
    and recall@5 against the brute-force baseline must clear the tier's
    design floor (IVF probes 2/10 cells on label-clustered data → high
    recall; 8-bit LSH buckets trade deeper; PQ+refine re-ranks its R=50
    ADC shortlist with exact cosine, so its floor is a genuine quality
    bar — VERDICT r8 #7, measured ~0.6-0.84 on testdata)."""
    from parquet_storage_query_spark.operators.similarity import (
        sim_bruteforce_topk,
        sim_ivf_topk,
        sim_lsh_multiprobe_topk,
        sim_lsh_topk,
        sim_pq_refine_topk,
    )

    def topk(df):
        out: dict[int, set[int]] = {}
        for r in df.collect():
            out.setdefault(r["query_id"], set()).add(r["neighbor_id"])
        return out

    exact = topk(sim_bruteforce_topk(spark, SF_SMOKE))
    for name, approx_df, floor in (
        ("ivf", sim_ivf_topk(spark, SF_SMOKE), 0.5),
        ("lsh", sim_lsh_topk(spark, SF_SMOKE), 0.4),
        ("lsh_mp", sim_lsh_multiprobe_topk(spark, SF_SMOKE), 0.6),
        ("pq_refine", sim_pq_refine_topk(spark, SF_SMOKE), 0.4),
    ):
        approx = topk(approx_df)
        assert set(approx) <= set(exact), name  # no phantom query ids
        hits = sum(len(approx.get(q, set()) & exact[q]) for q in exact)
        total = sum(len(v) for v in exact.values())
        recall = hits / total
        assert recall >= floor, (name, recall)


def test_pq_adaptive_sentinel_decides_the_path(spark):
    """The adaptive PQ tier's path column must agree with the sentinel's
    integer decision (hits < PQ_SENTINEL_MIN_HITS -> refine), the
    sentinel guard dict must expose it, and the output must carry the
    hit count on every row — the non-silent contract (VERDICT r10 #2):
    a recall collapse is measured, logged, and visible in the result."""
    from parquet_storage_query_spark.operators.similarity import (
        LAST_PQ_GUARD,
        PQ_SENTINEL_MIN_HITS,
        sim_pq_adaptive_topk,
    )

    rows = sim_pq_adaptive_topk(spark, SF_SMOKE).collect()
    assert LAST_PQ_GUARD["total"] == 25
    hits = LAST_PQ_GUARD["hits"]
    want_path = "pq_refine" if hits < PQ_SENTINEL_MIN_HITS else "pq"
    assert LAST_PQ_GUARD["escalate"] == (hits < PQ_SENTINEL_MIN_HITS)
    assert rows and all(r["path"] == want_path for r in rows)
    assert all(r["sentinel_hits"] == hits for r in rows)
    assert all(1 <= r["rk"] <= 5 for r in rows)


def test_pq_adaptive_escalation_serves_refine(spark, monkeypatch):
    """Force the sentinel's collapse verdict (the branch only a 10×-scale
    corpus reaches naturally — /tmp/sf1 measures 3/25) and assert the
    adaptive tier actually serves the exact-refine ranking: identical
    (query_id, neighbor_id, rk) triples to sim_pq_refine_topk, path
    column flipped, hit count carried through."""
    from parquet_storage_query_spark.operators import similarity as sim

    monkeypatch.setattr(sim, "pq_recall_sentinel", lambda s, d: (2, 25, True))
    got = {
        (r["query_id"], r["neighbor_id"], r["rk"], r["path"], r["sentinel_hits"])
        for r in sim.sim_pq_adaptive_topk(spark, SF_SMOKE).collect()
    }
    want = {
        (r["query_id"], r["neighbor_id"], r["rk"], "pq_refine", 2)
        for r in sim.sim_pq_refine_topk(spark, SF_SMOKE).collect()
    }
    assert got == want


# --- benchmark contamination (planted) ---


def test_contamination_check_flags_planted_doc(spark):
    """Plant a training doc that copies a 13-token run from an eval
    passage; contamination_check must flag it (and only it)."""
    from parquet_storage_query_spark.operators.text import contamination_check

    eval_passage = (
        "what is the capital of france the capital of france is paris "
        "which has been the capital since the tenth century"
    )
    leaked = (
        "some scraped web page text follows here "
        "what is the capital of france the capital of france is paris which "
        "and then the page continues with unrelated navigation links"
    )  # copies a 13-token run ("what ... paris which") from the eval passage
    clean = (
        "an entirely unrelated training document about distributed query "
        "engines partitioning strategies and columnar storage formats for "
        "large scale analytical workloads"
    )
    eval_docs = spark.createDataFrame([(100, eval_passage)], "doc_id long, text string")
    train = spark.createDataFrame(
        [(1, leaked), (2, clean)], "doc_id long, text string"
    )
    out = {r["doc_id"]: r.asDict() for r in contamination_check(train, eval_docs).collect()}
    assert 1 in out, "leaked doc not flagged"
    assert 2 not in out, "clean doc falsely flagged"
    assert out[1]["n_overlap"] >= 1
    assert out[1]["verdict"] in ("drop", "review")


def test_contamination_check_short_doc_exact_match(spark):
    """Docs under 13 tokens fall back to whole-text grams: an exact copy
    of a short eval passage must still be caught."""
    from parquet_storage_query_spark.operators.text import contamination_check

    short = "tiny eval passage of nine tokens exactly here now"
    eval_docs = spark.createDataFrame([(200, short)], "doc_id long, text string")
    train = spark.createDataFrame(
        [(10, short), (11, "a different short document entirely")],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r["overlap_frac"] for r in contamination_check(train, eval_docs).collect()}
    assert got == {10: 1.0}


# --- substring-level dedup (planted boilerplate) ---


def test_substring_runs_finds_planted_boilerplate(spark):
    """Plant a 15-token license header across 3 documents with different
    surrounding text: substring_runs must report the shared span in each
    doc at the right token coordinates, and must NOT flag the doc without
    the boilerplate."""
    from parquet_storage_query_spark.operators.dedup import substring_runs

    license_hdr = (
        "this file is licensed under the apache license version two "
        "point zero see notice file"  # 15 tokens
    )
    d1 = license_hdr + " first document body about spark engines and storage layers"
    d2 = "intro line here " + license_hdr + " second document body follows now"
    d3 = license_hdr + " third body text entirely different from the others again"
    clean = (
        "completely original content with no shared boilerplate at all "
        "spanning enough tokens to form shingles of width thirteen easily done"
    )
    docs = spark.createDataFrame(
        [(1, d1), (2, d2), (3, d3), (4, clean)], "doc_id long, text string"
    )
    runs = {r["doc_id"]: r.asDict() for r in substring_runs(docs).collect()}
    assert set(runs) == {1, 2, 3}, runs
    # doc 1: header at tokens 1-15
    assert runs[1]["start_pos"] == 1 and runs[1]["end_pos"] == 15
    assert runs[1]["run_tokens"] == 15
    # doc 2: header shifted by the 3-token intro -> tokens 4-18
    assert runs[2]["start_pos"] == 4 and runs[2]["end_pos"] == 18
    # doc 3: header at tokens 1-15
    assert runs[3]["start_pos"] == 1 and runs[3]["end_pos"] == 15


def test_substring_runs_within_doc_repeat_not_flagged(spark):
    """A shingle repeated twice WITHIN one doc but in no other doc is not
    cross-document boilerplate — the posting list counts distinct docs."""
    from parquet_storage_query_spark.operators.dedup import substring_runs

    chorus = "row row row your boat gently down the stream merrily merrily merrily merrily"
    doubled = chorus + " " + chorus
    other = (
        "some other document about completely unrelated matters with "
        "plenty of tokens to clear the thirteen token shingle minimum width"
    )
    docs = spark.createDataFrame([(1, doubled), (2, other)], "doc_id long, text string")
    assert substring_runs(docs).count() == 0


# --- incremental cross-shard dedup ---


def test_incremental_dedup_pairs_and_no_recompute(spark, corpus, tmp_path):
    """Batch 1 (docs 1, 3) is indexed to parquet; batch 2 (docs 2, 4, 5)
    arrives later. incremental_pairs must surface the cross-batch planted
    pairs from the ON-DISK index (origin 'index'), the within-batch pair
    (origin 'batch'), and its plan must scan the index parquet rather than
    recomputing batch-1 signatures — batch-1 texts aren't even reachable
    from the serving plan."""
    from parquet_storage_query_spark.operators.dedup import (
        incremental_pairs,
        write_signature_index,
    )

    idx = str(tmp_path / "sig_index")
    batch1 = corpus.filter(F.col("doc_id").isin(1, 3))
    batch2 = corpus.filter(F.col("doc_id").isin(2, 4, 5))
    write_signature_index(batch1, idx)

    out = incremental_pairs(spark, batch2, idx)
    plan = out._jdf.queryExecution().executedPlan().toString()
    # two data scans — the index's bands + signatures tables (paths are
    # truncated in toString, so count scans instead of matching the
    # directory name). Spark may inject a THIRD doc_id-only scan of the
    # signatures table to build a bloom runtime filter for the candidate
    # join — still an index read (and a pruning win at scale), never a
    # recompute of batch-1 signatures.
    assert plan.count("FileScan parquet") in (2, 3), plan

    pairs = {(r["doc_a"], r["doc_b"]): r for r in out.collect()}
    # cross-batch: doc 4 is an exact copy of indexed doc 1; doc 2 near, 5 moderate
    assert pairs[(1, 4)]["jaccard"] == 1.0 and pairs[(1, 4)]["origin"] == "index"
    assert pairs[(1, 2)]["origin"] == "index" and pairs[(1, 2)]["jaccard"] > 0.7
    assert pairs[(1, 5)]["origin"] == "index"
    # within-batch: docs 2 (near) and 4 (exact copy of base) are near-dups
    assert pairs[(2, 4)]["origin"] == "batch" and pairs[(2, 4)]["jaccard"] > 0.7
    # the unrelated indexed doc 3 pairs with nothing
    assert all(3 not in p for p in pairs)


def test_incremental_index_reuse_without_batch1_source(spark, tmp_path):
    """The standing-index property: after the index is written, dedup of a
    later batch must work even if batch-1 SOURCE rows are gone (only the
    index parquet remains) — proving signatures are not recomputed."""
    from parquet_storage_query_spark.operators.dedup import (
        incremental_pairs,
        write_signature_index,
    )

    text = (
        "shared boilerplate sentence that is long enough to shingle into "
        "many overlapping three gram windows for the minhash signature"
    )
    idx = str(tmp_path / "standing_index")
    batch1 = spark.createDataFrame([(10, text)], "doc_id long, text string")
    write_signature_index(batch1, idx)
    del batch1  # source gone; only the parquet index remains

    batch2 = spark.createDataFrame([(20, text)], "doc_id long, text string")
    got = incremental_pairs(spark, batch2, idx).collect()
    assert [(r["doc_a"], r["doc_b"], r["jaccard"], r["origin"]) for r in got] == [
        (10, 20, 1.0, "index")
    ]


def test_repetition_score_flags_degenerate_doc(spark, tmp_path):
    """A looping chorus (high repeated-3-gram fraction) must be flagged;
    normal prose must not."""
    from pyspark.sql import functions as F

    from parquet_storage_query_spark.operators.text import text_repetition_score

    chorus = " ".join(["la la la la"] * 10)  # 40 tokens, ~3 distinct 3-grams
    prose = (
        "a perfectly ordinary sentence with mostly unique words that "
        "should produce almost no repeated three gram windows at all"
    )
    sf = str(tmp_path)
    spark.createDataFrame(
        [(1, chorus), (2, prose)], "doc_id long, text string"
    ).withColumn("lang", F.lit("en")).withColumn("source", F.lit("t")).withColumn(
        "n_chars", F.length("text").cast("long")
    ).write.parquet(f"{sf}/documents.parquet")

    got = {r["doc_id"]: r.asDict() for r in text_repetition_score(spark, sf).collect()}
    assert got[1]["flagged"] and got[1]["rep_frac"] > 0.9
    assert not got[2]["flagged"] and got[2]["rep_frac"] < 0.05


def test_incremental_ingest_loop_appends_index(spark, tmp_path):
    """The full production loop: index batch 1 → dedupe batch 2 and APPEND
    its signatures → batch 3 must pair against BOTH prior batches from
    the on-disk index alone."""
    from parquet_storage_query_spark.operators.dedup import (
        append_signature_index,
        incremental_pairs,
        write_signature_index,
    )

    t1 = (
        "first unique document with plenty of tokens to shingle into many "
        "overlapping windows for a stable minhash signature to index"
    )
    t2 = (
        "second distinct document also long enough to produce a healthy "
        "set of three gram shingles for its own minhash signature"
    )
    idx = str(tmp_path / "loop_index")
    write_signature_index(
        spark.createDataFrame([(1, t1)], "doc_id long, text string"), idx
    )
    batch2 = spark.createDataFrame([(2, t2)], "doc_id long, text string")
    assert incremental_pairs(spark, batch2, idx).count() == 0  # no dup yet
    append_signature_index(batch2, idx)

    # batch 3 duplicates BOTH t1 (indexed in the initial write) and t2
    # (indexed only via the append)
    batch3 = spark.createDataFrame(
        [(31, t1), (32, t2)], "doc_id long, text string"
    )
    got = {
        (r["doc_a"], r["doc_b"]): r["origin"]
        for r in incremental_pairs(spark, batch3, idx).collect()
    }
    assert got == {(1, 31): "index", (2, 32): "index"}


def test_containment_finds_excerpt_that_lsh_misses(spark, tmp_path):
    """An excerpt fully contained in a 4×-larger page has high containment
    but LOW Jaccard (|A|/|B| ≈ 0.25), so MinHash-LSH misses it by design —
    dedup_containment must surface exactly this asymmetric case and report
    the direction (contain_a ≈ 1 for the excerpt side)."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    from parquet_storage_query_spark.operators.dedup import (
        dedup_containment,
        dedup_minhash_lsh,
    )

    body = " ".join(f"tok{i}" for i in range(120))
    excerpt = " ".join(f"tok{i}" for i in range(28, 58))  # 30 tokens ⊂ body
    other = " ".join(f"zzz{i}" for i in range(40))
    sf = str(tmp_path)
    spark.createDataFrame(
        [(1, body), (2, excerpt), (3, other)], "doc_id long, text string"
    ).withColumn("lang", F.lit("en")).withColumn("source", F.lit("t")).withColumn(
        "n_chars", F.length("text").cast("long")
    ).write.parquet(f"{sf}/documents.parquet")

    got = {
        (r["doc_a"], r["doc_b"]): (r["contain_a"], r["contain_b"])
        for r in dedup_containment(spark, sf).collect()
    }
    assert (1, 2) in got
    ca, cb = got[(1, 2)]
    # doc 2 (the excerpt) is ~fully contained in doc 1; not vice versa
    assert cb == _pytest.approx(1.0, abs=0.05)
    assert ca < 0.5
    assert all(3 not in p for p in got)

    # the symmetric pipeline misses it — the reason containment exists
    lsh = {
        (r["doc_a"], r["doc_b"]) for r in dedup_minhash_lsh(spark, sf).collect()
    }
    assert (1, 2) not in lsh


def test_semantic_dedup_drops_planted_same_direction_vectors(spark, tmp_path):
    """SemDeDup verdicts: two near-parallel vectors (cos ≈ 1, same cell by
    construction) must resolve to one keep + one drop (lowest vec_id
    survives); an orthogonal vector keeps regardless of cell. Labels seed
    the centroids, so planting per-label directions pins cell assignment
    deterministically."""
    import numpy as np
    from pyspark.sql import functions as F

    from parquet_storage_query_spark.operators.similarity import dedup_semantic

    rng = np.random.RandomState(11)
    d0 = rng.standard_normal(64)
    d1 = rng.standard_normal(64)
    rows = [
        (1, [float(x) for x in d0], 0),
        (2, [float(x) for x in d0 * 1.01 + 0.001 * d1], 0),  # cos ≈ 1 vs 1
        (3, [float(x) for x in d1], 1),  # orthogonal-ish, own label/cell
    ]
    sf = str(tmp_path)
    spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, label int"
    ).withColumn("embedding", F.col("embedding").cast("array<float>")).write.parquet(
        f"{sf}/embeddings.parquet"
    )

    got = {r["vec_id"]: (r["cell"], r["keep"]) for r in dedup_semantic(spark, sf).collect()}
    assert got[1][1] is True  # lowest id of the semantic group survives
    assert got[2][1] is False  # its near-duplicate is dropped
    assert got[3][1] is True
    assert got[1][0] == got[2][0]  # same semantic cell


def test_torn_index_append_is_invisible_until_committed_and_vacuumable(
    spark, tmp_path
):
    """The commit protocol end to end: a TORN append (batch dirs written,
    marker never dropped) must be invisible to readers — the retried
    batch under a fresh id must yield exactly-once pairs, no duplicates —
    and vacuum must remove only the orphaned dirs."""
    import os

    from parquet_storage_query_spark.operators.dedup import (
        incremental_pairs,
        minhash_band_keys,
        minhash_signatures,
        read_signature_index,
        vacuum_signature_index,
        write_signature_index,
    )

    text = (
        "shared boilerplate sentence that is long enough to shingle into "
        "many overlapping three gram windows for the minhash signature"
    )
    idx = str(tmp_path / "idx")
    batch1 = spark.createDataFrame([(10, text)], "doc_id long, text string")
    write_signature_index(batch1, idx)

    # simulate a torn RETRY of the same doc: both tables written under a
    # new batch id, crash before the marker
    torn = minhash_signatures(batch1).localCheckpoint(eager=True)
    torn.write.parquet(f"{idx}/signatures/batch=deadbeef0000")
    minhash_band_keys(torn).write.parquet(f"{idx}/bands/batch=deadbeef0000")

    sigs, bands = read_signature_index(spark, idx)
    assert sigs.count() == 1 and bands.count() > 0  # torn rows invisible

    # dedup against the index sees doc 10 exactly ONCE (no duplicate pair)
    batch2 = spark.createDataFrame([(20, text)], "doc_id long, text string")
    got = incremental_pairs(spark, batch2, idx).collect()
    assert [(r["doc_a"], r["doc_b"], r["jaccard"]) for r in got] == [(10, 20, 1.0)]

    # default grace period protects a possibly-live writer; 0 = force
    assert vacuum_signature_index(idx) == {"signatures": 0, "bands": 0}
    removed = vacuum_signature_index(idx, min_age_s=0)
    assert removed == {"signatures": 1, "bands": 1}
    assert not os.path.isdir(f"{idx}/signatures/batch=deadbeef0000")
    # committed data intact, reads unchanged
    sigs2, _ = read_signature_index(spark, idx)
    assert sigs2.count() == 1


def test_double_committed_doc_yields_exactly_once_pairs(spark, tmp_path):
    """A retry AFTER a successful append whose ack was lost legitimately
    commits the same doc in two batches. The read path must deduplicate
    signatures per doc_id so downstream pairs stay exactly-once."""
    from parquet_storage_query_spark.operators.dedup import (
        append_signature_index,
        incremental_pairs,
        read_signature_index,
        write_signature_index,
    )

    text = (
        "shared boilerplate sentence that is long enough to shingle into "
        "many overlapping three gram windows for the minhash signature"
    )
    idx = str(tmp_path / "idx")
    batch1 = spark.createDataFrame([(10, text)], "doc_id long, text string")
    write_signature_index(batch1, idx)
    append_signature_index(batch1, idx)  # the acked-but-lost retry

    sigs, _bands = read_signature_index(spark, idx)
    assert sigs.count() == 1  # doc 10 committed twice, read once

    batch2 = spark.createDataFrame([(20, text)], "doc_id long, text string")
    got = incremental_pairs(spark, batch2, idx).collect()
    assert [(r["doc_a"], r["doc_b"], r["jaccard"], r["origin"]) for r in got] == [
        (10, 20, 1.0, "index")
    ]


def test_filtered_topk_recall_vs_filtered_bruteforce(spark):
    """Filtered vector search must behave like brute-force search over the
    label-restricted corpus: every neighbor carries the filter label, and
    recall@5 against the exact filtered baseline clears the post-filter
    design floor (post-filtering thins candidates ~10×, so the floor is
    below the unfiltered LSH tier's)."""
    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    from parquet_storage_query_spark.catalog import load
    from parquet_storage_query_spark.operators.similarity import (
        FILTER_LABEL,
        N_QUERY_VECS,
        TOP_K,
        dot,
        sim_filtered_topk,
    )

    emb = load(spark, SF_SMOKE, "embeddings")
    labels = {r["vec_id"] for r in emb.filter(F.col("label") == FILTER_LABEL).collect()}
    approx: dict[int, set[int]] = {}
    for r in sim_filtered_topk(spark, SF_SMOKE).collect():
        assert r["neighbor_id"] in labels  # filter actually applied
        approx.setdefault(r["query_id"], set()).add(r["neighbor_id"])

    # exact filtered baseline: brute-force cosine against label-3 vectors
    q = emb.filter(F.col("vec_id") < N_QUERY_VECS).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qe")
    )
    c = emb.filter((F.col("label") == FILTER_LABEL) & (F.col("vec_id") >= N_QUERY_VECS)).select(
        F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("ce")
    )
    qd = F.col("qe").cast("array<double>")
    cd = F.col("ce").cast("array<double>")
    cos = dot(qd, cd) / (F.sqrt(dot(qd, qd)) * F.sqrt(dot(cd, cd)))
    w = W.partitionBy("query_id").orderBy(F.col("cos").desc(), "neighbor_id")
    exact: dict[int, set[int]] = {}
    for r in (
        q.crossJoin(c)
        .select("query_id", "neighbor_id", cos.alias("cos"))
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= TOP_K)
        .collect()
    ):
        exact.setdefault(r["query_id"], set()).add(r["neighbor_id"])

    hits = sum(len(approx.get(k, set()) & v) for k, v in exact.items())
    total = sum(len(v) for v in exact.values())
    assert total > 0
    assert hits / total >= 0.3, hits / total


def test_signature_index_time_travel(spark, tmp_path):
    """As-of reads on the standing index: after base-write + append, the
    version-1 read reconstructs exactly the pre-append state (doc set and
    band count), version-2 equals the current full read, and out-of-range
    versions raise. Append-only partitions + the commit-marker log make
    every historical state recoverable for free."""
    import pytest
    from pyspark.sql import functions as F

    from parquet_storage_query_spark.catalog import load
    from parquet_storage_query_spark.operators.dedup import (
        append_signature_index,
        committed_versions,
        read_signature_index,
        read_signature_index_asof,
        write_signature_index,
    )

    docs = load(spark, SF_SMOKE, "documents").select("doc_id", "text")
    base = docs.filter(F.col("doc_id") % 4 != 0)
    extra = docs.filter(F.col("doc_id") % 4 == 0)
    dest = str(tmp_path / "idx")
    write_signature_index(base, dest)
    base_ids = {r["doc_id"] for r in base.select("doc_id").collect()}
    append_signature_index(extra, dest)

    assert len(committed_versions(dest)) == 2
    s1, b1 = read_signature_index_asof(spark, dest, 1)
    assert {r["doc_id"] for r in s1.select("doc_id").collect()} == base_ids
    s2, b2 = read_signature_index_asof(spark, dest, 2)
    s_now, b_now = read_signature_index(spark, dest)
    assert s2.count() == s_now.count() and b2.count() == b_now.count()
    assert b1.count() < b2.count()
    with pytest.raises(ValueError):
        read_signature_index_asof(spark, dest, 3)


def test_minhash_density_guard_census_and_cap(spark):
    """MinHash band-bucket density guard (round-9 30x-probe finding:
    replica scaling inflates duplicate clusters, candidate verify grew
    14.96x for 3x data): (a) a synthetic hot bucket's candidate pairs
    are censused EXACTLY and engage the guard; (b) a per-bucket budget
    caps membership deterministically and reports drops; (c) the
    registered query runs log-only — its oracle hash stays green (gated
    in tools/check.py) and LAST_MH_GUARD records zero capped rows."""
    from pyspark.sql import functions as F

    from parquet_storage_query_spark.operators import dedup

    # 100 docs share one (band, bhash) bucket; 3 more are singletons
    hot = spark.range(100).select(
        F.col("id").alias("doc_id"), F.lit(0).alias("band"), F.lit(777).alias("bhash")
    )
    cold = spark.range(100, 103).select(
        F.col("id").alias("doc_id"), F.lit(1).alias("band"), F.col("id").alias("bhash")
    )
    bands = hot.unionByName(cold)
    out = dedup.minhash_density_guard(bands)
    g = dict(dedup.LAST_MH_GUARD)
    assert g["pairs"] == 100 * 99 // 2 and g["worst_bucket"] == 100
    assert g["engaged"] and g["capped_rows"] == 0
    assert out.count() == 103  # log-only: untouched

    capped = dedup.minhash_density_guard(bands, budget=10)
    g = dict(dedup.LAST_MH_GUARD)
    assert g["capped_rows"] == 90
    assert (
        capped.groupBy("band", "bhash").count().agg(F.max("count")).collect()[0][0] <= 10
    )

    # (c) real corpus at smoke SF: the log-only guard (as wired into
    # _build_minhash_query) never caps the exact query. Invoked directly
    # — dedup_minhash_lsh's serving frame is session-memoized, so calling
    # it here would skip the build (and the guard) when an earlier test
    # already built it, leaving stale LAST_MH_GUARD state.
    from parquet_storage_query_spark.operators.dedup import (
        minhash_band_keys,
        minhash_docs,
    )

    real = dedup.minhash_density_guard(minhash_band_keys(minhash_docs(spark, SF_SMOKE)))
    assert dedup.LAST_MH_GUARD["capped_rows"] == 0
    assert real.count() == dedup.LAST_MH_GUARD["docs"] * 16  # untouched band keys


def test_setsim_prefix_finds_edited_head_pair(spark, tmp_path):
    """dedup_setsim_prefix's exact-recall claim on the case the fixed
    prefix-hash blocker (dedup_ngram_jaccard) structurally misses: a
    near-dup whose FIRST tokens were edited. Doc 2 rewrites the head of
    doc 1; their 3-shingle Jaccard is > 0.9, and the df-ordered prefix
    filter must still surface the pair. An unrelated doc must not pair."""
    from pyspark.sql import functions as F2

    base = " ".join(f"tok{i}" for i in range(60))
    edited = "zz yy " + " ".join(f"tok{i}" for i in range(2, 60))
    other = " ".join(f"other{i}" for i in range(60))
    docs = spark.createDataFrame(
        [(1, base), (2, edited), (3, other)], "doc_id long, text string"
    )
    sf = str(tmp_path)
    docs.withColumn("lang", F2.lit("en")).withColumn("source", F2.lit("t")).withColumn(
        "n_chars", F2.length("text").cast("long")
    ).write.parquet(f"{sf}/documents.parquet")

    from parquet_storage_query_spark.operators.dedup import dedup_setsim_prefix

    rows = {(r.doc_a, r.doc_b): (r.i, r.u, r.jac_e4) for r in
            dedup_setsim_prefix(spark, sf).collect()}
    assert set(rows) == {(1, 2)}
    i, u, e4 = rows[(1, 2)]
    # doc1: 58 distinct shingles (tok0..tok59); doc2 keeps the 56
    # shingles fully inside tok2..tok59 and adds 2 head shingles
    # ("zz yy tok2", "yy tok2 tok3"): i=56, u=58+58-56=60
    assert (i, u) == (56, 60)
    assert e4 == round(10000 * 56 / 60)


def test_setsim_density_guard_census_cap_and_default(spark):
    """setsim_density_guard: (a) the bucket census is EXACT on a
    synthetic hot bucket (100 docs sharing one shingle -> 4,950 pairs),
    (b) the deterministic per-bucket cap bounds the join input, (c) a
    sparse prefix table passes through untouched with the guard
    disengaged."""
    from pyspark.sql import functions as F2

    from parquet_storage_query_spark.operators.dedup import (
        LAST_SETSIM_GUARD,
        setsim_density_guard,
    )

    hot = spark.range(100).select(
        F2.col("id").alias("doc_id"),
        F2.lit(10).alias("n"),
        F2.lit("hot shingle key").alias("s"),
    )
    out = setsim_density_guard(hot)
    assert LAST_SETSIM_GUARD["pairs"] == 4950
    assert LAST_SETSIM_GUARD["worst_bucket"] == 100
    assert LAST_SETSIM_GUARD["engaged"] is True
    assert LAST_SETSIM_GUARD["capped_rows"] == 0  # log-only without budget
    assert out.count() == 100

    capped = setsim_density_guard(hot, budget=5)
    assert LAST_SETSIM_GUARD["capped_rows"] == 95
    assert capped.count() == 5

    sparse = spark.range(60).select(
        F2.col("id").alias("doc_id"),
        F2.lit(10).alias("n"),
        F2.concat(F2.lit("s"), F2.col("id") % 30).alias("s"),
    )
    out2 = setsim_density_guard(sparse)
    assert LAST_SETSIM_GUARD["engaged"] is False
    assert out2.count() == 60


def test_capped_variants_force_path_and_bounds(spark):
    """The registered *_capped queries (VERDICT r9 #3 — the guards' cap
    path shipped through the product surface): (a) force=True caps a
    DISENGAGED sparse input too (the registered variants are a hard
    bound, not a census-conditional one); (b) dedup_minhash_capped's
    verified pairs are a subset of the exact twin's (capping only
    removes candidates, never invents them); (c) join_interval_capped's
    per-click error count is a lower bound of the exact twin's."""
    from pyspark.sql import functions as F2

    from parquet_storage_query_spark.operators import advanced, dedup

    # (a) sparse buckets (max 2/bucket) never engage the census, but
    # force + budget=1 must cap anyway
    sparse = spark.range(20).select(
        (F2.col("id") % 10).alias("doc_id").cast("long").alias("doc_id"),
        F2.lit(7).alias("n"),
        F2.concat(F2.lit("s"), F2.col("id") % 10).alias("s"),
    )
    capped = dedup.setsim_density_guard(sparse, budget=1, force=True)
    assert dedup.LAST_SETSIM_GUARD["engaged"] is False
    assert dedup.LAST_SETSIM_GUARD["capped_rows"] == 10
    assert capped.count() == 10

    # (b) capped minhash pairs ⊆ exact pairs at smoke SF
    exact = {
        (r["doc_a"], r["doc_b"])
        for r in dedup.dedup_minhash_lsh(spark, SF_SMOKE).collect()
    }
    # build DIRECTLY (not via the registered session-memoized query):
    # a prior test in the same session may have already memoized the
    # serving frame, which would skip the guard and leave LAST_MH_GUARD
    # holding some other invocation's state (the census_and_cap test
    # documents the same trap)
    cap = {
        (r["doc_a"], r["doc_b"])
        for r in dedup._build_minhash_query(
            spark, SF_SMOKE, budget=dedup.MH_CAP_BUDGET, force=True
        ).collect()
    }
    assert cap <= exact
    assert dedup.LAST_MH_GUARD["budget"] == dedup.MH_CAP_BUDGET

    # (c) capped interval counts are pointwise lower bounds
    ex = {
        r["click_id"]: r["n_errors"]
        for r in advanced.join_interval_bucketed(spark, SF_SMOKE).collect()
    }
    cp = {
        r["click_id"]: r["n_errors"]
        for r in advanced.join_interval_capped(spark, SF_SMOKE).collect()
    }
    assert set(cp) <= set(ex)
    assert all(cp[k] <= ex[k] for k in cp)
    assert advanced.LAST_INTERVAL_GUARD["budget"] == advanced.INTERVAL_CAP_BUDGET
