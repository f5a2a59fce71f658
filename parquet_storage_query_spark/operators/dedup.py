"""Deduplication operators over `documents` / `embeddings` — the core
LLM-training-pipeline surface (BASELINE.json north star): exact dedup,
MinHash+LSH near-dedup, SimHash, n-gram Jaccard, embedding-cosine near-dup.

Scale design:
- Exact dedup = hash-groupBy: shuffles 16-byte digests, not documents.
- MinHash-LSH: signature computation is map-side JVM expressions
  (md5-seeded affine folds — no Python, DuckDB-replayable); the only
  shuffle is the band-bucket self-join, whose fan-in is bounded by band
  collision rate. This is the 100 TB path: cost is O(n · sig) +
  O(candidate pairs), never O(n²).
- n-gram Jaccard uses a cheap blocking key (8-token prefix hash) so the
  pairwise verify also avoids O(n²).
- Embedding-cosine pairwise is the *small-corpus / verification* variant;
  the scale path is the LSH-bucketed ANN in similarity.py.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..cache import prepared, session_frame, session_memo
from ..catalog import load, load_parallel
from ..functions.vectors import as_double, cosine, dot
from ..registry import query


def md5_i64_duck(expr: str) -> str:
    """DuckDB SQL for md5_i64 over an arbitrary expression.

    Defined ABOVE the `.text` import on purpose: text.py's registration
    decorators call back into this module at import time (its novelty
    oracle embeds this SQL), so when dedup is the first module imported
    the attribute must already exist on the partially initialized module
    — otherwise the dedup→text→dedup cycle raises ImportError (surfaced
    by running tests/test_dedup_synthetic.py in isolation)."""
    return f"('0x' || substr(md5({expr}), 1, 15))::BIGINT"


from .text import words_col  # noqa: E402  (see md5_i64_duck docstring)

# 32 hashes in 16 bands of 2 rows: P(candidate) = 1-(1-s²)^16, i.e. ≈0.99
# at s=0.5 and ≈0.88 at s=0.4 — the s-curve threshold (1/b)^(1/r) = 0.25
# sits well below the 0.5 verify cutoff, so pairs the filter promises are
# actually surfaced. (4 bands × 4 rows only catches 23% at s=0.5.) The
# looser bands admit more false candidates; the exact-Jaccard verify step
# removes them.
N_MINHASH = 32  # signature length
N_BANDS = 16  # LSH bands (2 rows each)

# --- cross-engine hash seeding -------------------------------------------
# Every hash in the MinHash/SimHash family derives from md5, which BOTH
# engines compute identically, so the whole pipeline is DuckDB-replayable
# and the driver gets a hard value-hash check instead of rows-only
# (VERDICT r4 'Next round' #3; the dedup_substring_runs md5 pattern).
#
#   base hash  h  = first 60 bits of md5(s) as a nonnegative int64
#   seed j     hⱼ = (Aⱼ·(h mod P) + Bⱼ) mod P           (affine universal)
#   band key      = row₁·P + row₂                        (injective combine)
#
# P = 2³¹−1 (Mersenne): (h mod P) < 2³¹ and Aⱼ < 2³¹, so the affine
# product stays < 2⁶² — exact in int64 on both engines (DuckDB RAISES on
# BIGINT overflow, so this bound is load-bearing, not cosmetic). The
# xxhash64 seeding this replaces was benchmarked against this scheme at
# sf0.1 (see ROUND5_NOTES): one md5 per shingle + 32 arithmetic folds is
# on par with one xxhash64 per shingle + 32 xxhash64 folds — the string
# hash runs once either way and the per-seed work got cheaper.
MH_PRIME = (1 << 31) - 1
SIMHASH_BITS = 60  # the md5-derived base hash carries 60 usable bits


def _mh_coeffs() -> list[tuple[int, int]]:
    import numpy as np

    rng = np.random.RandomState(7)
    a = rng.randint(1, MH_PRIME, N_MINHASH)
    b = rng.randint(0, MH_PRIME, N_MINHASH)
    return [(int(x), int(y)) for x, y in zip(a, b)]


MH_COEFFS = _mh_coeffs()


def md5_i64(c: Column) -> Column:
    """First 15 hex chars (60 bits) of md5 parsed as a nonnegative int64 —
    the cross-engine base hash (DuckDB twin: md5_i64_duck)."""
    return F.conv(F.substring(F.md5(c.cast("binary")), 1, 15), 16, 10).cast("long")


def shingles_col(text: Column | str = "text", k: int = 3) -> Column:
    """Word k-shingles as an array column (JVM-side, no UDF). Documents
    shorter than k words fall back to the whole text as one shingle.

    Implementation: zip_with over k shifted slices of the word array.
    NOT `transform(sequence(...), i -> element_at(w, i+j))`: a lambda that
    references the word-array *expression* re-evaluates it per element
    (the split would run O(tokens) times per row); slices/zip_with
    evaluate each child once per row."""
    w = words_col(text)
    n = F.size(w)
    width = n - (k - 1)
    parts = [F.slice(w, i + 1, width) for i in range(k)]
    grams = parts[0]
    for p in parts[1:]:
        grams = F.zip_with(grams, p, lambda a, b: F.concat_ws(" ", a, b))
    return F.when(n >= k, grams).otherwise(
        F.array(F.trim(F.col(text) if isinstance(text, str) else text))
    )


def shingle_hashes(sh: Column) -> Column:
    """Each shingle hashed once to int64 (md5_i64) — materialize this as a
    column BEFORE computing signatures so the string hashing isn't
    repeated per seed."""
    return F.transform(sh, md5_i64)


def minhash_signature(hashed_col: str, n_hashes: int = N_MINHASH) -> Column:
    """MinHash signature over a pre-hashed shingle column: for seed j, min
    over the affine fold (Aⱼ·(h mod P) + Bⱼ) mod P (see MH_COEFFS notes).
    Seeding arithmetic over fixed-width int64s instead of re-hashing
    variable-length strings cuts the per-seed cost ~n_hashes× — all
    Spark-native codegen, map-side.

    Built via F.expr, NOT a Python lambda: PySpark deduplicates
    higher-order-function lambdas by their bytecode, so 32 lambdas that
    differ only in a captured literal all resolve to ONE expression —
    every "seed" silently produced the same hash and the signature
    degenerated to 32 copies of a single min-hash (caught by the planted
    moderate-similarity pair test)."""
    # the whole signature as ONE parsed expression (was 3 py4j round
    # trips per seed + an n-ary F.array — pure plan-construction latency)
    sigs = ",".join(
        f"array_min(transform({hashed_col}, "
        f"h -> ({a}L * (h % {MH_PRIME}L) + {b}L) % {MH_PRIME}L))"
        for a, b in MH_COEFFS[:n_hashes]
    )
    return F.expr(f"array({sigs})")


@query(
    "dedup_exact",
    oracle="""
    SELECT md5(text) AS content_hash,
           CAST(min(doc_id) AS BIGINT) AS keep_doc_id,
           count(*) AS n_copies
    FROM documents GROUP BY md5(text)
    """,
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup by content hash: one representative (min doc_id) per
    distinct text. Shuffles digests only — works at any corpus size."""
    return (
        load(spark, sf_dir, "documents")
        .groupBy(F.md5(F.col("text").cast("binary")).alias("content_hash"))
        .agg(F.min("doc_id").alias("keep_doc_id"), F.count(F.lit(1)).alias("n_copies"))
    )


@query(
    "dedup_exact_keep_first",
    oracle="""
    SELECT doc_id, lang, source FROM (
        SELECT doc_id, lang, source,
               row_number() OVER (PARTITION BY text ORDER BY doc_id) AS rn
        FROM documents
    ) WHERE rn = 1
    """,
)
def dedup_exact_keep_first(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup keeping the lowest doc_id per duplicate group —
    deterministic (unlike dropDuplicates, which keeps an arbitrary row)."""
    from pyspark.sql import Window as W

    # window over the 16-byte digest, not the raw text: identical grouping
    # (collision-negligible, and the oracle uses the same function) while
    # the shuffle ships digests instead of full document bodies — the
    # module's "shuffle digests, not documents" rule applied to the window.
    w = W.partitionBy(F.md5(F.col("text").cast("binary"))).orderBy("doc_id")
    return (
        load(spark, sf_dir, "documents")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("doc_id", "lang", "source")
    )


def _mh_duck_ctes() -> str:
    """Shared DuckDB CTE prefix replaying the exact MinHash pipeline:
    3-gram shingles (whole trimmed text when <3 tokens), md5-60-bit
    distinct shingle hashes, the 32 affine folds, and the positional
    band keys. The same constants (MH_COEFFS, MH_PRIME) are inlined into
    both engines' plans, so the approximate operator is hash-checked, not
    merely row-counted — the _COS_LSH_ORACLE pattern applied to MinHash."""
    sig_terms = ",\n             ".join(
        f"list_min(list_transform(hs, h -> ({a} * (h % {MH_PRIME}) + {b}) % {MH_PRIME}))"
        for a, b in MH_COEFFS
    )
    return f"""
    ws AS (SELECT doc_id, string_split(trim(text), ' ') AS w, trim(text) AS t
           FROM documents),
    gr AS (SELECT doc_id,
                  CASE WHEN len(w) >= 3
                       THEN list_transform(range(1, len(w) - 1),
                                           i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])
                       ELSE [t] END AS grams
           FROM ws),
    hx AS (SELECT doc_id,
                  list_distinct(list_transform(grams, g -> {md5_i64_duck('g')})) AS hs
           FROM gr),
    sg AS (SELECT doc_id, hs,
                  [{sig_terms}] AS sig
           FROM hx),
    bnd AS (SELECT doc_id, b.band,
                   sig[2 * b.band + 1] * {MH_PRIME} + sig[2 * b.band + 2] AS bhash
            FROM sg, range({N_BANDS}) b(band))"""


_MH_JACCARD_TAIL = """
    j AS (SELECT c.*,
                 CAST(len(list_intersect(ha.hs, hb.hs)) AS DOUBLE)
                 / len(list_distinct(list_concat(ha.hs, hb.hs))) AS jac
          FROM cand c
          JOIN hx ha ON ha.doc_id = c.doc_a
          JOIN hx hb ON hb.doc_id = c.doc_b)"""


_MINHASH_ORACLE = f"""
    WITH {_mh_duck_ctes()},
    cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
             FROM bnd a JOIN bnd b
               ON a.band = b.band AND a.bhash = b.bhash AND a.doc_id < b.doc_id),
    {_MH_JACCARD_TAIL}
    SELECT doc_a, doc_b, round(jac, 4) AS jaccard FROM j WHERE jac >= 0.5
"""


@query("dedup_minhash_lsh", oracle=_MINHASH_ORACLE)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash + LSH near-duplicate candidate pairs, verified with exact
    shingle-set Jaccard.

    Pipeline: shingle → 32-hash MinHash signature → 16 bands × 2 rows →
    explode band keys → self-join on (band, band_hash) → exact Jaccard on
    the survivors. Only banding collisions are ever compared pairwise, so
    the cost is O(n·sig + pairs), not O(n²) — the standard web-scale
    near-dedup shape (Broder MinHash / LSH banding). md5-seeded hashes
    (see MH_COEFFS notes) let DuckDB replay the identical banding, so the
    check is a full value-hash match.
    """
    # The serving DataFrame is memoized per (session, sf_dir) — a prepared
    # statement, same rationale as dedup_embedding_cosine: the signature
    # subtree (shingle + 32 minhash folds) cost ~1.1s of re-analysis +
    # codegen per call vs ~0.1s of execution. Every action still re-executes
    # the plan.
    return session_memo(
        spark, sf_dir, "minhash_query", lambda: _build_minhash_query(spark, sf_dir)
    )


def minhash_signatures(docs: DataFrame) -> DataFrame:
    """(doc_id, hs, sig) for any (doc_id, text) frame: distinct hashed
    shingles plus the 32-fold MinHash signature — the unit the persisted
    signature index stores and every MinHash consumer computes from."""
    return (
        docs.select("doc_id", shingles_col().alias("sh"))
        .select("doc_id", F.array_distinct(shingle_hashes(F.col("sh"))).alias("hs"))
        .withColumn("sig", minhash_signature("hs"))
    )


def minhash_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The corpus signature table (doc_id, hs, sig) as a SHARED
    per-(session, sf_dir) frame, computed once (the serving plans scan a
    cached RDD instead of re-running the shingle+32-fold pipeline per
    consumer branch — the containment query alone has five subtrees that
    would each recompute it). At cluster scale this is the signature
    staging table both the LSH dedup and the containment dedup read."""
    return session_frame(
        spark,
        sf_dir,
        "minhash_docs",
        lambda: minhash_signatures(load_parallel(spark, sf_dir, "documents")),
    )


def minhash_band_keys(sigs: DataFrame, keep: tuple[str, ...] = ()) -> DataFrame:
    """Explode (doc_id, sig) into LSH band keys (doc_id, band, bhash) —
    band keys only by default, so no signature arrays ride any downstream
    shuffle. `keep` carries extra columns through the explode for
    consumers that must stay single-scan (the STREAMING dedup carries
    `hs` along because a stream may appear only once in its plan — a
    join-back for verification would be a stream-stream self-join).

    bhash = row₁·P + row₂ — injective over the band's rows (each < P) and
    exact in int64 (P² < 2⁶²), so equal keys ⟺ equal band rows, same as
    the hash combine it replaces, but replayable in DuckDB."""
    rows_per_band = N_MINHASH // N_BANDS

    def bhash(b: int) -> Column:
        acc = F.element_at("sig", b * rows_per_band + 1)
        for r in range(1, rows_per_band):
            acc = acc * F.lit(MH_PRIME).cast("long") + F.element_at(
                "sig", b * rows_per_band + r + 1
            )
        return acc

    return sigs.select(
        "doc_id",
        *keep,
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(b).alias("band"), bhash(b).alias("bhash"))
                    for b in range(N_BANDS)
                ]
            )
        ).alias("bk"),
    ).select("doc_id", *keep, "bk.band", "bk.bhash")


def _jaccard_verified(cand: DataFrame, hs_a: DataFrame, hs_b: DataFrame) -> DataFrame:
    """Exact-Jaccard verify of candidate (doc_a, doc_b) pairs against the
    hashed shingle sets: int64 sets carry the same value as string sets
    modulo negligible hash collisions, far cheaper to ship. Threshold on
    the RAW value (rounding is display-only), same boundary semantics as
    dedup_ngram_jaccard / dedup_embedding_cosine."""
    pairs = cand.join(hs_a, "doc_a").join(hs_b, "doc_b")
    jac = F.size(F.array_intersect("hs_a", "hs_b")).cast("double") / F.size(
        F.array_union("hs_a", "hs_b")
    )
    return pairs.filter(jac >= 0.5).select("doc_a", "doc_b", F.round(jac, 4).alias("jaccard"))


# MinHash band-bucket density guard (round 9 — the 30x probe measured
# dedup_minhash_lsh at 14.96x wall for 3x data on the replica-scaled
# corpus: replication inflates duplicate-cluster sizes ~linearly with
# scale, so per-bucket co-occupancy and the candidate-verify work grow
# quadratically. On REAL corpora a document's duplicate count is set by
# the data, not the corpus size — same documented class as the interval
# join and the cos-LSH bulk. The guard makes the caveat observed
# behavior: one census aggregate over the band keys before the self-join
# estimates candidate pairs Σ n_b·(n_b−1)/2; above MH_PAIRS_PER_DOC per
# document it LOGS (the registered query is exact-oracle-checked, so it
# never caps), and approximate callers may pass a per-bucket budget
# (deterministic hash-ranked keep, mirroring _bucket_capped).
MH_PAIRS_PER_DOC = 32.0
LAST_MH_GUARD: dict[str, float | int | bool] = {}


def minhash_density_guard(
    bands: DataFrame, budget: int | None = None, force: bool = False
) -> DataFrame:
    import logging

    log = logging.getLogger(__name__)
    census = (
        bands.groupBy("band", "bhash")
        .agg(F.count(F.lit(1)).alias("n"))
        .agg(
            F.coalesce(F.sum(F.col("n") * (F.col("n") - 1) / 2), F.lit(0.0)).alias("pairs"),
            F.coalesce(F.max("n"), F.lit(0)).alias("worst"),
            (F.coalesce(F.sum("n"), F.lit(0)) / N_BANDS).alias("docs"),
        )
        .collect()[0]
    )
    pairs, worst = int(census["pairs"]), int(census["worst"])
    docs = max(1, int(census["docs"]))
    engaged = pairs > MH_PAIRS_PER_DOC * docs
    info: dict[str, float | int | bool] = {
        "pairs": pairs,
        "worst_bucket": worst,
        "docs": docs,
        "pairs_per_doc": pairs / docs,
        "engaged": engaged,
        "budget": 0 if budget is None else budget,
        "capped_rows": 0,
    }
    if engaged:
        log.warning(
            "MinHash-LSH density guard ENGAGED: %d candidate pairs for %d "
            "docs (%.1f pairs/doc > %.0f budget; worst bucket %d members). "
            "Duplicate-cluster sizes are growing with the corpus — on real "
            "data a doc's dup count is corpus-size-independent and this "
            "join is linear.%s",
            pairs,
            docs,
            info["pairs_per_doc"],
            MH_PAIRS_PER_DOC,
            worst,
            "" if budget is None else f" Capping buckets to {budget} members.",
        )
    # force=True is the registered *_capped surface (VERDICT r9 #3): the
    # cap applies unconditionally — a hard, deterministic bound the
    # oracle replays — instead of only when the census trips.
    if budget is not None and (engaged or force):
        from pyspark.sql import Window as W

        rank_key = F.md5(
            F.concat_ws("|", F.col("band"), F.col("bhash"), F.col("doc_id")).cast("binary")
        )
        w = W.partitionBy("band", "bhash").orderBy(rank_key, "doc_id")
        pre = bands.count()
        bands = (
            bands.withColumn("_slot", F.row_number().over(w))
            .filter(F.col("_slot") <= budget)
            .drop("_slot")
        )
        info["capped_rows"] = pre - bands.count()
    LAST_MH_GUARD.clear()
    LAST_MH_GUARD.update(info)
    return bands


def _build_minhash_query(
    spark: SparkSession,
    sf_dir: str,
    budget: int | None = None,
    force: bool = False,
) -> DataFrame:
    # Signatures computed ONCE per (session, sf_dir) via the shared
    # minhash_docs artifact: the band self-join and the two verify joins
    # below would otherwise each recompute the whole shingle+hash
    # pipeline, and the checkpoint truncates the lineage so the serving
    # plan is a cached-RDD scan.
    docs = minhash_docs(spark, sf_dir)
    bands = minhash_density_guard(minhash_band_keys(docs), budget=budget, force=force)

    a = bands.alias("a")
    b = bands.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bhash") == F.col("b.bhash"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .dropDuplicates(["doc_a", "doc_b"])
    )
    return _jaccard_verified(
        cand,
        docs.select(F.col("doc_id").alias("doc_a"), F.col("hs").alias("hs_a")),
        docs.select(F.col("doc_id").alias("doc_b"), F.col("hs").alias("hs_b")),
    )


# Registered CAP consumer (VERDICT r9 next-round #3): the exact twin
# above runs the guard LOG-ONLY because capping would break its oracle;
# this variant ships the scale valve through the product surface with a
# budget the oracle REPLAYS — the md5-ranked per-bucket keep is
# order-free by construction (rank = md5(band|bhash|doc_id), no
# engine-dependent tie), so the approximate result is still a full
# value-hash check, not rows-only. Budget 2 deliberately bites at
# sf0.01 (measured bucket histogram: 15 buckets of 3, 1 of 5), proving
# the cap path end-to-end rather than riding a no-op.
MH_CAP_BUDGET = 2

_MINHASH_CAPPED_ORACLE = f"""
    WITH {_mh_duck_ctes()},
    bndc AS (SELECT doc_id, band, bhash FROM (
        SELECT doc_id, band, bhash,
               row_number() OVER (PARTITION BY band, bhash
                 ORDER BY md5(concat_ws('|', band, bhash, doc_id)), doc_id)
                   AS slot
        FROM bnd) WHERE slot <= {MH_CAP_BUDGET}),
    cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
             FROM bndc a JOIN bndc b
               ON a.band = b.band AND a.bhash = b.bhash AND a.doc_id < b.doc_id),
    {_MH_JACCARD_TAIL}
    SELECT doc_a, doc_b, round(jac, 4) AS jaccard FROM j WHERE jac >= 0.5
"""


@query("dedup_minhash_capped", oracle=_MINHASH_CAPPED_ORACLE)
def dedup_minhash_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dedup_minhash_lsh with the density guard's PER-BUCKET CAP engaged
    unconditionally (budget={MH_CAP_BUDGET}) — the registered consumer of
    the scale valve the round-9 30x probe motivated (replica corpora
    densify band buckets quadratically; the guard census makes it
    observable, this query makes the mitigation a product surface). Each
    (band, bhash) bucket keeps its {MH_CAP_BUDGET} lowest-md5-ranked
    members before the self-join, bounding candidate pairs at
    buckets x C(budget, 2) regardless of how hot any bucket gets. The
    trade is recall on LARGE duplicate clusters only (a cluster of k
    copies shares buckets, so its surviving members still pair up; the
    dropped members are exactly the ones exact dedup would delete
    anyway). Deterministic by construction: md5(band|bhash|doc_id) rank,
    doc_id tiebreak — both engines replay the identical keep-set, so
    the driver's value hash checks the CAPPED semantics end-to-end."""
    return session_memo(
        spark,
        sf_dir,
        "minhash_query_capped",
        lambda: _build_minhash_query(spark, sf_dir, budget=MH_CAP_BUDGET, force=True),
    )


#: iterations the last connected_components run took (None before any run)
#: — bench/headroom record it: convergence must track log(component
#: diameter), not corpus size, and a silent growth here is a scale bug.
LAST_CC_ITERS: int | None = None


def connected_components(pairs: DataFrame, max_iters: int = 50) -> DataFrame:
    """Connected components over an undirected edge list (doc_a, doc_b) by
    iterative min-label propagation: every node starts labeled with itself;
    each round every node takes the min label in its neighborhood; stop when
    no label changes. Converges in O(diameter) rounds — near-dup clusters
    are small and dense, so typically 2-4.

    This is the canonical Spark shape for iterative graph algorithms the
    SQL surface can't express: a driver loop over DataFrame ops, each
    iteration one shuffle keyed on node id. Each iteration's labels end in
    an EAGER localCheckpoint rather than a bare persist: a persist-only
    loop re-plans a lineage that grows by one join per iteration (planning
    cost O(k) at iteration k — the classic iterative-Spark trap), while
    checkpointing pins the result AND truncates the plan, keeping every
    iteration's analysis cost constant. Superseded checkpoints are freed
    by the ContextCleaner once unreferenced.
    """
    edges = (
        pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
        .union(pairs.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    labels = (
        edges.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
        .localCheckpoint(eager=True)
    )
    global LAST_CC_ITERS
    for it in range(max_iters):
        neighbor_min = (
            edges.join(labels, edges.dst == labels.node)
            .groupBy(F.col("src").alias("node"))
            .agg(F.min("label").alias("nbr_label"))
        )
        new_labels = (
            labels.join(neighbor_min, "node", "left")
            .select(
                "node",
                F.least(F.col("label"), F.coalesce("nbr_label", "label")).alias("label"),
            )
            .localCheckpoint(eager=True)
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "node")
            .filter(F.col("n.label") != F.col("o.label"))
            .limit(1)
            .count()
        )
        labels = new_labels
        if changed == 0:
            LAST_CC_ITERS = it + 1
            break
    else:
        # fail loudly: silently returning non-converged labels would mark
        # two "keep" representatives inside one duplicate cluster
        raise RuntimeError(
            f"connected_components did not converge in {max_iters} iterations "
            "(component diameter exceeds the cap); raise max_iters"
        )
    return labels


_CLUSTERS_ORACLE = f"""
    WITH RECURSIVE {_mh_duck_ctes()},
    cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
             FROM bnd a JOIN bnd b
               ON a.band = b.band AND a.bhash = b.bhash AND a.doc_id < b.doc_id),
    {_MH_JACCARD_TAIL},
    pairs AS (SELECT doc_a, doc_b FROM j WHERE jac >= 0.5),
    edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
              UNION SELECT doc_b, doc_a FROM pairs),
    nodes AS (SELECT DISTINCT src AS v FROM edges),
    reach(v, u) AS (
        SELECT v, v FROM nodes
        UNION
        SELECT r.v, e.dst FROM reach r JOIN edges e ON r.u = e.src)
    SELECT v AS doc_id, min(u) AS cluster_id, (v = min(u)) AS keep
    FROM reach GROUP BY v
"""


@query("dedup_clusters", oracle=_CLUSTERS_ORACLE)
@prepared("dedup_clusters_query")
def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end near-dedup: MinHash-LSH candidate pairs → connected
    components → per-document (cluster_id, keep) verdict, keeping the
    lowest doc_id of each cluster — the actual deletion list a training
    pipeline consumes.

    Now a full value-hash check: the md5-seeded pairs are deterministic,
    so DuckDB replays the banding AND closes the components with a
    recursive reachability CTE (min reachable node = the same min-label
    fixpoint the Spark loop converges to). The Spark side stays the
    iterative driver loop — O(diameter) keyed shuffles, the only shape
    that survives 100 TB where the SQL closure's transitive blow-up
    cannot — but its result is now oracle-verified, not just pinned by
    the union-find pytest twin.

    Prepared per (session, sf_dir): the label propagation loop runs once
    and its checkpointed fixpoint is the index artifact (the cluster map);
    repeated invocations serve from it, consistent with the LSH band and
    signature indexes this module already memoizes."""
    pairs = dedup_minhash_lsh(spark, sf_dir)
    labels = connected_components(pairs)
    return labels.select(
        F.col("node").alias("doc_id"),
        F.col("label").alias("cluster_id"),
        (F.col("node") == F.col("label")).alias("keep"),
    )


@query(
    "dedup_ngram_jaccard",
    oracle="""
    WITH d AS (
        SELECT doc_id,
               list_distinct(string_split(trim(text), ' ')) AS ws,
               md5(array_to_string(string_split(trim(text), ' ')[1:8], ' ')) AS blk
        FROM documents
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           round(CAST(len(list_intersect(a.ws, b.ws)) AS DOUBLE)
                 / len(list_distinct(list_concat(a.ws, b.ws))), 4) AS jaccard
    FROM d a JOIN d b ON a.blk = b.blk AND a.doc_id < b.doc_id
    WHERE CAST(len(list_intersect(a.ws, b.ws)) AS DOUBLE)
          / len(list_distinct(list_concat(a.ws, b.ws))) >= 0.3
    """,
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact word-set Jaccard similarity over blocked candidate pairs.

    Blocking key = 8-token prefix hash (text_fingerprint's prefix_md5), so
    only same-prefix docs are compared — a deliberate cheap blocker that
    demonstrates the block→verify shape with a SQL-checkable oracle.

    The blocked table is materialized once (eager localCheckpoint) so the
    self-join's two sides read it instead of each re-scanning documents
    and re-tokenizing (the plan audit showed the doubled scan)."""
    d = (
        load_parallel(spark, sf_dir, "documents")
        .select(
            "doc_id",
            F.array_distinct(words_col()).alias("ws"),
            F.md5(F.concat_ws(" ", F.slice(words_col(), 1, 8)).cast("binary")).alias("blk"),
        )
        .localCheckpoint(eager=True)
    )
    a, b = d.alias("a"), d.alias("b")
    jac = F.size(F.array_intersect("a.ws", "b.ws")).cast("double") / F.size(
        F.array_union("a.ws", "b.ws")
    )
    return (
        a.join(b, (F.col("a.blk") == F.col("b.blk")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .filter(jac >= 0.3)
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.round(jac, 4).alias("jaccard"),
        )
    )


_SIMHASH_ORACLE = f"""
    WITH t AS (SELECT doc_id, {md5_i64_duck('u.w')} AS h
               FROM documents, unnest(string_split(trim(text), ' ')) AS u(w)),
    v AS (SELECT doc_id, r.j,
                 sum(CASE WHEN (h >> r.j) & 1 = 1 THEN 1 ELSE -1 END) AS vote
          FROM t, range({SIMHASH_BITS}) r(j)
          GROUP BY doc_id, r.j)
    SELECT doc_id,
           CAST(sum(CASE WHEN vote > 0 THEN (1::BIGINT << j) ELSE 0 END) AS BIGINT)
               AS simhash
    FROM v GROUP BY doc_id
"""


@query("dedup_simhash", oracle=_SIMHASH_ORACLE)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """60-bit SimHash per document (Charikar): per-token md5-derived hash,
    signed bit votes, majority sign per bit. Explode + groupBy keeps it
    fully distributed; the 60 conditional sums are one partial-aggregated
    shuffle keyed on doc_id. md5 seeding (60 usable bits) makes the full
    bit-vote pipeline DuckDB-replayable — a value-hash check, not
    rows-only."""
    docs = load_parallel(spark, sf_dir, "documents")
    tokens = docs.select("doc_id", F.explode(words_col()).alias("w")).withColumn(
        "h", md5_i64(F.col("w"))
    )
    bit_votes = [
        F.sum(
            F.when(F.shiftright("h", j).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"b{j}")
        for j in range(SIMHASH_BITS)
    ]
    voted = tokens.groupBy("doc_id").agg(*bit_votes)
    sim = None
    for j in range(SIMHASH_BITS):
        term = F.when(F.col(f"b{j}") > 0, F.lit(1 << j).cast("long")).otherwise(F.lit(0).cast("long"))
        sim = term if sim is None else sim + term
    return voted.select("doc_id", sim.alias("simhash"))


# --- embedding near-dup: banded random-hyperplane LSH (Charikar SimHash) ---
# 16 bands × 6 planes: a pair is a candidate iff some band's 6-bit bucket
# matches. P(candidate) = 1-(1-p^6)^16 where p = 1-θ/π: ≈99.9% at cos 0.8,
# ≈0.7 at the corpus-calibrated 0.45 dedup threshold, ≈21% at cos 0.
# 6 (not 8) planes per band because the SAME index serves sim_lsh_topk,
# whose true top-k neighbors sit at MODERATE cosine: with 8-plane buckets
# its measured recall@5 was 0.16-0.24; 6 planes lifts it to ~0.6 (measured;
# tests pin the floor) at ~4× the candidate count — still bucket-bounded
# and exact-verified, the s-curve trade MinHash banding makes above.
# Planes are deterministic (seed 42, rounded to 4 decimals) and inlined into
# BOTH engines' SQL, so the approximate operator is still hash-checked.
N_COS_BANDS = 16
COS_PLANES_PER_BAND = 6
COS_THRESHOLD = 0.45  # corpus max pair cosine is ~0.51; 0.8 matches nothing
EMB_DIM = 64  # embeddings table vector width (schema constant — lets the
# hot-path dot products unroll into codegen instead of interpreted folds)

# --- scale guard for the candidate-verify stage (VERDICT r4 #1) ----------
# LSH banding bounds the verify cost ONLY when the similarity threshold
# sits ABOVE the random-pair cosine bulk: then true pairs are ~linear and
# band collisions track them. When the threshold sits INSIDE the bulk (as
# the corpus-calibrated 0.45 does on this synthetic corpus — measured
# ~0.006% of ALL pairs qualify), banding admits a fixed fraction of all
# pairs and the verify is Θ(n²) no matter how the bands are tuned — the
# r4 headroom run measured 6.96s → 70.3s at 10×. Two defenses, both
# applied at plan-build time by cos_scale_guard():
#   1. estimate, from a ~1k-vector sample (driver-side numpy on ~0.5M
#      sampled pairs — model-sized), BOTH the random-pair cosine quantile
#      AND the fraction of random pairs the banding itself admits;
#   2. if the threshold does not clear the bulk OR the banding admits a
#      non-vanishing random fraction, cap every (band, bucket) at
#      COS_BUCKET_BUDGET members for pair GENERATION (deterministic
#      hash-ranked keep; drops logged) — verify cost is then bounded by
#      buckets × B²/2 BY CONSTRUCTION, independent of corpus size.
# B = 128 clears the sf0.1 max bucket (97 measured), so bench-scale
# results are bit-identical to the uncapped plan, while the 10× corpus
# (avg bucket ~312) is capped to ≤ ~8.4M verify pairs vs ~50M uncapped.
# Reference analogue: the fan-out principle (QO:478-496) — no unit of
# work may grow with the square of the corpus.
COS_BUCKET_BUDGET = 128
COS_RANDOM_QUANTILE = 0.999  # "bulk" = this quantile of random-pair cosine
COS_ADMIT_EPS = 1e-3  # banding admitting >0.1% of RANDOM pairs ⇒ Θ(n²) verify


def estimate_cos_scale_stats(e: DataFrame, n_sample: int = 1024) -> dict[str, float]:
    """Sample ~n_sample vectors (map-side hash filter + limit — never a
    global sort) and estimate, in driver numpy over ≤ ~0.5M sampled pairs
    (model-sized, same budget class as the IVF centroid collects):

    - ``quantile``: the q99.9 of the random-pair cosine distribution —
      the bulk a healthy near-dup threshold must clear;
    - ``admit_frac``: the fraction of RANDOM pairs the shipped 16×6
      banding admits as candidates (replaying the exact _cos_planes()
      bucketing). This is the direct quadratic-verify signal: candidate
      count ≈ admit_frac · n²/2, so any non-vanishing value means the
      verify grows with the square of the corpus no matter the threshold.
    """
    import numpy as np

    rows = (
        e.select("v")
        .where(F.pmod(F.xxhash64(F.col("vec_id")), F.lit(7)) == 0)
        .limit(n_sample)
        .collect()
    )
    x = np.asarray([r["v"] for r in rows], dtype=np.float64)
    if len(x) < 2:
        return {"quantile": 1.0, "admit_frac": 0.0, "n_sampled": float(len(x))}
    xn = x / np.linalg.norm(x, axis=1, keepdims=True)
    sims = xn @ xn.T
    iu = np.triu_indices(len(x), k=1)
    quantile = float(np.quantile(sims[iu], COS_RANDOM_QUANTILE))

    planes = _cos_planes()  # (bands·planes_per_band, 64)
    bits = (x @ planes.T) > 0  # (n, 96) sign pattern — same folds as the plan
    weights = 1 << np.arange(COS_PLANES_PER_BAND - 1, -1, -1)
    buckets = (
        bits.reshape(len(x), N_COS_BANDS, COS_PLANES_PER_BAND) @ weights
    )  # (n, bands)
    admitted = np.zeros((len(x), len(x)), dtype=bool)
    for b in range(N_COS_BANDS):
        admitted |= buckets[:, b][:, None] == buckets[:, b][None, :]
    admit_frac = float(admitted[iu].mean())
    return {"quantile": quantile, "admit_frac": admit_frac, "n_sampled": float(len(x))}


def _bucket_capped(bands: DataFrame, budget: int) -> DataFrame:
    """Keep at most `budget` members per (band, bucket) for pair
    generation: deterministic hash-ranked selection (md5 of the full key,
    vec_id tiebreak) so the kept set is stable across runs and not biased
    toward low vec_ids in every band. The window's partition keys match
    the index's repartition keys, so no exchange is added — one
    per-partition sort."""
    from pyspark.sql import Window as W

    rank_key = F.md5(
        F.concat_ws("|", F.col("band"), F.col("bucket"), F.col("vec_id")).cast("binary")
    )
    w = W.partitionBy("band", "bucket").orderBy(rank_key, "vec_id")
    return (
        bands.withColumn("_slot", F.row_number().over(w))
        .filter(F.col("_slot") <= budget)
        .drop("_slot")
    )


#: last guard decision, for tests/diagnostics:
#: {quantile, threshold, engaged, budget, capped_buckets, dropped_rows}
LAST_COS_GUARD: dict[str, float | bool | int] = {}


def cos_scale_guard(
    bands: DataFrame,
    e: DataFrame,
    threshold: float = COS_THRESHOLD,
    budget: int = COS_BUCKET_BUDGET,
) -> DataFrame:
    """Plan-build-time scale assertion for the cos-LSH verify (see the
    COS_BUCKET_BUDGET notes). The per-(band,bucket) budget is applied
    UNCONDITIONALLY (r11, ADVICE r10 #1): the oracle replays the B=128
    cap as a fixed part of the serving semantics, so the Spark plan must
    carry it whether or not the sampled census engages — a corpus whose
    ~1k-row sample looks quiet can still hold one dense cluster that
    overflows a bucket, and a conditional cap would then diverge from the
    differential check. Below the budget the cap is an exact no-op (every
    driver-SF hash unchanged). The sampled census now only decides whether
    to SPEND the diagnostic aggregate + warning log — capping is a recall
    trade and silence would misreport coverage.

    Two independent engage signals, either fires:
    1. threshold ≤ sampled random-pair cosine q99.9 — the threshold sits
       inside the bulk and cannot separate duplicates from noise;
    2. the banding admits > COS_ADMIT_EPS of RANDOM pairs — candidates ≈
       admit_frac·n²/2 regardless of where the threshold sits (the direct
       quadratic signal: this corpus' 16×6 banding admits ~22% of random
       pairs, which is WHY r4 measured 70.3s at 10×)."""
    import logging

    log = logging.getLogger(__name__)
    stats = estimate_cos_scale_stats(e)
    quantile, admit_frac = stats["quantile"], stats["admit_frac"]
    engaged = threshold <= quantile or admit_frac > COS_ADMIT_EPS
    info: dict[str, float | bool | int] = {
        "quantile": quantile,
        "admit_frac": admit_frac,
        "threshold": threshold,
        "engaged": engaged,
        "budget": budget,
        "capped_buckets": 0,
        "dropped_rows": 0,
    }
    if engaged:
        over = (
            bands.groupBy("band", "bucket")
            .agg(F.count(F.lit(1)).alias("n"))
            .filter(F.col("n") > budget)
            .agg(
                F.count(F.lit(1)).alias("capped_buckets"),
                F.coalesce(F.sum(F.col("n") - budget), F.lit(0)).alias("dropped_rows"),
            )
            .collect()[0]
        )
        info["capped_buckets"] = int(over["capped_buckets"])
        info["dropped_rows"] = int(over["dropped_rows"])
        log.warning(
            "cos-LSH scale guard ENGAGED (threshold %.3f vs random-pair "
            "q%.1f%% ≈ %.3f; banding admits %.1f%% of random pairs — Θ(n²) "
            "verify). Per-(band,bucket) budget B=%d: %d oversized buckets, "
            "%d memberships dropped from pair generation.",
            threshold,
            COS_RANDOM_QUANTILE * 100,
            quantile,
            admit_frac * 100,
            budget,
            info["capped_buckets"],
            info["dropped_rows"],
        )
    # Always cap — the census above is diagnostics, not a gate (see
    # docstring). _bucket_capped is deterministic (md5 rank, vec_id
    # tiebreak) and a no-op on every bucket within budget.
    bands = _bucket_capped(bands, budget)
    LAST_COS_GUARD.clear()
    LAST_COS_GUARD.update(info)
    return bands


def _cos_planes():
    import numpy as np

    rng = np.random.RandomState(42)
    return np.round(rng.standard_normal((N_COS_BANDS * COS_PLANES_PER_BAND, 64)), 4)


def _dlit(x: float) -> str:
    return repr(float(x)) + "D"


def lsh_band_keys_v(e: DataFrame) -> DataFrame:
    """(vec_id, band, bucket, v) LSH band keys for an input of
    (vec_id, v: array<double>) — ONE map pass, zero shuffles.

    The hyperplanes are shipped as a broadcast 16-row DataFrame (band,
    nested 6×64 plane matrix, bit weights), NOT inlined as literals: the
    literal form put 8k Catalyst nodes in the plan and its ANALYSIS cost
    was both large and wildly variable (5-35s observed under driver GC
    pressure). Each band's bucket is computed INLINE on its (vector,
    band) row as Σ (dot(v, pᵣ) > 0)·2^(planes_per_band−1−r) — a nested
    zip_with/aggregate fold, so the old 128-rows-per-vector explosion +
    (vec_id, band) groupBy SHUFFLE is gone (round 3's profile put the
    doubled execution of that subtree at ~10s of the 13.5s index build).
    The fold is the identical left-to-right integer sum the grouped
    variant produced, so the DuckDB oracle's inlined-plane replay still
    hash-matches."""
    spark = e.sparkSession
    planes = _cos_planes()
    rows = [
        (
            b,
            [
                [float(x) for x in planes[b * COS_PLANES_PER_BAND + r]]
                for r in range(COS_PLANES_PER_BAND)
            ],
        )
        for b in range(N_COS_BANDS)
    ]
    pdf = spark.createDataFrame(rows, "band int, ps array<array<double>>")
    # per-band bucket as a nested fold: Σ_r (dot(v, pᵣ) > 0)·2^(5−r).
    # Kept as zip_with/aggregate HOFs — an unrolled 6×64-term variant was
    # tried and was 6× SLOWER (the ~1600-node expression falls out of
    # whole-stage codegen); the fold stays compact and the integer sum is
    # order-exact either way.
    weights = F.array(
        *[F.lit(1 << (COS_PLANES_PER_BAND - 1 - r)) for r in range(COS_PLANES_PER_BAND)]
    )
    bucket = F.aggregate(
        F.zip_with(
            F.col("ps"), weights, lambda p, w: F.when(dot(F.col("v"), p) > 0, w).otherwise(F.lit(0))
        ),
        F.lit(0),
        lambda acc, x: acc + x,
    ).cast("int")
    passthrough = [c for c in e.columns if c not in ("vec_id", "v")]
    return e.crossJoin(F.broadcast(pdf)).select(
        "vec_id", "band", bucket.alias("bucket"), "v", *passthrough
    )


def lsh_band_keys(e: DataFrame) -> DataFrame:
    """(vec_id, band, bucket) — lsh_band_keys_v without the vector payload."""
    return lsh_band_keys_v(e).select("vec_id", "band", "bucket")


def lsh_band_pairs(e: DataFrame, bands: DataFrame | None = None) -> DataFrame:
    """Candidate pairs (vec_a < vec_b) sharing ≥1 band bucket — a plain
    equi-join on (band, bucket), never an all-pairs nested loop: the plan
    that survives 100 TB. Factored out so tests can run the identical
    pipeline over planted near-duplicate vectors. Pass a persisted
    ``bands`` to stop the self-join computing the signature subtree twice."""
    if bands is None:
        bands = lsh_band_keys(e)
    a, b = bands.alias("a"), bands.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(F.col("a.vec_id").alias("vec_a"), F.col("b.vec_id").alias("vec_b"))
        .dropDuplicates(["vec_a", "vec_b"])
    )


def _cos_planes_duck() -> str:
    return "[" + ", ".join(
        "[" + ", ".join(repr(float(x)) for x in p) + "]" for p in _cos_planes()
    ) + "]::DOUBLE[][]"


_COS_LSH_ORACLE = f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    s AS (SELECT vec_id,
                 list_transform({_cos_planes_duck()},
                                p -> CASE WHEN list_dot_product(v, p) > 0
                                     THEN 1 ELSE 0 END) AS sig
          FROM e),
    bands AS (
        SELECT vec_id, bd.band,
               list_reduce(sig[bd.band * {COS_PLANES_PER_BAND} + 1
                               : bd.band * {COS_PLANES_PER_BAND} + {COS_PLANES_PER_BAND}],
                           (a, x) -> a * 2 + x) AS bucket
        FROM s, range({N_COS_BANDS}) bd(band)),
    bandsc AS (
        -- replay cos_scale_guard's per-(band,bucket) budget (_bucket_capped:
        -- md5 rank, vec_id tiebreak). The guard engages on this corpus
        -- family at EVERY SF (the banding admits ~22-24% of random pairs),
        -- so the serving semantics are "bounded at B" by design; below the
        -- budget the cap is a no-op on both engines (every driver-SF hash
        -- unchanged), and at 10x — where r10's first full sf1 gate caught
        -- this oracle diverging — it reproduces the identical keep-set.
        SELECT vec_id, band, bucket FROM (
            SELECT vec_id, band, bucket,
                   row_number() OVER (PARTITION BY band, bucket
                     ORDER BY md5(concat_ws('|', band, bucket, vec_id)), vec_id)
                       AS slot
            FROM bands) WHERE slot <= {COS_BUCKET_BUDGET}),
    cand AS (
        SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
        FROM bandsc a JOIN bandsc b
          ON a.band = b.band AND a.bucket = b.bucket AND a.vec_id < b.vec_id),
    scored AS (
        SELECT c.vec_a, c.vec_b,
               list_dot_product(ea.v, eb.v)
               / (sqrt(list_dot_product(ea.v, ea.v)) * sqrt(list_dot_product(eb.v, eb.v)))
                   AS cos_raw
        FROM cand c
        JOIN e ea ON ea.vec_id = c.vec_a
        JOIN e eb ON eb.vec_id = c.vec_b)
    SELECT vec_a, vec_b, round(cos_raw, 4) AS cos_sim
    FROM scored WHERE cos_raw > {COS_THRESHOLD}
"""


@query("dedup_embedding_cosine", oracle=_COS_LSH_ORACLE)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-duplicate pairs: banded hyperplane-LSH candidate
    generation (equi-join on (band, bucket) — sim_lsh_topk's shape, never
    an all-pairs nested loop) followed by exact cosine verification above
    COS_THRESHOLD. Replaces round 1's O(n²) BroadcastNestedLoopJoin variant,
    whose 0.8 threshold also matched zero corpus pairs (a vacuous check);
    0.45 yields real pairs at every SF and the oracle replays the identical
    banding, so the result is value-hash-checked end to end.

    Cost ordering matters: vectors (and their precomputed norms) ride ALONG
    through the band self-join so each candidate pair is scored immediately
    and the threshold filter runs BEFORE any distinct — the pair-dedup
    shuffle then carries only the ~|true near-dups| survivors (115 at
    sf0.1) instead of every band collision. A pair colliding in k bands is
    scored k times — map-side, k ≤ 16, and measured duplication is only
    1.16× (549k collisions vs 472k unique pairs at sf0.1: this corpus has
    no high-cosine clusters, so the 16×6 banding admits ~22% of all pairs,
    exactly the s-curve's value at cos≈0) — far cheaper than a
    dedup-then-join-back round trip."""
    e = load_parallel(spark, sf_dir, "embeddings").select(
        "vec_id", as_double("embedding").alias("v")
    )
    # The whole serving DataFrame is memoized per (session, sf_dir) — a
    # prepared statement. Re-invoking the builder re-EXECUTES the plan
    # (nothing downstream is persisted, so every action recomputes from the
    # index), but skips re-analysis + codegen: rebuilding the query each
    # call cost ~0.3s of planning vs 0.04s of execution.
    return session_memo(
        spark, sf_dir, "cos_lsh_query", lambda: _build_cos_lsh_query(spark, sf_dir, e)
    )


def cos_lsh_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The banded hyperplane index as a shared per-session artifact:
    (vec_id, band, bucket, v, n) — n is the PRECOMPUTED L2 norm, so the
    per-collision verify in both consumers is one dot-product fold instead
    of three (the norms folds were ~2/3 of the first serving execution's
    cost at sf0.1). n = sqrt(dot(v, v)) with the identical fold the inline
    cosine used, so cos = dot/(n_a·n_b) is bit-identical to the oracle's
    replay. Pre-partitioned on the (band, bucket) join key (drops both
    pre-join exchanges) and materialized once per session — truncating
    the lineage to a cached-RDD scan so serving plans are tiny. ONE index
    serves both the near-dup self-join (dedup_embedding_cosine) and the
    top-k probe join (sim_lsh_topk) — the multi-consumer payoff of
    materializing the banding."""
    from ..functions.vectors import l2_norm

    return session_frame(
        spark,
        sf_dir,
        "cos_lsh_bands_v",
        # lsh_band_keys_v carries v (and the norm) through the one-pass
        # banding, so the old join-back-on-vec_id (which re-executed the
        # whole band-keys subtree under the checkpoint) is gone: one scan,
        # one repartition on the join key, one materialization.
        lambda: lsh_band_keys_v(
            load_parallel(spark, sf_dir, "embeddings")
            .select("vec_id", as_double("embedding").alias("v"))
            .withColumn("n", l2_norm(F.col("v")))
        ).repartition(F.col("band"), F.col("bucket")),
    )


def _build_cos_lsh_query(spark: SparkSession, sf_dir: str, e: DataFrame) -> DataFrame:
    bands = cos_lsh_index(spark, sf_dir)
    # scale guard (memoized with the serving query): at 0.45 on this corpus
    # the budget ENGAGES — but B=128 exceeds every bench-SF bucket, so the
    # oracle hash is unchanged while the 10×+ verify is bounded.
    bands = cos_scale_guard(bands, e)
    a = bands.select(
        F.col("vec_id").alias("vec_a"),
        "band",
        "bucket",
        F.col("v").alias("v_a"),
        F.col("n").alias("n_a"),
    )
    b = bands.select(
        F.col("vec_id").alias("vec_b"),
        F.col("band").alias("b_band"),
        F.col("bucket").alias("b_bucket"),
        F.col("v").alias("v_b"),
        F.col("n").alias("n_b"),
    )
    # cos = dot/(n_a·n_b) with the index's precomputed norms — the same
    # float ops in the same order as cosine(), one dot fold per pair
    cs = dot(F.col("v_a"), F.col("v_b")) / (F.col("n_a") * F.col("n_b"))
    return (
        a.join(
            b,
            (F.col("band") == F.col("b_band"))
            & (F.col("bucket") == F.col("b_bucket"))
            & (F.col("vec_a") < F.col("vec_b")),
        )
        .filter(cs > COS_THRESHOLD)
        .select("vec_a", "vec_b", F.round(cs, 4).alias("cos_sim"))
        .dropDuplicates(["vec_a", "vec_b"])
    )


# --- containment dedup (near-superset / excerpt detection) ---
# MinHash-LSH targets symmetric Jaccard and BY DESIGN misses asymmetric
# overlap: an excerpt contained in a much larger page has high
# containment |A∩B|/|A| but low Jaccard, so its bands rarely collide.
# Candidate generation here is the other classic shape: a posting-list
# self-join over RARE shingles (shared by 2..CONTAIN_MAX_POSTING docs).
# Frequency pruning is what bounds the join at scale — a boilerplate
# shingle shared by millions of docs would otherwise create a quadratic
# posting-list blow-up; dropping frequent shingles costs nothing because
# any pair with meaningful containment shares many RARE shingles too.
CONTAIN_MAX_POSTING = 20  # posting-list cap: shingles in >20 docs are "stop"
CONTAIN_THRESHOLD = 0.6  # max(containment_a, containment_b) cutoff
# Candidate prefilter: a pair must share ≥ this many RARE shingles to be
# verified. The multi-evidence principle: a doc 60%-contained in another
# shares a large fraction of its (hundreds of) shingles, so requiring 3
# rare co-occurrences costs no recall headroom — measured at sf0.1, 90% of
# candidate pairs share exactly ONE rare shingle, 99% share ≤2, while the
# weakest actual ≥0.6-containment hit shares 8 — but cuts the verify join
# 115× (1.12M → 9.8k pairs). Same bounding role as the posting cap: both
# make candidate cost a small constant per document.
CONTAIN_MIN_SHARED = 3

_CONTAINMENT_ORACLE = f"""
    WITH {_mh_duck_ctes()},
    occ AS (SELECT doc_id, h.h AS h FROM hx, unnest(hs) AS h(h)),
    rare AS (SELECT h FROM occ GROUP BY h
             HAVING count(*) BETWEEN 2 AND {CONTAIN_MAX_POSTING}),
    cand AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
             FROM occ a JOIN rare USING (h) JOIN occ b USING (h)
             WHERE a.doc_id < b.doc_id
             GROUP BY 1, 2 HAVING count(*) >= {CONTAIN_MIN_SHARED}),
    scored AS (
        SELECT c.doc_a, c.doc_b,
               len(list_intersect(ha.hs, hb.hs)) AS n_shared,
               len(ha.hs) AS n_a, len(hb.hs) AS n_b
        FROM cand c
        JOIN hx ha ON ha.doc_id = c.doc_a
        JOIN hx hb ON hb.doc_id = c.doc_b)
    SELECT doc_a, doc_b,
           round(CAST(n_shared AS DOUBLE) / n_a, 4) AS contain_a,
           round(CAST(n_shared AS DOUBLE) / n_b, 4) AS contain_b
    FROM scored
    WHERE greatest(CAST(n_shared AS DOUBLE) / n_a,
                   CAST(n_shared AS DOUBLE) / n_b) >= {CONTAIN_THRESHOLD}
"""


@query("dedup_containment", oracle=_CONTAINMENT_ORACLE)
@prepared("containment_query")
def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric near-duplicate (containment) pairs: |A∩B|/|A| ≥ 0.6 on
    either side over the md5-hashed shingle sets — the excerpt/quote/
    near-superset cases symmetric Jaccard dedup misses (Broder's
    containment, the shape behind suffix-array excerpt dedup).

    Shape: explode distinct shingle hashes into occurrences; keep RARE
    shingles (posting list of 2..{CONTAIN_MAX_POSTING} docs — frequency
    pruning bounds the self-join fan-in by construction, the same reason
    dedup_substring_runs never goes O(n²)); pair docs sharing ≥
    {CONTAIN_MIN_SHARED} rare shingles (see the constant's rationale);
    verify exact containment from the full hashed sets. Every
    shuffle is keyed (shingle digest or doc_id); the DuckDB oracle
    replays the identical pipeline, so the check is a value-hash match.
    Signatures come from the shared minhash_docs artifact — one shingle
    pass per session serves LSH, containment, and the cluster map."""
    docs = minhash_docs(spark, sf_dir).select("doc_id", "hs")
    occ = docs.select("doc_id", F.explode("hs").alias("h"))
    from pyspark.sql import Window as W

    wh = W.partitionBy("h")
    # rare-occurrence table: the posting window over all occurrences,
    # bounded by construction to ≤ CONTAIN_MAX_POSTING rows per repeated
    # shingle.
    rare_occ = (
        occ.withColumn("n_docs", F.count(F.lit(1)).over(wh))
        .filter((F.col("n_docs") >= 2) & (F.col("n_docs") <= CONTAIN_MAX_POSTING))
        .select("doc_id", "h")
    )
    a, b = rare_occ.alias("a"), rare_occ.alias("b")
    # candidate-pair table materialized once per session: the
    # posting self-join + pair aggregation is the dominant serving term
    # (~3s/serve re-run without the checkpoint — checkpointing only
    # rare_occ still re-joined per serve). The CONTAIN_MIN_SHARED
    # evidence filter folds into the SAME pair-keyed shuffle the dedup
    # needed anyway (count instead of distinct) and shrinks the table
    # 115×. This IS the "posting index" a serving system stores:
    # O(n · C(cap, 2)) pair-count rows pre-filter — linear in corpus size
    # because the posting cap bounds each shingle's fan-out — and serving
    # reduces to the verify join against the surviving pairs.
    cand = session_frame(
        spark,
        sf_dir,
        "containment_cand",
        lambda: a.join(
            b, (F.col("a.h") == F.col("b.h")) & (F.col("a.doc_id") < F.col("b.doc_id"))
        )
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("n_shared_rare"))
        .filter(F.col("n_shared_rare") >= CONTAIN_MIN_SHARED)
        .select("doc_a", "doc_b"),
    )
    scored = (
        cand.join(docs.select(F.col("doc_id").alias("doc_a"), F.col("hs").alias("hs_a")), "doc_a")
        .join(docs.select(F.col("doc_id").alias("doc_b"), F.col("hs").alias("hs_b")), "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.size(F.array_intersect("hs_a", "hs_b")).cast("double").alias("n_shared"),
            F.size("hs_a").alias("n_a"),
            F.size("hs_b").alias("n_b"),
        )
    )
    ca = F.col("n_shared") / F.col("n_a")
    cb = F.col("n_shared") / F.col("n_b")
    return scored.filter(F.greatest(ca, cb) >= CONTAIN_THRESHOLD).select(
        "doc_a",
        "doc_b",
        F.round(ca, 4).alias("contain_a"),
        F.round(cb, 4).alias("contain_b"),
    )


# --- substring-level dedup (repeated-span removal) ---
# Document-granular dedup misses the other half of real pretraining dedup:
# boilerplate RUNS repeated across different documents (license headers,
# navigation chrome, templated intros — the Lee et al. "Deduplicating
# Training Data" finding that ~50-token repeated substrings dominate).
SUBSTR_K = 13  # shingle width: a run must repeat >= this many tokens


@query(
    "dedup_substring_runs",
    oracle=f"""
    WITH ws AS (SELECT doc_id, string_split(trim(text), ' ') AS w FROM documents),
    sh AS (SELECT doc_id, CAST(i AS INTEGER) AS pos,
                  md5(array_to_string(w[i:i+{SUBSTR_K - 1}], ' ')) AS h
           FROM ws, unnest(range(1, len(w) - {SUBSTR_K} + 2)) t(i)
           WHERE len(w) >= {SUBSTR_K}),
    rep AS (SELECT h FROM sh GROUP BY h HAVING count(DISTINCT doc_id) > 1),
    hits AS (SELECT doc_id, pos FROM sh JOIN rep USING (h)),
    runs AS (SELECT doc_id, pos,
                    pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
             FROM hits)
    SELECT doc_id,
           min(pos)                              AS start_pos,
           max(pos) + {SUBSTR_K} - 1             AS end_pos,
           max(pos) - min(pos) + {SUBSTR_K}      AS run_tokens
    FROM runs GROUP BY doc_id, grp
    """,
)
def dedup_substring_runs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document repeated substring spans: every maximal run of >=
    SUBSTR_K consecutive tokens that also appears in at least one OTHER
    document, reported per doc as (start_pos, end_pos, run_tokens) in
    1-based token coordinates — the deletion list for boilerplate removal.

    Shape (the posting-list idiom, never O(n²)):
    1. map-side: posexplode each doc's 13-token shingles; digest each
       shingle to md5 so the shuffle ships 32-byte keys, not 13-token
       strings (same rule as dedup_exact);
    2. posting list: groupBy digest, keep digests spanning >1 distinct
       doc — partial-aggregated, cost O(total shingles);
    3. join shingle occurrences back to the repeated set (digest-keyed
       equi-join) — only repeated positions survive;
    4. gaps-and-islands per doc: consecutive repeated shingle positions
       collapse into maximal runs via a doc_id-PARTITIONED window (a
       run of shingle positions [i..j] = token span [i..j+K-1]).
    Every shuffle is keyed (digest or doc_id); nothing is global. At
    100 TB swap md5 for xxhash64 (cheaper, loses the DuckDB replay)."""
    return substring_runs(load_parallel(spark, sf_dir, "documents"))


def substring_runs(docs: DataFrame, k: int = SUBSTR_K) -> DataFrame:
    """Core repeated-span pipeline over any (doc_id, text) frame — see
    dedup_substring_runs for the four-stage shape and scale notes."""
    from pyspark.sql import Window as W

    sh = (
        docs.filter(F.size(words_col()) >= k)
        .select("doc_id", F.posexplode(shingles_col("text", k)).alias("pos0", "g"))
        .select(
            "doc_id",
            (F.col("pos0") + 1).alias("pos"),
            F.md5(F.col("g").cast("binary")).alias("h"),
        )
    )
    # "shared by >1 distinct doc" as a min/max WINDOW over the digest —
    # min(doc_id) != max(doc_id) over each h-partition — instead of a
    # groupBy posting list joined back to a SECOND scan: the plan audit
    # showed the join-back form re-scanned and re-shingled the corpus
    # (two FileScans); the window form is one scan, one shingle pass, and
    # the same digest-keyed shuffle the groupBy needed anyway. No per-hash
    # set materialization either (a collect_set would blow up on a shingle
    # shared by millions of docs; min/max are constant-size).
    wh = W.partitionBy("h")
    hits = (
        sh.withColumn("min_doc", F.min("doc_id").over(wh))
        .withColumn("max_doc", F.max("doc_id").over(wh))
        .filter(F.col("min_doc") != F.col("max_doc"))
        .select("doc_id", "pos")
    )
    w = W.partitionBy("doc_id").orderBy("pos")
    runs = hits.withColumn("grp", F.col("pos") - F.row_number().over(w))
    return runs.groupBy("doc_id", "grp").agg(
        F.min("pos").alias("start_pos"),
        (F.max("pos") + k - 1).alias("end_pos"),
        (F.max("pos") - F.min("pos") + k).alias("run_tokens"),
    ).drop("grp")


# --- incremental cross-shard dedup (standing signature index) ---
# Production dedup is INCREMENTAL: every new crawl shard is deduped against
# the signature index of everything ingested so far, without recomputing
# the historical signatures. The persisted parquet index IS the artifact
# the in-memory checkpointed tables above stand in for.
INCR_BATCH_MOD = 4  # stand-in arrival split: doc_id % 4 == 0 is the "new shard"


def _marker_sort_key(d: str, name: str):
    """Commit order of a marker file: the monotonic sequence prefix in its
    NAME (`000007-<batch>`), with mtime only as the legacy fallback —
    rsync/copy/restore of an index directory rewrites mtimes and coarse
    filesystems tie them, which would silently reorder version history
    (ADVICE r5). The name survives any copy.

    Legacy (un-prefixed) markers sort BEFORE seq-prefixed ones: in a
    mixed directory the prefixed markers were necessarily appended after
    the migration, so legacy-first preserves true commit order — the
    other priority would list a post-migration append as the OLDEST
    version and invert as-of reads."""
    import os

    seq, _, _rest = name.partition("-")
    if seq.isdigit():
        return (1, int(seq), name)
    return (0, os.stat(os.path.join(d, name)).st_mtime_ns, name)


def _marker_batch(name: str) -> str:
    """Batch id encoded in a marker filename (seq-prefixed or legacy)."""
    seq, _, rest = name.partition("-")
    return rest if seq.isdigit() and rest else name


def _committed_markers(dest: str) -> list[str]:
    import os

    d = f"{dest}/_committed"
    if not os.path.isdir(d):
        return []
    return sorted(os.listdir(d), key=lambda n: _marker_sort_key(d, n))


def _committed_batches(dest: str) -> list[str]:
    """Committed batch ids in COMMIT order (marker sequence numbers)."""
    return [_marker_batch(n) for n in _committed_markers(dest)]


def write_signature_index(docs: DataFrame, dest: str, mode: str = "overwrite") -> None:
    """Persist the MinHash signature/band index for a corpus as parquet:
    `dest/signatures/batch=<id>` = (doc_id, hs, sig),
    `dest/bands/batch=<id>` = (doc_id, band, bhash). The shingle+32-fold
    pipeline runs exactly once per batch (eager checkpoint, both tables
    written from it). At 100 TB this is an append-only lakehouse table
    partitioned by ingestion run; each shard's signatures are written
    once, ever.

    Commit protocol (an append of two tables is not atomic — a failure
    between them would leave docs with signatures but no band keys, which
    are silently never candidates): each ingest writes BOTH tables under a
    fresh `batch=<id>` partition, then drops a `_committed/<id>` marker
    LAST — the same one-small-file commit point as Spark's `_SUCCESS`.
    Readers (`read_signature_index`) only see committed batches, so a torn
    write degrades to "batch not ingested yet" and a retry (fresh id)
    cannot duplicate rows; orphaned uncommitted dirs are invisible and
    vacuumable."""
    import os
    import shutil
    import uuid

    if mode not in ("overwrite", "append"):
        raise ValueError(f"unknown mode: {mode}")
    if mode == "overwrite":
        shutil.rmtree(dest, ignore_errors=True)
    batch = uuid.uuid4().hex[:12]
    sig_df = minhash_signatures(docs).localCheckpoint(eager=True)
    sig_df.write.parquet(f"{dest}/signatures/batch={batch}")
    minhash_band_keys(sig_df).write.parquet(f"{dest}/bands/batch={batch}")
    os.makedirs(f"{dest}/_committed", exist_ok=True)
    # marker name carries a MONOTONIC sequence number — commit order must
    # survive directory copies/restores, which rewrite mtimes (ADVICE r5)
    seq = len(_committed_markers(dest)) + 1
    with open(f"{dest}/_committed/{seq:06d}-{batch}", "w", encoding="utf-8"):
        pass


def vacuum_signature_index(dest: str, min_age_s: float = 3600.0) -> dict[str, int]:
    """Remove orphaned UNCOMMITTED batch dirs from a standing index — the
    retention pass that completes the commit protocol (a torn write
    leaves invisible `batch=<id>` dirs under signatures/ and bands/;
    readers never see them, but the bytes linger). Returns counts per
    table. Committed batches are never touched; driver-side directory
    ops only (a metadata job, like the writers' marker commit).

    `min_age_s` is the in-flight grace period: a writer that has laid
    down signatures but not yet bands LOOKS uncommitted — vacuuming it
    mid-append would recreate the exact torn state the protocol exists
    to prevent (committed marker over half-deleted data). Only batches
    whose dirs are older than the longest plausible append are eligible;
    pass 0 only when no writer can be live."""
    import os
    import shutil
    import time

    committed = set(_committed_batches(dest))
    cutoff = time.time() - min_age_s
    removed = {"signatures": 0, "bands": 0}
    for table in removed:
        root = f"{dest}/{table}"
        if not os.path.isdir(root):
            continue
        for d in os.listdir(root):
            p = os.path.join(root, d)
            if (
                d.startswith("batch=")
                and d.split("=", 1)[1] not in committed
                and os.path.getmtime(p) < cutoff
            ):
                shutil.rmtree(p)
                removed[table] += 1
    return removed


def read_signature_index(spark: SparkSession, dest: str) -> tuple[DataFrame, DataFrame]:
    """(signatures, bands) of every COMMITTED batch in a standing index —
    the only sanctioned read path (see write_signature_index's commit
    protocol). Batch-partition pruning keeps the scan to committed dirs.

    Signatures are deduplicated per doc_id at read: the marker protocol
    makes a TORN retry invisible, but a retry after a successful append
    whose ACK was lost legitimately commits the same doc twice (two
    batches, identical deterministic rows). Without the dedup, the
    Jaccard-verify join would fan each candidate out once per sig copy
    and emit duplicate pairs. Band duplicates only produce duplicate
    CANDIDATES, which the pair-level dropDuplicates already absorbs —
    no shuffle spent on them."""
    ids = _committed_batches(dest)
    if not ids:
        raise ValueError(f"signature index at {dest} has no committed batches")
    sigs = (
        spark.read.parquet(f"{dest}/signatures")
        .filter(F.col("batch").isin(ids))
        .drop("batch")
        .dropDuplicates(["doc_id"])
    )
    bands = spark.read.parquet(f"{dest}/bands").filter(F.col("batch").isin(ids)).drop("batch")
    return sigs, bands


def append_signature_index(new_docs: DataFrame, dest: str) -> None:
    """The ingest-loop step after `incremental_pairs`: append the new
    batch's signatures/band keys to the standing index so the NEXT batch
    dedupes against everything ingested so far. Only the new batch is
    shingled; prior shards' files are untouched (append-only)."""
    write_signature_index(new_docs, dest, mode="append")


def incremental_pairs(spark: SparkSession, new_docs: DataFrame, index_dir: str) -> DataFrame:
    """Near-dup pairs for an incoming batch against a persisted signature
    index, plus within-batch pairs — the full verdict an ingest step needs.
    Returns (doc_a, doc_b, jaccard, origin) with origin 'index' (new doc
    collides with an already-ingested doc) or 'batch' (two new docs).

    Only the NEW batch is shingled; the historical side is two parquet
    scans (bands for the candidate equi-join, signatures for the Jaccard
    verify). Both joins are keyed on (band, bhash) / doc_id — the same
    bounded-fan-in shape as the one-shot LSH, so incremental cost is
    O(batch · sig + collisions), independent of index size.

    A doc_id may legitimately appear on both sides (an ingest retry
    re-submitting an already-indexed doc): the candidate join excludes
    self-pairs so a resubmission never emits (X, X, 1.0, 'index')."""
    idx_sigs, idx_bands = read_signature_index(spark, index_dir)
    new_sigs = minhash_signatures(new_docs).localCheckpoint(eager=True)
    new_bands = minhash_band_keys(new_sigs)

    o, n = idx_bands.alias("o"), new_bands.alias("n")
    cand_idx = (
        o.join(
            n,
            (F.col("o.band") == F.col("n.band"))
            & (F.col("o.bhash") == F.col("n.bhash"))
            & (F.col("o.doc_id") != F.col("n.doc_id")),
        )
        .select(F.col("o.doc_id").alias("doc_a"), F.col("n.doc_id").alias("doc_b"))
        .dropDuplicates(["doc_a", "doc_b"])
    )
    via_index = _jaccard_verified(
        cand_idx,
        idx_sigs.select(F.col("doc_id").alias("doc_a"), F.col("hs").alias("hs_a")),
        new_sigs.select(F.col("doc_id").alias("doc_b"), F.col("hs").alias("hs_b")),
    ).withColumn("origin", F.lit("index"))

    a, b = new_bands.alias("a"), new_bands.alias("b")
    cand_new = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bhash") == F.col("b.bhash"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .dropDuplicates(["doc_a", "doc_b"])
    )
    in_batch = _jaccard_verified(
        cand_new,
        new_sigs.select(F.col("doc_id").alias("doc_a"), F.col("hs").alias("hs_a")),
        new_sigs.select(F.col("doc_id").alias("doc_b"), F.col("hs").alias("hs_b")),
    ).withColumn("origin", F.lit("batch"))
    return via_index.unionByName(in_batch)


_INCREMENTAL_ORACLE = f"""
    WITH {_mh_duck_ctes()},
    cand AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, 'index' AS origin
        FROM bnd a JOIN bnd b ON a.band = b.band AND a.bhash = b.bhash
        WHERE a.doc_id % {INCR_BATCH_MOD} != 0 AND b.doc_id % {INCR_BATCH_MOD} = 0
        UNION
        SELECT a.doc_id, b.doc_id, 'batch'
        FROM bnd a JOIN bnd b
          ON a.band = b.band AND a.bhash = b.bhash AND a.doc_id < b.doc_id
        WHERE a.doc_id % {INCR_BATCH_MOD} = 0 AND b.doc_id % {INCR_BATCH_MOD} = 0),
    {_MH_JACCARD_TAIL}
    SELECT doc_a, doc_b, round(jac, 4) AS jaccard, origin
    FROM j WHERE jac >= 0.5
"""


@query("dedup_incremental", oracle=_INCREMENTAL_ORACLE)
def dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental dedup demo over the corpus: docs with doc_id % 4 != 0
    play the already-ingested corpus (their signature index is WRITTEN to
    parquet once per session), docs with doc_id % 4 == 0 arrive as the new
    shard and are deduped against the on-disk index + themselves. The
    DuckDB oracle replays the identical md5-seeded banding with the same
    index/batch split, so even the standing-index path is value-hash
    checked; the no-recompute property is pinned by
    tests/test_dedup_synthetic.py (the serving plan scans the index
    parquet, never the historical documents).

    Index location: `ensure_demo_index` → `cache.ensure_artifact` — a
    committed dir under $SPARK_GRAFT_INDEX_DIR (else the system temp
    dir) named by a digest of the documents' files, so concurrent
    sessions share one committed copy and a regenerated corpus maps to a
    new path. On a real cluster this would be a shared filesystem/object-
    store prefix; the env var is that knob."""
    def build() -> DataFrame:
        dest = ensure_demo_index(spark, sf_dir)
        new = (
            load_parallel(spark, sf_dir, "documents")
            .select("doc_id", "text")
            .filter(F.col("doc_id") % INCR_BATCH_MOD == 0)
        )
        return incremental_pairs(spark, new, dest)

    return session_memo(spark, sf_dir, "incremental_dedup_query", build)


def ensure_demo_index(spark: SparkSession, sf_dir: str) -> str:
    """Write (once per corpus version) the demo standing index —
    signatures of the already-ingested docs (doc_id % 4 != 0) — through
    the committed-artifact protocol, and return its path. Shared by the
    batch incremental dedup and its streaming twin; a fresh session
    serves from the committed index without re-shingling history (the
    standing-index contract, now restart-proof like the rollup)."""

    from ..cache import ensure_artifact
    from ..catalog import table_path

    def build_index(dest: str) -> None:
        docs = load_parallel(spark, sf_dir, "documents").select("doc_id", "text")
        write_signature_index(docs.filter(F.col("doc_id") % INCR_BATCH_MOD != 0), dest)

    # no outer session_memo: ensure_artifact already memoizes per digest,
    # and re-digesting per call is the point — a regenerated corpus maps
    # to a new index path immediately (review finding: the extra layer
    # froze the first call's digest for the whole session)
    return ensure_artifact(
        spark, sf_dir, "sig_index", [table_path(sf_dir, "documents")], build_index
    )


_STREAM_INCR_ORACLE = f"""
    WITH {_mh_duck_ctes()},
    cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
             FROM bnd a JOIN bnd b ON a.band = b.band AND a.bhash = b.bhash
             WHERE a.doc_id % {INCR_BATCH_MOD} != 0
               AND b.doc_id % {INCR_BATCH_MOD} = 0),
    {_MH_JACCARD_TAIL}
    SELECT doc_a, doc_b, round(jac, 4) AS jaccard FROM j WHERE jac >= 0.5
"""


@query("stream_incremental_dedup", oracle=_STREAM_INCR_ORACLE)
def stream_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of the CONTINUOUS ingest-dedup loop: near-dup pairs of
    arriving documents against the persisted standing index (the 'index'
    arm of dedup_incremental — within-batch pairs belong to the batch
    path; a live stream dedupes each micro-batch against history).
    streaming/joins.streaming_incremental_dedup runs the identical
    pipeline on a real file-source stream, micro-batch by micro-batch,
    as a stream-static join; tests/test_streaming.py proves the live
    run emits exactly these rows."""
    return (
        dedup_incremental(spark, sf_dir)
        .filter(F.col("origin") == "index")
        .select("doc_a", "doc_b", "jaccard")
    )


# --- paragraph-granular exact dedup --------------------------------------
# The C4/RefinedWeb "remove duplicated paragraphs corpus-wide" step sits
# between document dedup (dedup_exact) and span dedup (dedup_substring_runs):
# exact-match at the paragraph grain, keep the first occurrence, report how
# much of each document survives. This corpus has no newline paragraph
# boundaries, so fixed PARA_W-token blocks stand in for paragraphs — the
# block/digest/keep-first machinery is the real pipeline shape either way.
PARA_W = 25  # tokens per block

_PARA_ORACLE = f"""
    WITH w AS (SELECT doc_id, string_split(trim(text), ' ') AS ws FROM documents),
    blk AS (
        SELECT doc_id, t.i AS bidx,
               len(ws[t.i*{PARA_W}+1 : t.i*{PARA_W}+{PARA_W}]) AS blen,
               md5(array_to_string(ws[t.i*{PARA_W}+1 : t.i*{PARA_W}+{PARA_W}], ' ')) AS dig
        FROM w, unnest(range(CAST(ceil(len(ws) / {PARA_W}.0) AS BIGINT))) AS t(i)),
    ranked AS (
        SELECT doc_id, blen,
               row_number() OVER (PARTITION BY dig ORDER BY doc_id, bidx) AS rn
        FROM blk)
    SELECT doc_id,
           count(*)                                   AS n_blocks,
           count(*) FILTER (rn > 1)                   AS n_dup_blocks,
           CAST(sum(blen) AS BIGINT)                  AS n_tokens,
           CAST(coalesce(sum(blen) FILTER (rn = 1), 0) AS BIGINT) AS n_tokens_kept,
           round(CAST(coalesce(sum(blen) FILTER (rn = 1), 0) AS DOUBLE)
                 / sum(blen), 4)                      AS kept_ratio
    FROM ranked GROUP BY doc_id
"""


@query("dedup_paragraphs", oracle=_PARA_ORACLE)
def dedup_paragraphs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide paragraph-level exact dedup: documents split into
    PARA_W-token blocks, each block md5-digested, the FIRST occurrence
    (lowest doc_id, then block index) kept and every later identical block
    marked duplicate; per-document retention stats come back out. The
    paragraph grain is what document-level dedup misses (pages sharing
    boilerplate paragraphs) and span-level run detection over-segments.

    Scale shape: documents never shuffle — only (digest, doc_id, bidx,
    blen) rows ride the one digest-keyed window shuffle, and the per-doc
    rollup shuffles O(blocks) count partials keyed by doc_id. At 100 TB
    the cost is the scan plus two bounded keyed exchanges; identical
    blocks concentrate on one key only as much as they are actually
    duplicated (a pathological corpus-wide boilerplate block is exactly
    the skew AQE's skew-join handling splits)."""
    from pyspark.sql import Window as W

    docs = load(spark, sf_dir, "documents")
    ws = words_col()
    nblk = F.ceil(F.size(ws) / F.lit(float(PARA_W))).cast("int")
    blocks = F.transform(
        F.sequence(F.lit(0), nblk - 1),
        lambda i: F.slice(ws, i * PARA_W + 1, PARA_W),
    )
    blk = docs.select(
        "doc_id", F.posexplode(blocks).alias("bidx", "blk")
    ).select(
        "doc_id",
        "bidx",
        F.size("blk").alias("blen"),
        F.md5(F.concat_ws(" ", F.col("blk")).cast("binary")).alias("dig"),
    )
    rn = F.row_number().over(W.partitionBy("dig").orderBy("doc_id", "bidx"))
    ranked = blk.withColumn("rn", rn)
    kept = F.sum(F.when(F.col("rn") == 1, F.col("blen")).otherwise(0))
    return ranked.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_blocks"),
        F.count(F.when(F.col("rn") > 1, 1)).alias("n_dup_blocks"),
        F.sum("blen").cast("long").alias("n_tokens"),
        kept.cast("long").alias("n_tokens_kept"),
        F.round(kept.cast("double") / F.sum("blen"), 4).alias("kept_ratio"),
    )


# --- LSH quality evaluation ------------------------------------------------
# "Measure, don't guess" applied to the approximate dedup itself: exact
# Jaccard ground truth (posting-list join over ALL shingles — affordable
# at audit scale; sample at production scale) vs the banded-LSH pair set,
# reported as precision/recall counts. Precision is 1.0 BY CONSTRUCTION
# (the LSH path verifies exact Jaccard on its candidates with the same
# formula) — the eval proves it and quantifies what the banding misses.

_LSH_EVAL_ORACLE = f"""
    WITH {_mh_duck_ctes()},
    cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
             FROM bnd a JOIN bnd b
               ON a.band = b.band AND a.bhash = b.bhash AND a.doc_id < b.doc_id),
    {_MH_JACCARD_TAIL},
    lsh AS (SELECT doc_a, doc_b FROM j WHERE jac >= 0.5),
    occ AS (SELECT doc_id, h.h AS h FROM hx, unnest(hs) AS h(h)),
    gtc AS (SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS ns
            FROM occ a JOIN occ b USING (h)
            WHERE a.doc_id < b.doc_id GROUP BY 1, 2),
    gt AS (SELECT da, db FROM gtc
           JOIN hx ha ON ha.doc_id = da
           JOIN hx hb ON hb.doc_id = db
           WHERE CAST(ns AS DOUBLE) / (len(ha.hs) + len(hb.hs) - ns) >= 0.5)
    SELECT (SELECT count(*) FROM gt)  AS n_ground_truth,
           (SELECT count(*) FROM lsh) AS n_lsh,
           (SELECT count(*) FROM lsh JOIN gt ON doc_a = da AND doc_b = db) AS n_hit,
           round(CASE WHEN (SELECT count(*) FROM lsh) = 0 THEN 1.0
                      ELSE CAST((SELECT count(*) FROM lsh JOIN gt ON doc_a = da AND doc_b = db)
                                AS DOUBLE) / (SELECT count(*) FROM lsh) END, 4) AS precision,
           round(CASE WHEN (SELECT count(*) FROM gt) = 0 THEN 1.0
                      ELSE CAST((SELECT count(*) FROM lsh JOIN gt ON doc_a = da AND doc_b = db)
                                AS DOUBLE) / (SELECT count(*) FROM gt) END, 4)  AS recall
"""


@query("eval_minhash_lsh_quality", oracle=_LSH_EVAL_ORACLE)
@prepared("lsh_eval_query")
def eval_minhash_lsh_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Precision/recall of the banded MinHash-LSH dedup against EXACT
    Jaccard ground truth (threshold 0.5): the measured answer to "what
    does the banding miss?" — recall quantifies the s-curve's promise
    (16 bands × 2 rows ⇒ ~0.99 catch probability at J = 0.5), precision
    confirms the exact-verify step admits nothing below threshold.

    Ground truth comes from a full posting-list self-join over ALL
    distinct shingle hashes — O(Σ per-shingle doc-count²), affordable at
    audit scale and run on hash-bucketed samples at 100 TB (the eval is
    an offline quality gate, not a serving path). Both pair sets reduce
    to integer counts, so the DuckDB replay is exact."""
    docs = minhash_docs(spark, sf_dir).select("doc_id", "hs")
    lsh = dedup_minhash_lsh(spark, sf_dir).select("doc_a", "doc_b")
    occ = docs.select("doc_id", F.explode("hs").alias("h"))
    a, b = occ.alias("a"), occ.alias("b")
    gtc = (
        a.join(b, (F.col("a.h") == F.col("b.h")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("da"), F.col("b.doc_id").alias("db"))
        .agg(F.count(F.lit(1)).alias("ns"))
    )
    gt = (
        gtc.join(docs.select(F.col("doc_id").alias("da"), F.size("hs").alias("na")), "da")
        .join(docs.select(F.col("doc_id").alias("db"), F.size("hs").alias("nb")), "db")
        .filter(
            F.col("ns").cast("double") / (F.col("na") + F.col("nb") - F.col("ns")) >= 0.5
        )
        .select("da", "db")
    )
    hit = lsh.join(gt, (F.col("doc_a") == F.col("da")) & (F.col("doc_b") == F.col("db")))
    counts = (
        gt.agg(F.count(F.lit(1)).alias("n_ground_truth"))
        .crossJoin(lsh.agg(F.count(F.lit(1)).alias("n_lsh")))
        .crossJoin(hit.agg(F.count(F.lit(1)).alias("n_hit")))
    )
    prec = F.when(F.col("n_lsh") == 0, F.lit(1.0)).otherwise(
        F.col("n_hit").cast("double") / F.col("n_lsh")
    )
    rec = F.when(F.col("n_ground_truth") == 0, F.lit(1.0)).otherwise(
        F.col("n_hit").cast("double") / F.col("n_ground_truth")
    )
    return counts.select(
        "n_ground_truth",
        "n_lsh",
        "n_hit",
        F.round(prec, 4).alias("precision"),
        F.round(rec, 4).alias("recall"),
    )


def committed_versions(dest: str) -> list[str]:
    """Commit history of a standing index: committed batch ids in COMMIT
    order — the marker files double as the commit log, so the index
    layout already carries its own version history the way a table
    format's transaction log does. Order comes from the monotonic
    sequence number in each marker's FILENAME (mtime only as legacy
    fallback): a copied/rsynced/restored index keeps its exact history
    even though every mtime changed (ADVICE r5)."""
    return _committed_batches(dest)


def read_signature_index_asof(
    spark: SparkSession, dest: str, version: int
) -> tuple[DataFrame, DataFrame]:
    """TIME TRAVEL on the standing index: (signatures, bands) as of the
    `version`-th commit (1-based) — the state any past ingest step served
    from, reconstructed for free because appends never rewrite prior
    batch partitions and the commit markers order them. The audit/debug
    read every lakehouse table format sells, here from the plain-parquet
    commit protocol (reference analogue: none — the reference overwrites;
    this is the durability layer the 100 TB ingest loop needs).

    Same dedup semantics as read_signature_index, restricted to the first
    `version` commits."""
    ids = committed_versions(dest)
    if not 1 <= version <= len(ids):
        raise ValueError(f"version {version} out of range 1..{len(ids)} at {dest}")
    keep = ids[:version]
    sigs = (
        spark.read.parquet(f"{dest}/signatures")
        .filter(F.col("batch").isin(keep))
        .drop("batch")
        .dropDuplicates(["doc_id"])
    )
    bands = (
        spark.read.parquet(f"{dest}/bands").filter(F.col("batch").isin(keep)).drop("batch")
    )
    return sigs, bands


@query(
    "dedup_index_versions",
    oracle=f"""
    SELECT 1 AS version, count(*) AS n_docs, {N_BANDS} * count(*) AS n_bands
    FROM documents WHERE doc_id % {INCR_BATCH_MOD} <> 0
    UNION ALL
    SELECT 2 AS version, count(*) AS n_docs, {N_BANDS} * count(*) AS n_bands
    FROM documents
    ORDER BY version
    """,
)
def dedup_index_versions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Version history of the standing signature index, served through the
    TIME-TRAVEL read path: a two-commit demo index (base write of the
    already-ingested docs, then the new batch appended) read back AS OF
    each commit — (version, docs, band keys) per historical state. The
    oracle replays the split arithmetic exactly (every doc contributes
    {N_BANDS} band keys deterministically), so the as-of reconstruction
    is value-checked, not merely row-counted.

    The layout pays nothing for this: append-only batch partitions plus
    the commit-marker log ARE the transaction history (the audit read a
    table format sells, on plain parquet)."""
    from ..cache import ensure_artifact
    from ..catalog import table_path

    def build(d: str) -> None:
        docs = load_parallel(spark, sf_dir, "documents").select("doc_id", "text")
        write_signature_index(docs.filter(F.col("doc_id") % INCR_BATCH_MOD != 0), d)
        append_signature_index(docs.filter(F.col("doc_id") % INCR_BATCH_MOD == 0), d)

    dest = ensure_artifact(
        spark, sf_dir, "asof_index", [table_path(sf_dir, "documents")], build
    )
    out = None
    for v in (1, 2):
        sigs, bands = read_signature_index_asof(spark, dest, v)
        row = (
            sigs.agg(F.count(F.lit(1)).alias("n_docs"))
            .crossJoin(F.broadcast(bands.agg(F.count(F.lit(1)).alias("n_bands"))))
            .select(F.lit(v).alias("version"), "n_docs", "n_bands")
        )
        out = row if out is None else out.unionByName(row)
    return out.orderBy("version")


@query(
    "dedup_index_read_committed",
    oracle=f"""
    SELECT 1 AS version, count(*) AS n_docs, {N_BANDS} * count(*) AS n_bands
    FROM documents WHERE doc_id % {INCR_BATCH_MOD} <> 0
    UNION ALL
    SELECT 2 AS version, count(*) AS n_docs, {N_BANDS} * count(*) AS n_bands
    FROM documents
    ORDER BY version
    """,
)
def dedup_index_read_committed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """READ-COMMITTED contract of the standing index, value-proved through
    the registered surface (VERDICT r8 next-round #8): the demo index
    here carries base commit + a deliberately TORN batch (the new shard's
    signature/band parquet files written WITHOUT their commit marker —
    exactly what a writer crash mid-append leaves) + the committed retry
    of the same shard. The oracle is the SAME closed form as
    dedup_index_versions — so if the as-of reader ever surfaced the torn
    batch's files, v2's doc count would double-count the retried docs'
    bands and the hash would break; if it leaked into v1, that count
    breaks too. Torn data is invisible, the retry is exactly-once
    (signatures dedup by doc_id), history is immutable.

    The live-writer concurrency twin (a reader pinned at version 1 while
    a writer appends in another thread) is pinned by pytest
    (tests/test_artifacts.py::test_asof_reader_under_live_writer) — wall
    clock interleaving is not oracle-expressible, but every state it can
    observe is one of this query's versions."""
    from ..cache import ensure_artifact
    from ..catalog import table_path

    def build(d: str) -> None:
        docs = load_parallel(spark, sf_dir, "documents").select("doc_id", "text")
        new_shard = docs.filter(F.col("doc_id") % INCR_BATCH_MOD == 0)
        write_signature_index(docs.filter(F.col("doc_id") % INCR_BATCH_MOD != 0), d)
        # the torn attempt: data files land, the crash happens before the
        # marker — the reader must never see this batch
        torn_sig = minhash_signatures(new_shard).localCheckpoint(eager=True)
        torn_sig.write.parquet(f"{d}/signatures/batch=torn0000dead")
        minhash_band_keys(torn_sig).write.parquet(f"{d}/bands/batch=torn0000dead")
        # the committed retry (fresh batch id + marker)
        append_signature_index(new_shard, d)

    dest = ensure_artifact(
        spark, sf_dir, "asof_torn_index", [table_path(sf_dir, "documents")], build
    )
    out = None
    for v in (1, 2):
        sigs, bands = read_signature_index_asof(spark, dest, v)
        row = (
            sigs.agg(F.count(F.lit(1)).alias("n_docs"))
            .crossJoin(F.broadcast(bands.agg(F.count(F.lit(1)).alias("n_bands"))))
            .select(F.lit(v).alias("version"), "n_docs", "n_bands")
        )
        out = row if out is None else out.unionByName(row)
    return out.orderBy("version")


@query(
    "dedup_fuzzy_levenshtein",
    oracle="""
    WITH b AS (
        SELECT doc_id, lang, n_chars // 20 AS len_band,
               substr(text, 1, 12) AS pfx, substr(text, 1, 120) AS head
        FROM documents)
    SELECT a.doc_id AS doc_id, c.doc_id AS dup_id,
           CAST(levenshtein(a.head, c.head) AS BIGINT) AS edit_dist
    FROM b a JOIN b c
      ON a.lang = c.lang AND a.len_band = c.len_band AND a.pfx = c.pfx
     AND a.doc_id < c.doc_id
    WHERE levenshtein(a.head, c.head) <= 15
    """,
)
def dedup_fuzzy_levenshtein(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy near-dup pairs by EDIT DISTANCE under blocking — the
    record-linkage classic (and the character-level complement of the
    token-level MinHash/SimHash family: it catches small in-place edits
    that shift every shingle). Candidate pairs come from an equi-join on
    a (lang, length-band, 12-char-prefix) blocking key — never an O(n²)
    cross product; the Levenshtein verify runs only inside blocks, on a
    120-char head cap, and uses Spark's threshold-bounded form
    (levenshtein(l, r, 15): the DP row aborts once the band exceeds the
    threshold, returning -1 — so the verify cost per pair is
    O(len × threshold), not O(len²)).

    Blocking tradeoff, documented: a near-dup whose first 12 chars or
    length band differ is missed here (MinHash banding covers those);
    prefix blocking is exact for the truncation/suffix-append family the
    containment query targets. At 100 TB the block key is the shuffle
    key; block sizes are bounded by prefix selectivity and AQE splits
    hot blocks."""
    docs = load(spark, sf_dir, "documents")
    b = docs.select(
        "doc_id",
        "lang",
        F.expr("n_chars DIV 20").alias("len_band"),
        F.substring("text", 1, 12).alias("pfx"),
        F.substring("text", 1, 120).alias("head"),
    )
    left = b.select(
        F.col("doc_id").alias("l_id"), "lang", "len_band", "pfx",
        F.col("head").alias("l_head"),
    )
    right = b.select(
        F.col("doc_id").alias("r_id"), "lang", "len_band", "pfx",
        F.col("head").alias("r_head"),
    )
    pairs = left.join(right, ["lang", "len_band", "pfx"]).filter(
        F.col("l_id") < F.col("r_id")
    )
    d = pairs.select(
        F.col("l_id").alias("doc_id"),
        F.col("r_id").alias("dup_id"),
        F.levenshtein("l_head", "r_head", 15).cast("long").alias("edit_dist"),
    )
    return d.filter(F.col("edit_dist") >= 0)


@query(
    "dedup_simhash_pairs",
    oracle=f"""
    WITH sims AS ({_SIMHASH_ORACLE}),
    bnd AS (SELECT doc_id, simhash, r.b AS band,
                   (simhash >> (15 * r.b)) & 32767 AS bkey
            FROM sims, range(4) r(b)),
    cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
                    a.simhash AS ha, b.simhash AS hb
             FROM bnd a JOIN bnd b
               ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id)
    SELECT doc_a, doc_b, CAST(bit_count(xor(ha, hb)) AS BIGINT) AS hamming
    FROM cand WHERE bit_count(xor(ha, hb)) <= 3
    """,
)
def dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banded Hamming-distance pair join over the SimHash fingerprints —
    the candidate-generation half that turns `dedup_simhash` (per-doc
    60-bit fingerprints) into an actual near-dup detector: pairs within
    Hamming distance 3. EXACT recall by pigeonhole: 4 bands of 15 bits
    and ≤3 differing bits means at least one band is untouched, so every
    qualifying pair shares ≥1 band key — the same block→verify shape as
    MinHash banding, but on Hamming space (Manku et al.'s web-crawl
    dedup, WWW'07; cited as public-literature design, not reference
    code). Verify is one xor+popcount per candidate — cheaper than
    MinHash's 32-column signature compare, which is why SimHash wins
    when the near-dup threshold is tight.

    Scale shape: band keys are four map-side expressions (no explode of
    tokens at pair time — fingerprints were already folded once);
    candidates come from a (band, key) equi-join; nothing quadratic.
    md5-seeded bit votes make the whole pipeline DuckDB-replayable."""
    sims = session_frame(spark, sf_dir, "simhash_fps", lambda: dedup_simhash(spark, sf_dir))
    bnd = sims.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(b).alias("band"),
                    F.shiftright("simhash", 15 * b).bitwiseAND(F.lit(32767)).alias("bkey"),
                )
                for b in range(4)
            ])
        ).alias("bk"),
    ).select("doc_id", "simhash", "bk.band", "bk.bkey")
    a = bnd.select(
        F.col("doc_id").alias("doc_a"), F.col("simhash").alias("ha"), "band", "bkey"
    )
    b = bnd.select(
        F.col("doc_id").alias("doc_b"), F.col("simhash").alias("hb"), "band", "bkey"
    )
    cand = (
        a.join(b, ["band", "bkey"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", "ha", "hb")
        .distinct()
    )
    ham = F.bit_count(F.expr("ha ^ hb")).cast("long")
    return cand.filter(ham <= 3).select("doc_a", "doc_b", ham.alias("hamming"))


def _canonicalize_oracle() -> str:
    """Extend the dedup_clusters reach-closure replay with per-cluster
    representative selection over the documents table."""
    return f"""
    WITH RECURSIVE {_mh_duck_ctes()},
    cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
             FROM bnd a JOIN bnd b
               ON a.band = b.band AND a.bhash = b.bhash AND a.doc_id < b.doc_id),
    {_MH_JACCARD_TAIL},
    pairs AS (SELECT doc_a, doc_b FROM j WHERE jac >= 0.5),
    edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
              UNION SELECT doc_b, doc_a FROM pairs),
    nodes AS (SELECT DISTINCT src AS v FROM edges),
    reach(v, u) AS (
        SELECT v, v FROM nodes
        UNION
        SELECT r.v, e.dst FROM reach r JOIN edges e ON r.u = e.src),
    clus AS (SELECT v AS doc_id, min(u) AS cluster_id FROM reach GROUP BY v),
    m AS (
        SELECT c.cluster_id, c.doc_id, d.n_chars,
               row_number() OVER (PARTITION BY c.cluster_id
                                  ORDER BY d.n_chars DESC, c.doc_id) AS rn
        FROM clus c JOIN documents d USING (doc_id))
    SELECT cluster_id, count(*) AS n_members,
           CAST(min(CASE WHEN rn = 1 THEN doc_id END) AS BIGINT)
               AS canonical_doc,
           CAST(min(CASE WHEN rn = 1 THEN n_chars END) AS BIGINT)
               AS canonical_chars,
           CAST(sum(CASE WHEN rn > 1 THEN n_chars ELSE 0 END) AS BIGINT)
               AS dropped_chars
    FROM m GROUP BY cluster_id HAVING count(*) >= 2 ORDER BY cluster_id
    """


@query("dedup_canonicalize", oracle=_canonicalize_oracle())
def dedup_canonicalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KEEP-BEST representative selection per near-duplicate cluster —
    the policy layer on top of dedup_clusters' keep-lowest-id deletion
    list: real pipelines keep the RICHEST member (longest document,
    id-tiebroken), because near-dup clusters usually contain one full
    article and several truncated/boilerplate-wrapped copies. Output is
    the per-cluster decision record: members, the chosen canonical, its
    size, and the chars the cluster's deletion saves — the dedup
    savings ledger reviewers actually audit.

    Shape: the session-shared cluster fixpoint (iterative min-label
    loop, its own hash-checked query) joins doc lengths — documents
    never shuffle, only (doc_id, cluster_id, n_chars) triplets — then
    one cluster-keyed max_by((n_chars, −doc_id)) aggregate. The oracle
    replays banding + recursive reach-closure + the same argmax. At
    100 TB the cluster map is the standing signature-index artifact;
    this query is one keyed join + one partial-merged aggregate on it."""
    clus = dedup_clusters(spark, sf_dir).select("doc_id", "cluster_id")
    docs = load(spark, sf_dir, "documents").select("doc_id", "n_chars")
    m = clus.join(docs, "doc_id")
    return (
        m.groupBy("cluster_id")
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            F.expr(
                "max_by(named_struct('doc_id', doc_id, 'n_chars', n_chars), "
                "named_struct('a', n_chars, 'b', -doc_id))"
            ).alias("canon"),
            F.sum("n_chars").alias("total_chars"),
        )
        .filter(F.col("n_members") >= 2)
        .select(
            "cluster_id",
            "n_members",
            F.col("canon.doc_id").cast("long").alias("canonical_doc"),
            F.col("canon.n_chars").cast("long").alias("canonical_chars"),
            (F.col("total_chars") - F.col("canon.n_chars"))
            .cast("long")
            .alias("dropped_chars"),
        )
        .orderBy("cluster_id")
    )


SETSIM_TAU_NUM, SETSIM_TAU_DEN = 9, 10  # Jaccard threshold tau = 0.9
SETSIM_PAIRS_PER_DOC = 32.0  # candidate-density budget (the MH guard's)
LAST_SETSIM_GUARD: dict[str, float | int | bool] = {}


def setsim_density_guard(
    pre: DataFrame, budget: int | None = None, force: bool = False
) -> DataFrame:
    """Candidate-density guard for the prefix-filter join — the
    minhash_density_guard pattern applied to prefix-shingle buckets
    (round-9 continuation probe finding: on the 3x replica corpus the
    VERIFIED pair count stays near-flat, 2,490 -> 2,988, but candidate
    buckets densify quadratically in the replica count because every
    replica shares its rarest shingles — wall ratio 7.7 at 3x with a
    perfectly healthy output). One bucket-grain census BEFORE the
    self-join measures sum n_b(n_b-1)/2; above SETSIM_PAIRS_PER_DOC
    pairs/doc it logs the measured density and worst bucket, and an
    optional deterministic per-bucket cap (md5-ranked, so replayable)
    bounds both join sides for approximate callers. The registered
    exact query runs LOG-ONLY — capping would break its brute-force
    oracle. On real corpora a document's near-dup count is set by the
    data, not corpus size, and this join is linear."""
    import logging

    log = logging.getLogger(__name__)
    # ONE action for the whole census (guide §2.4): the bucket-grain
    # stats and the distinct-doc count are both 1-row aggregates, so a
    # crossJoin folds them into a single job — the former second action
    # (a distinct + count over the same checkpointed table) only re-paid
    # job-launch latency per serve.
    bucket_stats = (
        pre.groupBy("s")
        .agg(F.count(F.lit(1)).alias("n"))
        .agg(
            F.coalesce(F.sum(F.col("n") * (F.col("n") - 1) / 2), F.lit(0.0)).alias("pairs"),
            F.coalesce(F.max("n"), F.lit(0)).alias("worst"),
        )
    )
    doc_stats = pre.agg(F.count_distinct("doc_id").alias("docs"))
    census = bucket_stats.crossJoin(doc_stats).collect()[0]
    pairs, worst = int(census["pairs"]), int(census["worst"])
    docs = max(1, int(census["docs"]))
    engaged = pairs > SETSIM_PAIRS_PER_DOC * docs
    info: dict[str, float | int | bool] = {
        "pairs": pairs,
        "worst_bucket": worst,
        "docs": docs,
        "pairs_per_doc": pairs / docs,
        "engaged": engaged,
        "budget": 0 if budget is None else budget,
        "capped_rows": 0,
    }
    if engaged:
        log.warning(
            "set-similarity prefix-join density guard ENGAGED: %d candidate "
            "pairs for %d docs (%.1f pairs/doc > %.0f budget; worst bucket "
            "%d members). Prefix buckets are densifying with the corpus — "
            "on real data rare-shingle df is corpus-size-independent and "
            "this join is linear.%s",
            pairs,
            docs,
            info["pairs_per_doc"],
            SETSIM_PAIRS_PER_DOC,
            worst,
            "" if budget is None else f" Capping buckets to {budget} members.",
        )
    # force=True: unconditional deterministic cap for the registered
    # *_capped surface (VERDICT r9 #3) — oracle-replayable by design.
    if budget is not None and (engaged or force):
        from pyspark.sql import Window as W

        rank_key = F.md5(F.concat_ws("|", F.col("s"), F.col("doc_id")).cast("binary"))
        w = W.partitionBy("s").orderBy(rank_key, "doc_id")
        before = pre.count()
        pre = (
            pre.withColumn("_slot", F.row_number().over(w))
            .filter(F.col("_slot") <= budget)
            .drop("_slot")
        )
        info["capped_rows"] = before - pre.count()
    LAST_SETSIM_GUARD.clear()
    LAST_SETSIM_GUARD.update(info)
    return pre

# 3-word shingle expression (Spark SQL, 0-based lambda indexing): the
# set elements for the prefix-filter join. Word-level sets are useless
# on this corpus (measured: the RAREST word appears in 250 of 5000 docs
# at sf0.1 — every word is a stopword, so no token-keyed candidate
# bucket is small), while 3-shingles span a 27k vocabulary with median
# df 9: the selectivity prefix filtering relies on.
_SHINGLES = (
    "CASE WHEN size(ws) >= 3 THEN array_distinct(transform("
    "sequence(0, size(ws) - 3), "
    "i -> concat(ws[i], ' ', ws[i+1], ' ', ws[i+2]))) "
    "ELSE array() END"
)


@query(
    "dedup_setsim_prefix",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, string_split(trim(text), ' ') AS l FROM documents),
    sh AS (
        SELECT DISTINCT doc_id,
               l[r.i + 1] || ' ' || l[r.i + 2] || ' ' || l[r.i + 3] AS s
        FROM toks, unnest(range(greatest(len(l) - 2, 0))) AS r(i)),
    sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
    inter AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
        FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
        GROUP BY 1, 2)
    SELECT doc_a, doc_b, CAST(i AS BIGINT) AS i,
           CAST(x.n + y.n - i AS BIGINT) AS u,
           CAST((2 * 10000 * i + (x.n + y.n - i))
                // (2 * (x.n + y.n - i)) AS BIGINT) AS jac_e4
    FROM inter JOIN sz x ON doc_a = x.doc_id JOIN sz y ON doc_b = y.doc_id
    WHERE {SETSIM_TAU_DEN} * i >= {SETSIM_TAU_NUM} * (x.n + y.n - i)
    """,
)
def dedup_setsim_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT set-similarity self-join via PREFIX FILTERING — the
    all-pairs-similarity classic (Chaudhuri/Ganti/Kaushik's SSJoin,
    ICDE'06; Bayardo/Ma/Srikant "Scaling Up All Pairs", WWW'07; Xiao et
    al.'s PPJoin, WWW'08 — public-literature designs), over 3-word
    shingle sets: order each document's shingles by GLOBAL document
    frequency ascending (rarest first, shingle-tiebroken), keep only the
    first n - ceil(tau*n) + 1 as the doc's prefix, and generate
    candidates from an equi-join on prefix shingles plus the length
    filter tau*|a| <= |b| <= |a|/tau. The prefix-filtering lemma
    guarantees every pair with Jaccard >= tau shares a prefix shingle,
    so unlike the MinHash/SimHash banding family this join is EXACT with
    NO probability knob — and unlike dedup_ngram_jaccard's fixed
    8-token-prefix blocker it cannot miss a pair whose head was edited.
    The oracle is a genuinely independent algorithm (brute-force
    shingle-intersection join in DuckDB), so the recall guarantee is
    VALUE-proved end-to-end, not assumed.

    All-integer outputs: intersection i, union u, and the e4
    round-to-nearest Jaccard ((2*10000*i + u) DIV (2*u), the
    driver-proof ratio form).

    Scale shape: the shingle-df table is one groupBy; candidate buckets
    key on RARE shingles by construction (df-ascending prefix ordering
    is WHY this survives 100 TB — a boilerplate shingle never enters a
    prefix, so the hot-bucket explosion a naive shingle-join suffers
    cannot happen; measured here: median prefix-bucket df 9 over a 27k
    shingle vocabulary at sf0.1). Verify is one array_intersect per
    candidate; AQE splits any residual hot bucket."""
    return _build_setsim_query(spark, sf_dir)


def setsim_prefix_plan(docs: DataFrame) -> DataFrame:
    """The LAZY prefix-table plan (doc_id, n, s): df-ascending shingle
    ordering, integer-ceil prefix length, exploded prefix shingles —
    exposed un-checkpointed so tests can audit the physical plan (the
    serving path materializes it once per session via session_memo).

    NO broadcast hint on dfreq (VERDICT r10 #1): the shingle vocabulary
    grows with the corpus (27k at sf0.1, billions at 100 TB), so a
    pinned F.broadcast is a guaranteed OOM at scale. Same policy as
    text.py's df table: AQE broadcasts it while it fits (plan-tested at
    bench SF in tests/test_plans.py) and falls back to a shuffle join
    beyond — the safe default a pin would override."""
    tok = docs.select("doc_id", F.explode("sh").alias("s"))
    dfreq = tok.groupBy("s").agg(F.count(F.lit(1)).alias("df"))
    ordered = (
        tok.join(dfreq, "s")
        .groupBy("doc_id")
        .agg(
            F.array_sort(
                F.collect_list(F.struct(F.col("df"), F.col("s")))
            ).alias("ord")
        )
        .select(
            "doc_id",
            F.transform("ord", lambda x: x["s"]).alias("toks"),
            F.size("ord").alias("n"),
        )
    )
    # prefix length n - ceil(tau*n) + 1, all-integer ceil
    plen = (
        F.col("n")
        - F.expr(
            f"({SETSIM_TAU_NUM} * n + {SETSIM_TAU_DEN} - 1) DIV {SETSIM_TAU_DEN}"
        )
        + F.lit(1)
    )
    return ordered.select(
        "doc_id", "n", F.explode(F.slice("toks", F.lit(1), plen)).alias("s")
    )


def _build_setsim_query(
    spark: SparkSession,
    sf_dir: str,
    budget: int | None = None,
    force: bool = False,
) -> DataFrame:
    # the checkpointed shingle table is shared between the exact and the
    # capped variants (r11: the two queries rebuilt it independently —
    # the single largest serving cost in BENCH_DETAIL at 7.1s + 5.4s)
    docs = session_frame(
        spark,
        sf_dir,
        "setsim_docs",
        lambda: load_parallel(spark, sf_dir, "documents")
        .select("doc_id", words_col().alias("ws"))
        .select("doc_id", F.expr(_SHINGLES).alias("sh")),
    )
    # the UNguarded exploded prefix (O(docs × prefix_len) rows, ≪ tok) is
    # shared between the exact and capped variants too; the guard/cap is
    # variant-specific and applies downstream of the checkpoint
    pre = setsim_density_guard(
        session_frame(spark, sf_dir, "setsim_pre_raw", lambda: setsim_prefix_plan(docs)),
        budget=budget,
        force=force,
    )
    a = pre.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na"), "s")
    b = pre.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb"), "s")
    cand = (
        a.join(b, "s")
        .filter(
            (F.col("doc_a") < F.col("doc_b"))
            # length filter: tau*na <= nb and tau*nb <= na (integer form)
            & (SETSIM_TAU_DEN * F.col("nb") >= SETSIM_TAU_NUM * F.col("na"))
            & (SETSIM_TAU_DEN * F.col("na") >= SETSIM_TAU_NUM * F.col("nb"))
        )
        .select("doc_a", "doc_b")
        .distinct()
    )
    wa = docs.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sha"))
    wb = docs.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("shb"))
    inter = F.size(F.array_intersect("sha", "shb")).cast("long")
    return (
        cand.join(wa, "doc_a")
        .join(wb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            inter.alias("i"),
            (F.size("sha") + F.size("shb")).cast("long").alias("nn"),
        )
        .select(
            "doc_a",
            "doc_b",
            "i",
            (F.col("nn") - F.col("i")).alias("u"),
        )
        .filter(SETSIM_TAU_DEN * F.col("i") >= SETSIM_TAU_NUM * F.col("u"))
        .select(
            "doc_a",
            "doc_b",
            "i",
            "u",
            F.expr("(2 * 10000 * i + u) DIV (2 * u)").alias("jac_e4"),
        )
    )


# Registered CAP consumer for the prefix-filter join (VERDICT r9 #3):
# unlike the exact twin (whose oracle is a genuinely independent
# brute-force intersection), the capped variant's result DEPENDS on the
# candidate generation, so its oracle replays the whole prefix pipeline
# — df-ascending (df, s) ordering, integer-ceil prefix length, the
# md5-ranked per-bucket cap — then verifies with exact intersections.
# Budget 2 bites at sf0.01 (measured: 6 prefix buckets of 3 members).
SETSIM_CAP_BUDGET = 2

_SETSIM_CAPPED_ORACLE = f"""
    WITH toks AS (
        SELECT doc_id, string_split(trim(text), ' ') AS l FROM documents),
    sh AS (
        SELECT DISTINCT doc_id,
               l[r.i + 1] || ' ' || l[r.i + 2] || ' ' || l[r.i + 3] AS s
        FROM toks, unnest(range(greatest(len(l) - 2, 0))) AS r(i)),
    sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
    dfq AS (SELECT s, count(*) AS df FROM sh GROUP BY s),
    ord AS (SELECT sh.doc_id, sh.s, sz.n,
                   row_number() OVER (PARTITION BY sh.doc_id
                                      ORDER BY dfq.df, sh.s) AS rk
            FROM sh JOIN dfq USING (s) JOIN sz USING (doc_id)),
    pre AS (SELECT doc_id, n, s FROM ord
            WHERE rk <= n - ({SETSIM_TAU_NUM} * n + {SETSIM_TAU_DEN} - 1)
                           // {SETSIM_TAU_DEN} + 1),
    prec AS (SELECT doc_id, n, s FROM (
               SELECT doc_id, n, s,
                      row_number() OVER (PARTITION BY s
                        ORDER BY md5(concat_ws('|', s, doc_id)), doc_id)
                          AS slot
               FROM pre) WHERE slot <= {SETSIM_CAP_BUDGET}),
    cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
                    a.n AS na, b.n AS nb
             FROM prec a JOIN prec b
               ON a.s = b.s AND a.doc_id < b.doc_id
              AND {SETSIM_TAU_DEN} * b.n >= {SETSIM_TAU_NUM} * a.n
              AND {SETSIM_TAU_DEN} * a.n >= {SETSIM_TAU_NUM} * b.n),
    inter AS (SELECT c.doc_a, c.doc_b, count(*) AS i
              FROM cand c
              JOIN sh x ON x.doc_id = c.doc_a
              JOIN sh y ON y.doc_id = c.doc_b AND y.s = x.s
              GROUP BY 1, 2)
    SELECT doc_a, doc_b, CAST(i AS BIGINT) AS i,
           CAST(x.n + y.n - i AS BIGINT) AS u,
           CAST((2 * 10000 * i + (x.n + y.n - i))
                // (2 * (x.n + y.n - i)) AS BIGINT) AS jac_e4
    FROM inter JOIN sz x ON doc_a = x.doc_id JOIN sz y ON doc_b = y.doc_id
    WHERE {SETSIM_TAU_DEN} * i >= {SETSIM_TAU_NUM} * (x.n + y.n - i)
"""


@query("dedup_setsim_capped", oracle=_SETSIM_CAPPED_ORACLE)
def dedup_setsim_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dedup_setsim_prefix with the density guard's PER-BUCKET CAP
    engaged unconditionally (budget={SETSIM_CAP_BUDGET}) — the
    registered consumer of the valve the round-9 continuation probe
    motivated (replica corpora share rarest shingles, so prefix buckets
    densify quadratically while verified pairs stay flat). Each prefix
    bucket keeps its {SETSIM_CAP_BUDGET} lowest-md5-ranked (s, doc)
    rows before the candidate join, bounding the join at
    buckets x C(budget, 2) pairs. NOTE the exactness downgrade, stated
    plainly: the prefix-filtering recall lemma assumes the full prefix
    index, so a capped bucket can drop a true pair — this is the
    documented trade approximate callers opt into when a census shows
    super-linear density, and the reason the exact twin keeps budget
    None. Deterministic md5(s|doc_id) rank means both engines replay
    the identical keep-set: the cap SEMANTICS are value-hash-checked,
    not assumed."""
    return _build_setsim_query(spark, sf_dir, budget=SETSIM_CAP_BUDGET, force=True)
