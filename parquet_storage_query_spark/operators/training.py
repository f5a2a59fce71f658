"""Training-data pipeline operators (north-star extension surface): the
dataset-engineering steps between "deduplicated corpus" and "tokens on
GPUs" — deterministic splits, class rebalancing, sequence packing, corpus
interleaving, PII redaction.

Everything is content-hash deterministic (md5 buckets, never rand()): the
same rows land in the same split/sample/position on every engine, run, and
partitioning — the property that makes backfills and re-runs reproducible,
and what lets DuckDB hash-check every operator here. All map-side except
where a sort/window is the operator's own semantics.

The reference has no training surface (its pipeline ends at compacted
parquet, DataPreparationOrchestration.cs:88-143); these extend the same
"prepare blobs for consumption" contract to LLM-corpus consumption.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..cache import prepared, session_frame
from ..catalog import load, load_parallel
from ..registry import query
from .text import LEXICONS, _hits, _sql_hits, words_col


def _md5_bucket(col, n: int = 100):
    """Deterministic [0, n) bucket from the md5 of a string column — the
    engine-portable substitute for rand() (same idiom as
    sample_hash_bucket; DuckDB twin: ('0x' || substr(md5(x),1,8))::BIGINT % n)."""
    return F.conv(F.substring(F.md5(col.cast("binary")), 1, 8), 16, 10).cast("long") % n


@query(
    "train_split_hash",
    oracle="""
    SELECT doc_id, lang,
           CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'valid' ELSE 'test' END AS split
    FROM (SELECT doc_id, lang,
                 CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100 AS b
          FROM documents)
    """,
)
def train_split_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 80/10/10 train/valid/test assignment by id-hash bucket.
    Hashing the ID (not the content) keeps a document's split stable across
    content revisions; map-side only — a full scan but zero shuffle at any
    scale."""
    b = _md5_bucket(F.col("doc_id").cast("string"))
    split = (
        F.when(b < 80, F.lit("train")).when(b < 90, F.lit("valid")).otherwise(F.lit("test"))
    )
    return load(spark, sf_dir, "documents").select("doc_id", "lang", split.alias("split"))


@query(
    "train_stratified_sample",
    oracle="""
    SELECT doc_id, lang FROM documents
    WHERE CAST(('0x' || substr(md5(text), 1, 8)) AS BIGINT) % 100
          < CASE WHEN lang = 'en' THEN 10 ELSE 30 END
    """,
)
def train_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-stratum deterministic downsampling (class rebalancing): the
    over-represented stratum ('en' ≈ 40% of the corpus) keeps 10%, the rest
    30% — same shape as sampleBy() but content-hash reproducible instead of
    RNG-dependent. Map-side filter; rates are the tunables."""
    rate = F.when(F.col("lang") == "en", F.lit(10)).otherwise(F.lit(30))
    return (
        load(spark, sf_dir, "documents")
        .filter(_md5_bucket(F.col("text")) < rate)
        .select("doc_id", "lang")
    )


@query(
    "train_seq_pack_plan",
    oracle="""
    WITH toks AS (
        SELECT doc_id, lang, len(string_split(trim(text), ' ')) AS n_tokens
        FROM documents),
    sized AS (
        SELECT doc_id, lang, n_tokens,
               sum(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
                                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   - n_tokens AS offset_tokens
        FROM toks)
    SELECT lang,
           CAST(floor(offset_tokens / 2048.0) AS BIGINT) AS seq_id,
           count(*)                            AS n_docs,
           CAST(sum(n_tokens) AS BIGINT)       AS total_tokens,
           min(doc_id)                         AS first_doc,
           max(doc_id)                         AS last_doc
    FROM sized GROUP BY 1, 2
    """,
)
def train_seq_pack_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence-packing plan: pack documents into 2048-token training
    sequences per language via cumulative-offset binning — prep_binpack_plan
    (reference D2's greedy loop) re-targeted from bytes to tokens, and
    PARTITIONED: the window runs per lang, so at 100 TB each partition's
    cumulative sum is an independent task instead of one global window."""
    toks = load(spark, sf_dir, "documents").select(
        "doc_id", "lang", F.size(words_col()).alias("n_tokens")
    )
    w = W.partitionBy("lang").orderBy("doc_id").rowsBetween(W.unboundedPreceding, W.currentRow)
    sized = toks.withColumn("offset_tokens", F.sum("n_tokens").over(w) - F.col("n_tokens"))
    return (
        sized.withColumn("seq_id", F.floor(F.col("offset_tokens") / F.lit(2048.0)).cast("long"))
        .groupBy("lang", "seq_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
            F.min("doc_id").alias("first_doc"),
            F.max("doc_id").alias("last_doc"),
        )
    )


@query(
    "train_interleave",
    oracle="""
    SELECT pos, doc_id, source FROM (
        SELECT doc_id, source,
               row_number() OVER (ORDER BY md5(source || '|' || CAST(doc_id AS VARCHAR)),
                                  doc_id) AS pos
        FROM documents)
    WHERE pos <= 100
    """,
)
@prepared("train_interleave_query")
def train_interleave(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic corpus interleave: a global order by content hash mixes
    the 20 sources uniformly (no run of same-source documents reaches the
    trainer), reproducibly — the shuffle-once step before sharding. The
    top-100 preview keeps the checked result small.

    Global position WITHOUT a global window (rounds 1-3 planned an
    unpartitioned row_number() — a single-partition WindowExec that drags
    the whole corpus through ONE task; Spark itself warns `WindowExec: No
    Partition Defined`): range-partition the slim (doc_id, source, hash)
    projection on the interleave key, pin the partition assignment with an
    eager checkpoint, collect the per-partition COUNTS (one row per
    partition — model-sized at any corpus size), and compute
    pos = partition_offset + row_number() over a window PARTITIONED by the
    pinned partition id. Every stage is distributed; the only driver-side
    data is the partition-count vector. RangePartitioner guarantees
    partition i's key range precedes partition i+1's, so offset+local-rank
    reproduces the exact global rank the oracle's row_number() computes."""
    h = F.md5(
        F.concat(F.col("source"), F.lit("|"), F.col("doc_id").cast("string")).cast("binary")
    )
    slim = load(spark, sf_dir, "documents").select("doc_id", "source", h.alias("h"))
    n_parts = max(int(spark.conf.get("spark.sql.shuffle.partitions", "32")), 1)
    ranged = session_frame(
        spark,
        sf_dir,
        "train_interleave_ranged",
        lambda: slim.repartitionByRange(n_parts, "h", "doc_id").withColumn(
            "_pid", F.spark_partition_id()
        ),
    )
    counts = {
        r["_pid"]: r["n"]
        for r in ranged.groupBy("_pid").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    offsets, acc = {}, 0
    for pid in sorted(counts):
        offsets[pid] = acc
        acc += counts[pid]
    # offsets as LONG literals: the int32 form wrapped negative past 2^31
    # rows and wrapped values sailed through the pos <= 100 filter — the
    # oracle's row_number() is BIGINT, so the Spark side is too
    off = F.create_map(
        *[
            x
            for pid in sorted(offsets)
            for x in (F.lit(pid), F.lit(offsets[pid]).cast("long"))
        ]
    )
    wl = W.partitionBy("_pid").orderBy("h", "doc_id")
    pos = off[F.col("_pid")] + F.row_number().over(wl)
    return (
        ranged.withColumn("pos", pos)
        .filter(F.col("pos") <= 100)
        .select("pos", "doc_id", "source")
    )


@query(
    "train_pii_redact",
    oracle=r"""
    SELECT event_id,
           regexp_replace(props, '[0-9]{3,}', '[NUM]', 'g') AS props_redacted,
           CAST(length(props) - length(regexp_replace(props, '[0-9]', '', 'g'))
                AS INTEGER) AS n_digits_removed
    FROM events WHERE event_id < 2000
    """,
)
def train_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII-style redaction: mask every ≥3-digit run in the payload (the
    id/phone/account shape) and count removed digits for an audit column —
    pure JVM regexp, map-side. Real deployments swap in the full pattern
    set (emails, SSNs, cards); the plumbing and the audit-count contract
    are what this query pins down."""
    df = load(spark, sf_dir, "events").filter(F.col("event_id") < 2000)
    return df.select(
        "event_id",
        F.regexp_replace("props", "[0-9]{3,}", "[NUM]").alias("props_redacted"),
        (
            F.length("props") - F.length(F.regexp_replace("props", "[0-9]", ""))
        ).alias("n_digits_removed"),
    )


_SHARD_ORACLE = f"""
    WITH scored AS (
        SELECT doc_id, source, text, n_chars,
               len(string_split(trim(text), ' ')) AS n_tokens,
               CAST({_sql_hits(LEXICONS['en'])} AS DOUBLE)
                   / len(string_split(trim(text), ' ')) AS stop_ratio
        FROM documents WHERE lang = 'en'),
    kept AS (
        SELECT * FROM scored
        WHERE n_tokens BETWEEN 20 AND 1000 AND stop_ratio < 0.5),
    deduped AS (
        SELECT * FROM (
            SELECT *, row_number() OVER (PARTITION BY md5(text)
                                         ORDER BY doc_id) AS rk
            FROM kept) WHERE rk = 1),
    split_assigned AS (
        SELECT source, n_chars, n_tokens,
               CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'valid'
                    ELSE 'test' END AS split
        FROM (SELECT *,
                     CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                          AS BIGINT) % 100 AS b
              FROM deduped))
    SELECT split, source, count(*) AS n_docs,
           CAST(sum(n_chars) AS BIGINT)  AS total_chars,
           CAST(sum(n_tokens) AS BIGINT) AS total_tokens
    FROM split_assigned GROUP BY split, source
"""


@query("pipeline_training_shard", oracle=_SHARD_ORACLE)
def pipeline_training_shard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end corpus-prep pipeline in ONE declarative plan: language
    filter → quality filter (length band + stopword ratio, the
    text_quality_score gate) → exact near-dup removal (min doc_id per
    content hash) → deterministic 80/10/10 split assignment → shard
    manifest per (split, source). This is the composition contract: each
    stage is an operator this engine already ships, and chaining them stays
    a single Catalyst plan — filters push into the scan, the dedup window
    is the only wide stage, and the final rollup partial-aggregates
    map-side.

    At 100 TB: the content-hash dedup window shuffles 16-byte digests with
    doc metadata (never text payloads — Catalyst prunes the column after
    the hash is computed), and everything before it is map-side, so the
    pipeline's cost ≈ one scan + one digest-keyed shuffle + one tiny
    rollup. The manifest (rows = splits × sources) feeds the shard writer."""
    w = words_col()
    n_tok = F.size(w)
    stop_ratio = _hits(w, LEXICONS["en"]).cast("double") / n_tok
    kept = (
        load_parallel(spark, sf_dir, "documents")
        .filter(F.col("lang") == "en")
        .withColumn("n_tokens", n_tok)
        .filter(F.col("n_tokens").between(20, 1000) & (stop_ratio < 0.5))
    )
    dw = W.partitionBy(F.md5(F.col("text").cast("binary"))).orderBy("doc_id")
    deduped = kept.withColumn("rk", F.row_number().over(dw)).filter(F.col("rk") == 1)
    b = _md5_bucket(F.col("doc_id").cast("string"))
    split = (
        F.when(b < 80, F.lit("train")).when(b < 90, F.lit("valid")).otherwise(F.lit("test"))
    )
    return (
        deduped.withColumn("split", split)
        .groupBy("split", "source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
            F.sum("n_tokens").cast("long").alias("total_tokens"),
        )
    )


def write_training_shards(spark: SparkSession, sf_dir: str, dest: str) -> DataFrame:
    """Execute the shard pipeline end-to-end: run the same lang → quality →
    dedup → split dataflow as `pipeline_training_shard`, but write the
    surviving DOCUMENTS to `dest` partitioned by split (the layout a
    trainer consumes: `dest/split=train/...`), and return the per-
    (split, source) manifest read back FROM the written files — so the
    returned counts prove what landed on disk, not what the plan promised.

    At 100 TB the partitionBy write is one distributed job; each split
    directory is independently listable, and the manifest doubles as the
    dataset card. Tested in tests/test_prep.py against the queryable
    manifest."""
    w = words_col()
    n_tok = F.size(w)
    stop_ratio = _hits(w, LEXICONS["en"]).cast("double") / n_tok
    kept = (
        load_parallel(spark, sf_dir, "documents")
        .filter(F.col("lang") == "en")
        .withColumn("n_tokens", n_tok)
        .filter(F.col("n_tokens").between(20, 1000) & (stop_ratio < 0.5))
    )
    dw = W.partitionBy(F.md5(F.col("text").cast("binary"))).orderBy("doc_id")
    deduped = kept.withColumn("rk", F.row_number().over(dw)).filter(F.col("rk") == 1)
    b = _md5_bucket(F.col("doc_id").cast("string"))
    split = (
        F.when(b < 80, F.lit("train")).when(b < 90, F.lit("valid")).otherwise(F.lit("test"))
    )
    (
        deduped.withColumn("split", split)
        .select("split", "doc_id", "source", "text", "n_chars", "n_tokens")
        .write.mode("overwrite")
        .partitionBy("split")
        .parquet(dest)
    )
    return (
        spark.read.parquet(dest)
        .groupBy("split", "source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
            F.sum("n_tokens").cast("long").alias("total_tokens"),
        )
    )


@query(
    "train_seq_pack_execute",
    oracle="""
    WITH toks AS (
        SELECT doc_id, lang, text,
               len(string_split(trim(text), ' ')) AS n_tokens
        FROM documents),
    sized AS (
        SELECT doc_id, lang, text, n_tokens,
               sum(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
                                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   - n_tokens AS off
        FROM toks)
    SELECT lang,
           CAST(floor(off / 2048.0) AS BIGINT) AS seq_id,
           string_agg(text, ' ' ORDER BY doc_id) AS packed_text,
           CAST(sum(n_tokens) AS BIGINT)        AS total_tokens
    FROM sized GROUP BY 1, 2
    """,
)
def train_seq_pack_execute(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing EXECUTED (train_seq_pack_plan materialized): each
    (lang, seq_id) bin's documents concatenated in doc_id order into the
    packed training sequence a dataloader consumes. The in-sequence order
    is made deterministic with sort_array over (doc_id, text) structs —
    collect_list alone has no ordering guarantee across retries or
    partitionings, which would silently produce run-dependent sequences
    (and break the hash check). Same two shuffles as the plan variant:
    the per-lang cumulative window and the (lang, seq_id) rollup; text
    rides each exactly once."""
    toks = load(spark, sf_dir, "documents").select(
        "doc_id", "lang", "text", F.size(words_col()).alias("n_tokens")
    )
    w = W.partitionBy("lang").orderBy("doc_id").rowsBetween(W.unboundedPreceding, W.currentRow)
    sized = toks.withColumn("off", F.sum("n_tokens").over(w) - F.col("n_tokens"))
    packed = (
        sized.withColumn("seq_id", F.floor(F.col("off") / F.lit(2048.0)).cast("long"))
        .groupBy("lang", "seq_id")
        .agg(
            F.array_join(
                F.transform(
                    F.sort_array(F.collect_list(F.struct("doc_id", "text"))),
                    lambda s: s["text"],
                ),
                " ",
            ).alias("packed_text"),
            F.sum("n_tokens").cast("long").alias("total_tokens"),
        )
    )
    return packed


# --- temperature-based domain mixing -------------------------------------
# UniMax / multilingual-LM style: target mixture weight per source is
# count^ALPHA renormalized — ALPHA < 1 upsamples small domains relative to
# their natural share, ALPHA = 1 is proportional, ALPHA = 0 uniform. The
# realized sample keeps min(1, budget·w_s/n_s) of each source via the
# deterministic md5 per-mille gate (never rand()).
MIX_ALPHA = 0.5
MIX_BUDGET_FRAC = 0.3  # sample target: 30% of the corpus

_MIXTURE_ORACLE = f"""
    WITH c AS (SELECT source, CAST(count(*) AS DOUBLE) AS n_s
               FROM documents GROUP BY source),
    z AS (SELECT sum(pow(n_s, {MIX_ALPHA})) AS z, sum(n_s) AS n_tot FROM c),
    rates AS (
        SELECT source, n_s,
               CAST(round(least(1.0,
                        {MIX_BUDGET_FRAC} * n_tot * (pow(n_s, {MIX_ALPHA}) / z) / n_s)
                    * 10000, 0) AS BIGINT) AS permille
        FROM c, z)
    SELECT d.doc_id, d.source, r.permille
    FROM documents d JOIN rates r USING (source)
    WHERE CAST(('0x' || substr(md5(d.text), 1, 8)) AS BIGINT) % 10000 < r.permille
"""


@query("train_domain_mixture", oracle=_MIXTURE_ORACLE)
def train_domain_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-weighted domain mixing (the multilingual/multi-domain
    sampling step): per-source target weight ∝ count^{MIX_ALPHA}
    (α = {MIX_ALPHA} upsamples tail domains), realized by keeping
    min(1, budget·w_s/n_s) of each source through the md5 per-mille gate —
    content-hash deterministic, so the same corpus always yields the same
    mixture (train_stratified_sample's idiom with computed, not hand-set,
    rates).

    Scale shape: the rate table is one O(sources) aggregate over the
    pruned `source` column, computed ONCE per session and collected —
    O(sources) rows, the same bounded-collect class as the repo's guard
    stats — then re-injected as a broadcast literal. The SERVING plan is
    one corpus scan + map-side filter: no second FileScan, no scalar
    cross-join (the two plan-audit flags VERDICT r6 #3 raised). The
    per-mille threshold is rounded to an integer before the comparison so
    the float arithmetic (pow/div) never sits on the keep/drop
    boundary."""
    from ..cache import session_memo

    docs = load(spark, sf_dir, "documents")

    def build_rates() -> list[tuple[str, int]]:
        c = docs.groupBy("source").agg(F.count(F.lit(1)).cast("double").alias("n_s"))
        z = c.agg(
            F.sum(F.pow("n_s", F.lit(MIX_ALPHA))).alias("z"),
            F.sum("n_s").alias("n_tot"),
        )
        w_s = F.pow("n_s", F.lit(MIX_ALPHA)) / F.col("z")
        rates = c.crossJoin(F.broadcast(z)).select(
            "source",
            F.round(
                F.least(
                    F.lit(1.0), F.lit(MIX_BUDGET_FRAC) * F.col("n_tot") * w_s / F.col("n_s")
                )
                * 10000,
                0,
            )
            .cast("long")
            .alias("permille"),
        )
        return [(r["source"], r["permille"]) for r in rates.collect()]

    rate_rows = session_memo(spark, sf_dir, "domain_mixture_rates", build_rates)
    rate_df = spark.createDataFrame(rate_rows, "source string, permille long")
    return (
        docs.join(F.broadcast(rate_df), "source")
        .filter(_md5_bucket(F.col("text"), 10000) < F.col("permille"))
        .select("doc_id", "source", "permille")
    )


# --- curriculum ordering --------------------------------------------------
# Easy-to-hard scheduling: tier by the shared quality-classifier
# probability, rank within (split, tier) so the dataloader can walk tiers
# in order. Thresholds sit on the classifier's sigmoid scale.
CURR_EASY_P = 0.55
CURR_HARD_P = 0.45


def _curriculum_oracle() -> str:
    from .text import cls_raw_score_sql

    return f"""
    WITH scored AS (
        SELECT doc_id,
               CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'valid' ELSE 'test' END
                   AS split,
               0.5 + 0.5 * s / (1.0 + abs(s)) AS p
        FROM (SELECT doc_id,
                     CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
                         % 100 AS b,
                     {cls_raw_score_sql()} AS s
              FROM documents)),
    tiered AS (
        SELECT doc_id, split,
               CASE WHEN p >= {CURR_EASY_P} THEN 'easy'
                    WHEN p < {CURR_HARD_P} THEN 'hard'
                    ELSE 'medium' END AS tier,
               p
        FROM scored)
    SELECT doc_id, split, tier, round(p, 4) AS prob,
           row_number() OVER (PARTITION BY split, tier
                              ORDER BY p DESC, doc_id) AS curriculum_rank
    FROM tiered
    """


@query("train_curriculum", oracle=_curriculum_oracle())
def train_curriculum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum schedule: every document tiered easy/medium/hard by the
    SHARED quality-classifier probability (text.cls_raw_score — one model,
    two consumers) and ranked easy-first within its (split, tier) — the
    order a curriculum dataloader consumes. Composes the deterministic
    split hash with the map-side scorer.

    Scale shape: scoring and tiering are map-side; the only shuffle is the
    (split, tier)-partitioned rank window — 9 partitions of O(n/9) rows,
    never a global single-partition window (the train_interleave lesson).
    Ties at a tier boundary are impossible cross-engine: both engines
    compare the IDENTICAL left-fold double against the threshold."""
    from pyspark.sql import Window as W

    from .text import cls_raw_score

    docs = load(spark, sf_dir, "documents")
    b = _md5_bucket(F.col("doc_id").cast("string"))
    split = (
        F.when(b < 80, F.lit("train")).when(b < 90, F.lit("valid")).otherwise(F.lit("test"))
    )
    # one fold per row: score once into a column, then squash/tier off it
    p = 0.5 + 0.5 * F.col("s") / (1.0 + F.abs(F.col("s")))
    tier = (
        F.when(p >= CURR_EASY_P, F.lit("easy"))
        .when(p < CURR_HARD_P, F.lit("hard"))
        .otherwise(F.lit("medium"))
    )
    scored = docs.select(
        "doc_id", split.alias("split"), cls_raw_score().alias("s")
    ).select("doc_id", "split", tier.alias("tier"), p.alias("p"))
    w = W.partitionBy("split", "tier").orderBy(F.col("p").desc(), "doc_id")
    return scored.select(
        "doc_id",
        "split",
        "tier",
        F.round("p", 4).alias("prob"),
        F.row_number().over(w).alias("curriculum_rank"),
    )


@query(
    "train_epoch_shuffle",
    oracle="""
    WITH ranked AS (
        SELECT e.epoch, d.doc_id,
               md5(CAST(e.epoch AS VARCHAR) || ':' || CAST(d.doc_id AS VARCHAR))
                 AS shuffle_key
        FROM documents d, (SELECT unnest([1, 2, 3]) AS epoch) e
    ), top AS (
        SELECT epoch, doc_id, shuffle_key,
               row_number() OVER (PARTITION BY epoch ORDER BY shuffle_key)
                 AS position
        FROM ranked
    )
    SELECT epoch, position, doc_id FROM top
    WHERE position <= 15
    ORDER BY epoch, position
    """,
)
def train_epoch_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-epoch shuffle order: every epoch visits the corpus
    in a different pseudo-random order, yet any run (and any resumed run)
    reproduces the exact same order — shuffle_key = md5(epoch:doc_id), no
    rand() anywhere. The query surfaces each epoch's first 15 documents as
    the auditable contract.

    Scale shape (ONE corpus scan — VERDICT r6 #3 replaced the previous
    three independent TakeOrdered scans): the doc_id projection explodes
    ×3 epochs map-side, then the top-15-per-epoch runs as the bucketed
    TWO-PHASE rank (the windows.py global-prefix pattern): phase 1 ranks
    within (epoch, doc_id%32) buckets — 96 bounded partitions, never an
    epoch-wide window over the corpus — and keeps ≤15 per bucket; phase 2
    re-ranks the ≤480 survivors per epoch. Documents themselves never
    shuffle; only int/hash triples do, and only bucket heads cross the
    second exchange. The full-epoch materialization of the same contract
    is a repartitionByRange(shuffle_key) + sortWithinPartitions write —
    the shard-writer path (write_training_shards); this query pins the
    ordering both share."""
    docs = load(spark, sf_dir, "documents").select("doc_id")
    keyed = docs.select(
        F.explode(F.array(*[F.lit(e) for e in (1, 2, 3)])).alias("epoch"), "doc_id"
    ).select(
        "epoch",
        "doc_id",
        F.md5(
            F.concat_ws(":", F.col("epoch").cast("string"), F.col("doc_id"))
        ).alias("shuffle_key"),
    )
    w_local = W.partitionBy("epoch", F.pmod(F.col("doc_id"), F.lit(32))).orderBy(
        "shuffle_key"
    )
    survivors = keyed.withColumn("lrk", F.row_number().over(w_local)).filter(
        F.col("lrk") <= 15
    )
    w = W.partitionBy("epoch").orderBy("shuffle_key")
    return (
        survivors.select("epoch", F.row_number().over(w).alias("position"), "doc_id")
        .filter(F.col("position") <= 15)
        .orderBy("epoch", "position")
    )


N_SHARDS = 16
CKSUM_MOD = 1 << 60  # checksum lives comfortably in int64


@query(
    "train_shard_manifest",
    oracle=f"""
    WITH rows_ AS (
        SELECT ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
                   % {N_SHARDS} AS shard,
               doc_id,
               len(string_split(trim(text), ' ')) AS n_tokens,
               ('0x' || substr(md5(text), 1, 15))::BIGINT AS digest
        FROM documents)
    SELECT CAST(shard AS BIGINT) AS shard,
           count(*) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
           min(doc_id) AS min_doc,
           max(doc_id) AS max_doc,
           CAST(sum(digest)::HUGEINT % {CKSUM_MOD} AS BIGINT) AS checksum
    FROM rows_ GROUP BY shard ORDER BY shard
    """,
)
def train_shard_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shard manifest with ORDER-INDEPENDENT content checksums — the
    reproducibility contract a training run ships alongside its data:
    per deterministic shard (id-hash, stable under re-partitioning and
    content revision), the row count, token count, id range, and a
    commutative checksum (sum of per-row content digests mod 2^60) that
    any engine can recompute to verify the shard it read is byte-for-
    byte the shard that was published. Commutativity is the point: the
    checksum is invariant to row order, file split, and executor
    scheduling, so it composes under merge (partial-aggregate friendly)
    and never needs a sort — the property that makes it usable as a
    fast integrity gate at 100 TB (compare 16 ints, not 16 TB).

    Scale shape: one map-side pass computes shard id, token count, and
    digest per row (documents' text never rides the shuffle — only the
    int64 digest does), then ONE shard-keyed partial-merged aggregate;
    the modulo lives in DECIMAL(38,0) until the final cast because the
    digest sum passes int64 at ~10^4 docs per shard."""
    from .dedup import md5_i64

    docs = load(spark, sf_dir, "documents")
    rows = docs.select(
        _md5_bucket(F.col("doc_id").cast("string"), N_SHARDS).alias("shard"),
        "doc_id",
        F.size(words_col("text")).alias("n_tokens"),
        md5_i64(F.col("text")).alias("digest"),
    )
    return (
        rows.groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("n_tokens"),
            F.min("doc_id").alias("min_doc"),
            F.max("doc_id").alias("max_doc"),
            F.sum(F.col("digest").cast("decimal(38,0)")).alias("s"),
        )
        .select(
            F.col("shard").cast("long").alias("shard"),
            "n_docs",
            "n_tokens",
            "min_doc",
            "max_doc",
            F.expr(f"CAST(s % {CKSUM_MOD} AS BIGINT)").alias("checksum"),
        )
        .orderBy("shard")
    )


def _leakage_oracle() -> str:
    from .dedup import _MH_JACCARD_TAIL, _mh_duck_ctes

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
    assign AS (
        SELECT d.doc_id,
               coalesce(c.cluster_id, d.doc_id) AS ckey,
               CAST(('0x' || substr(md5(CAST(coalesce(c.cluster_id, d.doc_id)
                                             AS VARCHAR)), 1, 8)) AS BIGINT)
                   % 100 AS bc,
               CAST(('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 8))
                    AS BIGINT) % 100 AS bn
        FROM documents d LEFT JOIN clus c USING (doc_id)),
    lab AS (
        SELECT doc_id, ckey,
               CASE WHEN bc < 80 THEN 'train' WHEN bc < 90 THEN 'valid'
                    ELSE 'test' END AS split_c,
               CASE WHEN bn < 80 THEN 'train' WHEN bn < 90 THEN 'valid'
                    ELSE 'test' END AS split_n
        FROM assign),
    pl AS (
        SELECT a.split_c AS ca, b.split_c AS cb, a.split_n AS na,
               b.split_n AS nb
        FROM pairs p JOIN lab a ON a.doc_id = p.doc_a
                     JOIN lab b ON b.doc_id = p.doc_b)
    SELECT l.split_c AS split,
           count(DISTINCT l.doc_id) AS n_docs,
           count(DISTINCT l.ckey) AS n_clusters,
           CAST(coalesce(any_value(nl.n), 0) AS BIGINT) AS naive_cross_pairs,
           CAST(coalesce(any_value(cl.n), 0) AS BIGINT) AS cluster_cross_pairs
    FROM lab l
    LEFT JOIN (SELECT s, sum(n) AS n FROM (
                   SELECT na AS s, count(*) AS n FROM pl
                   WHERE na <> nb GROUP BY 1
                   UNION ALL
                   SELECT nb, count(*) FROM pl WHERE na <> nb GROUP BY 1)
               GROUP BY s) nl ON nl.s = l.split_c
    LEFT JOIN (SELECT s, sum(n) AS n FROM (
                   SELECT ca AS s, count(*) AS n FROM pl
                   WHERE ca <> cb GROUP BY 1
                   UNION ALL
                   SELECT cb, count(*) FROM pl WHERE ca <> cb GROUP BY 1)
               GROUP BY s) cl ON cl.s = l.split_c
    GROUP BY l.split_c ORDER BY l.split_c
    """


@query("train_leakage_safe_split", oracle=_leakage_oracle())
def train_leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEAKAGE-SAFE train/valid/test split: assign by hash of the
    near-duplicate CLUSTER id (singletons hash their own doc_id), so a
    document and its near-copies can never straddle a split boundary —
    the eval-contamination failure mode a doc-id hash split (
    train_split_hash) structurally permits. The output quantifies
    exactly that: per split, doc and cluster counts plus the number of
    verified near-dup pairs CROSSING out of the split under the naive
    doc-hash assignment (the leak you'd have shipped) vs under the
    cluster assignment — zero BY CONSTRUCTION, and the census proves it
    rather than asserting it.

    Shape: the session-shared cluster fixpoint left-joins the corpus
    (one doc-keyed shuffle), split is a map-side md5 bucket of the
    cluster key, and the leak audit joins the verified pair list to the
    assignment twice (pair-sized, bounded by the banded candidate
    generation). The oracle replays banding, reach-closure, both hash
    assignments, and both leak counts."""
    from .dedup import dedup_clusters, dedup_minhash_lsh

    clus = dedup_clusters(spark, sf_dir).select("doc_id", "cluster_id")
    docs = load(spark, sf_dir, "documents").select("doc_id")
    lab = (
        docs.join(clus, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("cluster_id", "doc_id").alias("ckey"),
        )
        .select(
            "doc_id",
            "ckey",
            (_md5_bucket(F.col("ckey").cast("string"))).alias("bc"),
            (_md5_bucket(F.col("doc_id").cast("string"))).alias("bn"),
        )
        .select(
            "doc_id",
            "ckey",
            F.expr(
                "CASE WHEN bc < 80 THEN 'train' WHEN bc < 90 THEN 'valid' "
                "ELSE 'test' END"
            ).alias("split_c"),
            F.expr(
                "CASE WHEN bn < 80 THEN 'train' WHEN bn < 90 THEN 'valid' "
                "ELSE 'test' END"
            ).alias("split_n"),
        )
        .localCheckpoint(eager=True)  # corpus-sized; 3 consumers below
    )
    census = lab.groupBy(F.col("split_c").alias("split")).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct("ckey").alias("n_clusters"),
    )
    pairs = dedup_minhash_lsh(spark, sf_dir).select("doc_a", "doc_b")
    pl = (
        pairs.join(
            lab.select(
                F.col("doc_id").alias("doc_a"),
                F.col("split_c").alias("ca"),
                F.col("split_n").alias("na"),
            ),
            "doc_a",
        )
        .join(
            lab.select(
                F.col("doc_id").alias("doc_b"),
                F.col("split_c").alias("cb"),
                F.col("split_n").alias("nb"),
            ),
            "doc_b",
        )
        .localCheckpoint(eager=True)  # pair-sized: both leak censuses
    )
    def cross(col_a: str, col_b: str, name: str):
        x = pl.filter(F.col(col_a) != F.col(col_b))
        return (
            x.select(F.col(col_a).alias("split"))
            .unionAll(x.select(F.col(col_b).alias("split")))
            .groupBy("split")
            .agg(F.count(F.lit(1)).alias(name))
        )

    naive = cross("na", "nb", "naive_cross_pairs")
    clusx = cross("ca", "cb", "cluster_cross_pairs")
    return (
        census.join(naive, "split", "left")
        .join(clusx, "split", "left")
        .select(
            "split",
            F.col("n_docs").cast("long").alias("n_docs"),
            F.col("n_clusters").cast("long").alias("n_clusters"),
            F.coalesce("naive_cross_pairs", F.lit(0))
            .cast("long")
            .alias("naive_cross_pairs"),
            F.coalesce("cluster_cross_pairs", F.lit(0))
            .cast("long")
            .alias("cluster_cross_pairs"),
        )
        .orderBy("split")
    )


_GATE_THRESHOLDS_PC = (34, 36, 38, 40, 44, 50)  # thresholds, percent —
# chosen to SPAN the score distribution (measured p5..p95 ≈ 0.34..0.42 at
# sf0.01; 50 anchors the production CLS_KEEP_P gate)


def _gate_sweep_oracle() -> str:
    from .text import cls_score_num_sql

    return f"""
    WITH scored AS (
        SELECT doc_id, n_chars,
               {cls_score_num_sql('ws')} AS a,
               10000 * len(ws) AS b
        FROM (SELECT doc_id, n_chars, string_split(trim(text), ' ') AS ws
              FROM documents)),
    n AS (SELECT count(*) AS total FROM scored),
    t AS (SELECT unnest([{', '.join(str(p) for p in _GATE_THRESHOLDS_PC)}])
              AS pc),
    k AS (
        SELECT t.pc,
               sum(CASE WHEN (CASE WHEN a >= 0
                              THEN a * (200 - 2 * t.pc) >= (2 * t.pc - 100) * b
                              ELSE a * 2 * t.pc >= (2 * t.pc - 100) * b END)
                        THEN 1 ELSE 0 END) AS n_kept,
               sum(CASE WHEN (CASE WHEN a >= 0
                              THEN a * (200 - 2 * t.pc) >= (2 * t.pc - 100) * b
                              ELSE a * 2 * t.pc >= (2 * t.pc - 100) * b END)
                        THEN n_chars ELSE 0 END) AS kept_chars
        FROM scored, t GROUP BY t.pc)
    SELECT CAST(pc AS BIGINT) AS threshold_pct,
           CAST(n_kept AS BIGINT) AS n_kept,
           CAST(kept_chars AS BIGINT) AS kept_chars,
           CAST((2000000 * n_kept + total) // (2 * total) AS BIGINT)
               AS keep_share_e6
    FROM k, n ORDER BY threshold_pct
    """


@query("train_quality_gate_sweep", oracle=_gate_sweep_oracle())
def train_quality_gate_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-filter THRESHOLD sweep — the knob audit for the one
    parameter that decides a curated corpus's size/quality trade: for
    each candidate keep-probability {_GATE_THRESHOLDS_PC} (tenths), how
    many documents and characters survive the classifier gate. The
    watermark-delay and session-gap audits priced streaming parameters;
    this prices the curation parameter everyone actually agonizes over
    ("keep at 0.5 or 0.7?") — from ONE scoring pass, not one rerun per
    candidate.

    The exactness upgrade over the classifier's display: the gate
    prob ≥ p CLEARS the rational sigmoid entirely — with s = a/b
    (integer score numerator over 10⁴·tokens), prob ≥ pc/100 is the pure
    int64 inequality a·(200−2pc) ≥ (2pc−100)·b for a ≥ 0 (and
    a·2pc ≥ (2pc−100)·b below), so the sweep has NO float anywhere, not
    even the classifier's pinned division; at pc=50 it reduces to a ≥ 0,
    bit-equal to the production CLS_KEEP_P gate. One corpus scan folds
    (a, b, n_chars) per doc (checkpointed); the threshold census is
    O(thresholds)."""
    from .text import cls_score_num, words_col

    scored = (
        load(spark, sf_dir, "documents")
        .select(
            "n_chars",
            cls_score_num().alias("a"),
            (F.size(words_col()) * 10_000).cast("long").alias("b"),
        )
        .localCheckpoint(eager=True)  # O(docs) triplets: census + total
    )
    n = scored.agg(F.count(F.lit(1)).alias("total"))
    t = spark.createDataFrame(
        [(p,) for p in _GATE_THRESHOLDS_PC], "pc long"
    )
    keep = F.expr(
        """CASE WHEN a >= 0
           THEN a * (200 - 2 * pc) >= (2 * pc - 100) * b
           ELSE a * 2 * pc >= (2 * pc - 100) * b END"""
    )
    return (
        scored.crossJoin(F.broadcast(t))
        .groupBy("pc")
        .agg(
            F.sum(F.when(keep, 1).otherwise(0)).alias("n_kept"),
            F.sum(F.when(keep, F.col("n_chars")).otherwise(0)).alias("kept_chars"),
        )
        .crossJoin(n)  # 1-row scalar broadcast
        .select(
            F.col("pc").cast("long").alias("threshold_pct"),
            F.col("n_kept").cast("long").alias("n_kept"),
            F.col("kept_chars").cast("long").alias("kept_chars"),
            F.expr(
                "CAST((2000000 * n_kept + total) DIV (2 * total) AS BIGINT)"
            ).alias("keep_share_e6"),
        )
        .orderBy("threshold_pct")
    )


WSAMPLE_K = 25


@query(
    "train_weighted_sample",
    oracle=f"""
    SELECT o_orderkey, w_cents, u_hash, priority_e9
    FROM (
        SELECT o_orderkey,
               CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS w_cents,
               CAST(('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 8))
                    AS BIGINT)                                           AS u_hash,
               CAST(('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 8))
                    AS BIGINT) * 1000000000
                 // CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
                                                                         AS priority_e9
        FROM orders)
    ORDER BY priority_e9, o_orderkey
    LIMIT {WSAMPLE_K}
    """,
)
def train_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DETERMINISTIC weighted sampling — Ohlsson's sequential Poisson
    sampling (the order-sampling family behind `SELECT ... ORDER BY
    u/w LIMIT k`): each order draws priority u/w where u is its
    content-hash uniform and w its value weight (price in cents), and
    the k smallest priorities form a without-replacement sample whose
    inclusion probabilities approximate weight-proportional (πps)
    sampling. The pipeline use: value-weighted corpus subsampling that
    is REPRODUCIBLE — same corpus, same sample, no rand(), any engine.

    Exactness: the priority is the INTEGER floor((u·10⁹)/w) — u is a
    32-bit hash (< 4.3e9) so the product stays inside int64, the weight
    is the exact DECIMAL(18,2)-derived cent count, and the integer DIV
    is bit-identical on both engines (the driver-proof policy: no
    double division anywhere near the ORDER BY). Ties break on the key.

    Scale shape: a global top-k by a map-side expression — Spark plans
    TakeOrderedAndProject (per-partition heaps + O(k) driver merge),
    never a full sort; the corpus pays one scan. Swapping u/w for
    u^(1/w) (exponential-rank A-ES) changes only the priority
    expression; the integer-lattice trick goes with it, which is why
    the sequential-Poisson form is the one a checked pipeline wants."""
    orders = load(spark, sf_dir, "orders")
    u = F.conv(
        F.substring(F.md5(F.col("o_orderkey").cast("string").cast("binary")), 1, 8),
        16,
        10,
    ).cast("long")
    w = (F.col("o_totalprice").cast("decimal(18,2)") * 100).cast("long")
    return (
        orders.select(
            "o_orderkey",
            w.alias("w_cents"),
            u.alias("u_hash"),
            F.expr(
                "CAST(CAST(conv(substring(md5(CAST(CAST(o_orderkey AS STRING) AS BINARY)), 1, 8), 16, 10) AS BIGINT)"
                " * 1000000000 DIV CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS BIGINT)"
            ).alias("priority_e9"),
        )
        .orderBy("priority_e9", "o_orderkey")
        .limit(WSAMPLE_K)
    )


@query(
    "train_pit_features",
    oracle="""
    WITH se AS (
        SELECT event_id, user_id, event_type,
               epoch_us(ts) // 1000000 AS sec,
               CAST(round(value * 100) AS BIGINT) AS cents
        FROM events),
    w AS (
        SELECT event_id, user_id, event_type, sec,
               count(*) OVER pit AS n_all,
               coalesce(sum(cents) OVER pit, 0) AS sum_cents,
               count(*) FILTER (event_type = 'click') OVER pit AS n_clicks,
               count(*) FILTER (event_type = 'error') OVER pit AS n_errors
        FROM se
        WINDOW pit AS (PARTITION BY user_id ORDER BY sec
                       RANGE BETWEEN 86400 PRECEDING AND 1 PRECEDING))
    SELECT event_id AS anchor_id, user_id, CAST(sec AS BIGINT) AS anchor_sec,
           CAST(n_all AS BIGINT) AS n_prior_24h,
           CAST(sum_cents AS BIGINT) AS sum_prior_cents,
           CAST(n_clicks AS BIGINT) AS n_prior_clicks,
           CAST(n_errors AS BIGINT) AS n_prior_errors
    FROM w WHERE event_type = 'purchase' ORDER BY anchor_id
    """,
)
def train_pit_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """POINT-IN-TIME feature materialization — the training-set build
    every feature store must get right or the model trains on the
    future: for each label anchor (purchase events), per-user activity
    features aggregated over the trailing 24 h STRICTLY BEFORE the
    anchor (RANGE frame [−86400 s, −1 s] on epoch seconds — same-second
    events are excluded too, the second-grain strictness contract the
    oracle replays verbatim). join_asof fetches one latest row; this
    aggregates a bounded window per anchor — the other half of the
    point-in-time contract, and the one that silently leaks when
    implemented as a naive groupBy-then-join of daily aggregates.

    Scale shape: ONE user-keyed shuffle; the RANGE frame runs inside
    the sorted partition with a sliding accumulator (no per-anchor
    rescan, no self-join blow-up — the interval-join formulation of the
    same feature is O(anchors × window_events) in candidates, this is
    O(events)). Every feature is integer (counts + exact cents), so the
    hash has no float seam. Anchor timestamps emit as epoch-second
    BIGINTs (driver-proof policy)."""
    sec = (F.unix_micros(F.col("ts")) / 1_000_000).cast("long")
    se = load_parallel(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        "event_type",
        sec.alias("sec"),
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    pit = (
        W.partitionBy("user_id").orderBy("sec").rangeBetween(-86400, -1)
    )
    feat = se.select(
        "event_id",
        "user_id",
        "event_type",
        "sec",
        F.count(F.lit(1)).over(pit).alias("n_prior_24h"),
        F.coalesce(F.sum("cents").over(pit), F.lit(0)).alias("sum_prior_cents"),
        F.count(F.when(F.col("event_type") == "click", 1)).over(pit).alias(
            "n_prior_clicks"
        ),
        F.count(F.when(F.col("event_type") == "error", 1)).over(pit).alias(
            "n_prior_errors"
        ),
    )
    return (
        feat.filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("anchor_id"),
            "user_id",
            F.col("sec").alias("anchor_sec"),
            "n_prior_24h",
            "sum_prior_cents",
            "n_prior_clicks",
            "n_prior_errors",
        )
        .orderBy("anchor_id")
    )


def _pref_oracle() -> str:
    from .text import cls_score_num_sql

    num = cls_score_num_sql()
    return f"""
    WITH sc AS (
        SELECT doc_id, doc_id // 4 AS prompt_id,
               (({num} + 10000000 * len(string_split(trim(text), ' '))) * 100)
                   // len(string_split(trim(text), ' ')) AS skey
        FROM documents),
    g AS (SELECT prompt_id, count(*) AS n_candidates FROM sc GROUP BY prompt_id
          HAVING count(*) >= 2),
    best AS (
        SELECT prompt_id, doc_id AS chosen_id, skey AS ck FROM (
            SELECT prompt_id, doc_id, skey,
                   row_number() OVER (PARTITION BY prompt_id
                                      ORDER BY skey DESC, doc_id) AS rn
            FROM sc) WHERE rn = 1),
    worst AS (
        SELECT prompt_id, doc_id AS rejected_id, skey AS rk FROM (
            SELECT prompt_id, doc_id, skey,
                   row_number() OVER (PARTITION BY prompt_id
                                      ORDER BY skey ASC, doc_id) AS rn
            FROM sc) WHERE rn = 1)
    SELECT g.prompt_id, CAST(n_candidates AS BIGINT) AS n_candidates,
           chosen_id, rejected_id,
           CAST(ck - rk AS BIGINT) AS margin_e6
    FROM g JOIN best USING (prompt_id) JOIN worst USING (prompt_id)
    ORDER BY g.prompt_id
    """


@query("train_preference_pairs", oracle=_pref_oracle())
def train_preference_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PREFERENCE-PAIR construction — the DPO/RLHF dataset-build step:
    group candidate completions by prompt (here the deterministic
    prompt_id = doc_id DIV 4, four candidates per prompt), score each
    with the SHARED hashing-trick quality classifier
    (text.cls_score_num — the same model text_quality_classifier and
    train_curriculum serve), and emit one (chosen, rejected) pair per
    prompt: the argmax and argmin by score with doc_id tiebreaks, plus
    the preference margin.

    Exactness: ranking happens on an INTEGER key — the e6-floored
    score ((S + 1e7·n)·100) DIV n, offset so the numerator is always
    positive (floor and truncate divide diverge on negatives across
    engines; positive DIV is both). Same formula in the oracle, so the
    chosen/rejected assignment and margin are value-hash-checked.

    At 100 TB: one keyed shuffle on prompt_id, windows over
    prompt-sized groups (bounded at the candidate fan-out, never
    corpus-sized), scoring map-side. Reference analogue: none
    (training-prep extension, SURVEY §2.12)."""
    from .text import cls_score_num

    ws = words_col()
    sc = load_parallel(spark, sf_dir, "documents").select(
        "doc_id",
        F.expr("doc_id DIV 4").alias("prompt_id"),
        ((cls_score_num() + F.lit(10000000) * F.size(ws).cast("long")) * 100)
        .cast("long")
        .alias("sn"),
        F.size(ws).cast("long").alias("nw"),
    ).select("doc_id", "prompt_id", F.expr("sn DIV nw").alias("skey"))
    # one scan, one shuffle: argmax/argmin fold instead of two windows
    # (plan_audit flagged the two-window form as a double corpus scan).
    # Tie rules match the oracle row_numbers exactly: chosen = max skey
    # then SMALLEST doc_id (hence -doc_id in the ordering struct),
    # rejected = min skey then smallest doc_id.
    agg = sc.groupBy("prompt_id").agg(
        F.count(F.lit(1)).alias("n_candidates"),
        F.max_by(
            F.struct("doc_id", "skey"),
            F.struct("skey", (-F.col("doc_id")).alias("nd")),
        ).alias("b"),
        F.min_by(F.struct("doc_id", "skey"), F.struct("skey", "doc_id")).alias("w"),
    )
    return (
        agg.filter(F.col("n_candidates") >= 2)
        .select(
            "prompt_id",
            "n_candidates",
            F.col("b.doc_id").alias("chosen_id"),
            F.col("w.doc_id").alias("rejected_id"),
            (F.col("b.skey") - F.col("w.skey")).alias("margin_e6"),
        )
        .orderBy("prompt_id")
    )
