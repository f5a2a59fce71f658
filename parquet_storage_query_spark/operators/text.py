"""Text-analysis operators over the `documents` table — the LLM-pipeline
surface (BASELINE.json north star): token counting, quality scoring,
language-ID heuristic, fingerprinting, corpus rollups.

Everything is built-in `pyspark.sql.functions` (split / filter / transform /
md5 / regexp) — no Python in the hot path, so all of it rides whole-stage
codegen and scales linearly with input splits. At 100 TB these are
embarrassingly parallel map-side ops: zero shuffles except the final
rollups, which aggregate partially map-side first.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..cache import prepared, session_frame, session_memo
from ..catalog import load, load_parallel
from ..registry import query

# Tiny per-language stopword lexicons for the n-gram/stopword-hit language
# heuristic. Deterministic + SQL-expressible so the oracle can mirror it.
LEXICONS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "of", "and", "to"),
    "de": ("der", "die", "das", "und", "ist"),
    "fr": ("le", "les", "et", "dans", "pour"),
    "es": ("el", "los", "de", "que", "por"),
}


def words_col(text: Column | str = "text") -> Column:
    c = F.col(text) if isinstance(text, str) else text
    return F.split(F.trim(c), " ")


def _hits(words: Column, lexicon: tuple[str, ...]) -> Column:
    return F.size(F.filter(words, lambda w: w.isin(*lexicon)))


def _sql_hits(lexicon: tuple[str, ...]) -> str:
    inlist = ", ".join(f"'{w}'" for w in lexicon)
    return f"len(list_filter(string_split(trim(text), ' '), w -> w IN ({inlist})))"


@query(
    "text_token_stats",
    oracle="""
    SELECT doc_id,
           CAST(len(string_split(trim(text), ' ')) AS INTEGER)                AS n_tokens,
           CAST(len(list_distinct(string_split(trim(text), ' '))) AS INTEGER) AS n_distinct,
           round(CAST(len(list_distinct(string_split(trim(text), ' '))) AS DOUBLE)
                 / len(string_split(trim(text), ' ')), 4)                     AS distinct_ratio,
           round(CAST(length(text) AS DOUBLE)
                 / len(string_split(trim(text), ' ')), 4)                     AS avg_token_len
    FROM documents
    """,
)
def text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace token counting + vocabulary-diversity ratios."""
    df = load(spark, sf_dir, "documents")
    w = words_col()
    n_tok = F.size(w)
    n_distinct = F.size(F.array_distinct(w))
    return df.select(
        "doc_id",
        n_tok.alias("n_tokens"),
        n_distinct.alias("n_distinct"),
        F.round(n_distinct.cast("double") / n_tok, 4).alias("distinct_ratio"),
        F.round(F.length("text").cast("double") / n_tok, 4).alias("avg_token_len"),
    )


@query(
    "text_quality_score",
    oracle=f"""
    SELECT doc_id,
           CAST(len(string_split(trim(text), ' ')) AS INTEGER) AS n_tokens,
           round(CAST({_sql_hits(LEXICONS['en'])} AS DOUBLE)
                 / len(string_split(trim(text), ' ')), 4)      AS stopword_ratio,
           round(CAST(length(regexp_replace(text, '[^.!?,;]', '', 'g')) AS DOUBLE)
                 / length(text), 4)                            AS punct_ratio,
           (len(string_split(trim(text), ' ')) BETWEEN 20 AND 1000
            AND CAST({_sql_hits(LEXICONS['en'])} AS DOUBLE)
                / len(string_split(trim(text), ' ')) < 0.5)    AS passes_filter
    FROM documents
    """,
)
def text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality heuristics (length band, stopword ratio, punctuation ratio)
    with a boolean keep/drop verdict — the classic pretraining-corpus
    filter step, entirely map-side."""
    # load_parallel: tokenization + lexicon probing is CPU-bound and a
    # single local file scans as 1-2 splits (same finding as
    # text_novelty_curve); no-op on a real multi-split corpus
    df = load_parallel(spark, sf_dir, "documents")
    w = words_col()
    n_tok = F.size(w)
    stop_ratio = _hits(w, LEXICONS["en"]).cast("double") / n_tok
    punct_ratio = (
        F.length(F.regexp_replace("text", r"[^.!?,;]", "")).cast("double") / F.length("text")
    )
    return df.select(
        "doc_id",
        n_tok.alias("n_tokens"),
        F.round(stop_ratio, 4).alias("stopword_ratio"),
        F.round(punct_ratio, 4).alias("punct_ratio"),
        (n_tok.between(20, 1000) & (stop_ratio < 0.5)).alias("passes_filter"),
    )


def _lang_case_sql() -> str:
    h = {lang: _sql_hits(lex) for lang, lex in LEXICONS.items()}
    g = f"greatest({h['en']}, {h['de']}, {h['fr']}, {h['es']})"
    return f"""
    CASE WHEN {g} = 0 THEN 'unknown'
         WHEN {h['en']} = {g} THEN 'en'
         WHEN {h['de']} = {g} THEN 'de'
         WHEN {h['fr']} = {g} THEN 'fr'
         ELSE 'es' END
    """


@query(
    "text_lang_id",
    oracle=f"""
    SELECT doc_id, lang AS labeled_lang, {_lang_case_sql()} AS detected_lang
    FROM documents
    """,
)
def text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-hit language heuristic: score each lexicon, arg-max with
    fixed precedence (en>de>fr>es), 'unknown' when nothing hits."""
    df = load(spark, sf_dir, "documents")
    w = words_col()
    h = {lang: _hits(w, lex) for lang, lex in LEXICONS.items()}
    g = F.greatest(*h.values())
    detected = (
        F.when(g == 0, "unknown")
        .when(h["en"] == g, "en")
        .when(h["de"] == g, "de")
        .when(h["fr"] == g, "fr")
        .otherwise("es")
    )
    return df.select("doc_id", F.col("lang").alias("labeled_lang"), detected.alias("detected_lang"))


@query(
    "text_fingerprint",
    oracle="""
    SELECT doc_id,
           md5(text)                                                 AS content_md5,
           md5(lower(trim(text)))                                    AS normalized_md5,
           md5(array_to_string(string_split(trim(text), ' ')[1:8], ' ')) AS prefix_md5
    FROM documents
    """,
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprints: raw hash, normalized hash, and an 8-token
    prefix hash (cheap near-dup blocking key)."""
    df = load(spark, sf_dir, "documents")
    w = words_col()
    return df.select(
        "doc_id",
        F.md5(F.col("text").cast("binary")).alias("content_md5"),
        F.md5(F.lower(F.trim(F.col("text"))).cast("binary")).alias("normalized_md5"),
        F.md5(F.concat_ws(" ", F.slice(w, 1, 8)).cast("binary")).alias("prefix_md5"),
    )


@query(
    "text_corpus_rollup",
    oracle="""
    SELECT lang, source, count(*) AS n_docs,
           CAST(sum(n_chars) AS BIGINT)       AS total_chars,
           round(avg(n_chars), 2)             AS avg_chars,
           CAST(min(n_chars) AS BIGINT)       AS min_chars,
           CAST(max(n_chars) AS BIGINT)       AS max_chars
    FROM documents GROUP BY lang, source
    """,
)
def text_corpus_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus composition rollup by (lang, source) — the dataset-card query."""
    return (
        load(spark, sf_dir, "documents")
        .groupBy("lang", "source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
            F.round(F.avg("n_chars"), 2).alias("avg_chars"),
            F.min("n_chars").alias("min_chars"),
            F.max("n_chars").alias("max_chars"),
        )
    )


@query(
    "text_ngram_lm_score",
    oracle="""
    WITH tok AS (
        SELECT doc_id, unnest(string_split(trim(text), ' ')) AS tok FROM documents),
    vocab AS (SELECT tok, count(*) AS cnt FROM tok GROUP BY tok),
    lp AS (SELECT tok,
                  ln(CAST(cnt AS DOUBLE)
                     / CAST((SELECT sum(cnt) FROM vocab) AS DOUBLE)) AS logp
           FROM vocab)
    SELECT t.doc_id,
           count(*)                       AS n_tokens,
           round(avg(lp.logp), 4)         AS avg_logprob,
           round(exp(-avg(lp.logp)), 2)   AS perplexity
    FROM tok t JOIN lp ON t.tok = lp.tok
    GROUP BY t.doc_id
    """,
)
def text_ngram_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram language-model quality score: train token log-probabilities
    from the corpus itself (one explode + groupBy pass), then score every
    document by mean token log-prob / perplexity — the classic
    "how typical is this text" pretraining filter (low avg_logprob = rare
    vocabulary = candidate for closer review).

    Scale shape: the model IS a DataFrame (token → logp). Its size is the
    vocabulary — which still GROWS with a web corpus, so the scoring join
    is hint-free: AQE broadcasts the model while it fits (every bench SF)
    and falls back to a token-keyed shuffle when a trillion-token crawl's
    vocabulary doesn't (hint policy: constant-size sides only). The
    corpus-total normalizer is a broadcast single-row aggregate joined
    onto the vocabulary — no single-partition window anywhere. Swapping
    in bigram counts changes only the explode key; the dataflow is
    identical.

    Shuffle volume: token OCCURRENCES never leave the map side. Both the
    training pass and the scoring join run over the map-side-combined
    (doc_id, tok, cnt) TF table, so the shuffled/joined row count is
    distinct-terms-per-document — the Zipf compression factor (~3-5x on
    this corpus, more on a real crawl where stopwords dominate) — and the
    per-document mean is the exact weighted fold Σ cnt·logp / Σ cnt.
    This halved the 10x-scale wall ratio that made this query the
    suite's standing watch item (r8/r9 headroom: 4.87/5.87)."""
    tf = (
        load_parallel(spark, sf_dir, "documents")
        .select("doc_id", F.explode(words_col()).alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("n_td"))
    )

    def _train_lm() -> DataFrame:
        vocab = tf.groupBy("tok").agg(F.sum("n_td").alias("cnt"))
        total = vocab.agg(F.sum("cnt").alias("total"))
        return (
            vocab.crossJoin(F.broadcast(total))
            .select("tok", F.log(F.col("cnt").cast("double") / F.col("total")).alias("logp"))
        )

    # The trained model is vocabulary-sized; scoring re-executes per call.
    lp = session_frame(spark, sf_dir, "unigram_lm", _train_lm)
    avg_lp = F.sum(F.col("n_td") * F.col("logp")) / F.sum("n_td")
    return (
        tf.join(lp, "tok")
        .groupBy("doc_id")
        .agg(
            F.sum("n_td").alias("n_tokens"),
            F.round(avg_lp, 4).alias("avg_logprob"),
            F.round(F.exp(-avg_lp), 2).alias("perplexity"),
        )
    )


@query(
    "text_bpe_tokens",
    oracle=r"""
    SELECT doc_id,
           CAST(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\s]'))
                AS INTEGER) AS n_subtokens,
           CAST(len(list_distinct(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\s]')))
                AS INTEGER) AS n_unique
    FROM documents
    """,
)
def text_bpe_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-ish subword tokenization via regex (letter runs | digit runs |
    single punctuation) — the pre-tokenizer split most BPE vocabularies
    apply before merges, as a JVM-side regexp_extract_all. Counting at this
    granularity approximates LLM token budgets far better than whitespace
    words; a real tokenizer drops into the same column shape via
    mapInPandas if exact counts are needed."""
    toks = F.regexp_extract_all(F.lower(F.col("text")), F.lit(r"[a-z]+|[0-9]+|[^a-z0-9\s]"), 0)
    # CPU-bound regexp pipeline -> spread the 1-2 local scan splits
    return load_parallel(spark, sf_dir, "documents").select(
        "doc_id",
        F.size(toks).alias("n_subtokens"),
        F.size(F.array_distinct(toks)).alias("n_unique"),
    )


# Deliberately innocuous stand-in blocklist: the real deployment loads its
# term lists from config; the dataflow (multi-term scan, per-term counts,
# verdict) is what this operator pins down.
BLOCKLIST: tuple[str, ...] = ("slow", "broken", "error")


@query(
    "text_content_filter",
    oracle=f"""
    SELECT doc_id,
           {" + ".join(f"len(list_filter(string_split(trim(text), ' '), w -> w = '{t}'))"
                       for t in BLOCKLIST)} AS n_blocked_terms,
           {" + ".join(f"CAST(len(list_filter(string_split(trim(text), ' '), w -> w = '{t}')) > 0 AS INTEGER)"
                       for t in BLOCKLIST)} AS n_distinct_terms,
           ({" + ".join(f"len(list_filter(string_split(trim(text), ' '), w -> w = '{t}'))"
                        for t in BLOCKLIST)}) * 1.0
               / len(string_split(trim(text), ' ')) < 0.05 AS passes_filter
    FROM documents
    """,
)
def text_content_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocklist content filter — the safety/quality gate every pretraining
    corpus passes through: count blocklisted-term hits per document (total
    and distinct terms) and emit a keep/drop verdict on the hit ratio.
    Pure JVM array expressions, map-side, embarrassingly parallel; the
    production version swaps the inline list for a broadcast term table
    (the text_ngram_lm_score model-join shape) when the list is large."""
    df = load(spark, sf_dir, "documents")
    w = words_col()

    # helper scope per term: a `lambda t, term=term:` default-arg closure
    # has ARITY 2, which pyspark interprets as an (element, index) lambda —
    # the "term" parameter silently binds to the index column
    def term_hits(term: str) -> Column:
        return F.size(F.filter(w, lambda t: t == term))

    hits = [term_hits(term) for term in BLOCKLIST]
    total = sum(hits[1:], hits[0])
    distinct = sum(((h > 0).cast("int") for h in hits[1:]), (hits[0] > 0).cast("int"))
    return df.select(
        "doc_id",
        total.alias("n_blocked_terms"),
        distinct.alias("n_distinct_terms"),
        (total * F.lit(1.0) / F.size(w) < 0.05).alias("passes_filter"),
    )


@query(
    "text_dataset_card",
    oracle="""
    SELECT count(*)                                        AS n_docs,
           CAST(count(DISTINCT md5(text)) AS BIGINT)        AS n_unique_docs,
           CAST(sum(len(string_split(trim(text), ' '))) AS BIGINT) AS total_tokens,
           CAST(sum(n_chars) AS BIGINT)                     AS total_chars,
           CAST(count(DISTINCT lang) AS BIGINT)             AS n_langs,
           CAST(count(DISTINCT source) AS BIGINT)           AS n_sources,
           round(1.0 - CAST(count(DISTINCT md5(text)) AS DOUBLE) / count(*), 4)
               AS dup_rate
    FROM documents
    """,
)
def text_dataset_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-row dataset card: corpus size, exact-duplicate rate, token and
    char volume, language and source cardinality — the summary block of a
    dataset datasheet, in ONE pass (single partial/final aggregate; the
    distinct counts ride the same shuffle). At 100 TB swap the exact
    distinct-of-md5 for approx_count_distinct / hll_sketch_agg
    (agg_hll_sketch) and the number is a sketch merge instead."""
    df = load(spark, sf_dir, "documents")
    digest = F.md5(F.col("text").cast("binary"))
    n_unique = F.count_distinct(digest)
    return df.agg(
        F.count(F.lit(1)).alias("n_docs"),
        n_unique.alias("n_unique_docs"),
        F.sum(F.size(words_col())).cast("long").alias("total_tokens"),
        F.sum("n_chars").alias("total_chars"),
        F.count_distinct("lang").alias("n_langs"),
        F.count_distinct("source").alias("n_sources"),
        F.round(1.0 - n_unique.cast("double") / F.count(F.lit(1)), 4).alias("dup_rate"),
    )


# --- benchmark contamination ---
# Eval-set n-gram overlap (the check every training-data team runs before a
# model ships: did benchmark passages leak into the training corpus?). The
# canonical method — flag any training document sharing a ≥13-token n-gram
# with the eval set (GPT-3 / PaLM / Llama decontamination reports all use
# 8-13-gram overlap) — maps to the blocked-join shape dedup_ngram_jaccard
# already uses: explode each side's distinct 13-grams, equi-join on the
# gram. The eval side is SMALL by construction (benchmarks are thousands of
# passages, the corpus is billions of docs), so it broadcasts and the
# corpus side never shuffles for the join; the per-doc rollup shuffles
# (doc_id, count) partials only.
CONTAM_K = 13  # n-gram width
CONTAM_EVAL_MOD = 7  # stand-in eval split: doc_id % 7 == 0 (deterministic,
# SQL-replayable; a real deployment passes an actual benchmark table)


def contamination_check(docs: DataFrame, eval_docs: DataFrame, k: int = CONTAM_K) -> DataFrame:
    """Core contamination join over any (doc_id, text) pair of frames:
    returns one row per CONTAMINATED training doc — (doc_id, n_grams,
    n_overlap, overlap_frac, verdict) where verdict quarantines docs with
    ≥50% of their distinct k-grams found in the eval set ('drop') and
    flags the rest for human review ('review').

    Scale shape: eval grams are distinct-ed then BROADCAST (benchmark
    tables are tiny next to a 100 TB corpus); the corpus side is a
    map-side explode of per-doc distinct k-grams followed by a broadcast
    hash join and one (doc_id)-keyed partial-aggregated rollup. The corpus
    text never shuffles — only (doc_id, gram-hit) pairs that actually
    matched, which is bounded by |eval grams| × collision rate."""
    from .dedup import shingles_col  # local import: dedup imports text at module level

    base = docs.select(
        "doc_id", F.array_distinct(shingles_col("text", k)).alias("gs")
    )
    eval_grams = (
        eval_docs.select(F.explode(F.array_distinct(shingles_col("text", k))).alias("g"))
        .distinct()
    )
    dg = base.select("doc_id", F.size("gs").alias("n_grams"), F.explode("gs").alias("g"))
    hits = (
        dg.join(F.broadcast(eval_grams), "g")
        .groupBy("doc_id", "n_grams")
        .agg(F.count(F.lit(1)).alias("n_overlap"))
    )
    frac = F.col("n_overlap").cast("double") / F.col("n_grams")
    return hits.select(
        "doc_id",
        "n_grams",
        "n_overlap",
        F.round(frac, 4).alias("overlap_frac"),
        F.when(frac >= 0.5, F.lit("drop")).otherwise(F.lit("review")).alias("verdict"),
    )


@query(
    "text_contamination_check",
    oracle=f"""
    WITH ws AS (SELECT doc_id, trim(text) AS t, string_split(trim(text), ' ') AS w
                FROM documents),
    g AS (SELECT doc_id,
                 CASE WHEN len(w) >= {CONTAM_K}
                      THEN list_distinct(list_transform(range(1, len(w) - {CONTAM_K - 2}),
                                         i -> array_to_string(w[i:i+{CONTAM_K - 1}], ' ')))
                      ELSE [t] END AS grams
          FROM ws),
    eg AS (SELECT DISTINCT unnest(grams) AS g FROM g
           WHERE doc_id % {CONTAM_EVAL_MOD} = 0),
    dg AS (SELECT doc_id, CAST(len(grams) AS INTEGER) AS n_grams, unnest(grams) AS g
           FROM g WHERE doc_id % {CONTAM_EVAL_MOD} <> 0)
    SELECT doc_id, n_grams, count(*) AS n_overlap,
           round(CAST(count(*) AS DOUBLE) / n_grams, 4) AS overlap_frac,
           CASE WHEN CAST(count(*) AS DOUBLE) / n_grams >= 0.5
                THEN 'drop' ELSE 'review' END AS verdict
    FROM dg JOIN eg USING (g)
    GROUP BY doc_id, n_grams
    """,
)
def text_contamination_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark-contamination check against a held-out eval split: every
    corpus document sharing a 13-token n-gram with the eval set is
    surfaced with its overlap count and a quarantine verdict. The eval
    split here is the deterministic doc_id % 7 == 0 slice (so DuckDB
    replays it exactly); production swaps in a real benchmark table — the
    plan is identical because contamination_check() takes the eval frame
    as an argument."""
    docs = load_parallel(spark, sf_dir, "documents").select("doc_id", "text")
    train = docs.filter(F.col("doc_id") % CONTAM_EVAL_MOD != 0)
    ev = docs.filter(F.col("doc_id") % CONTAM_EVAL_MOD == 0)
    return contamination_check(train, ev)


REP_FLAG_THRESHOLD = 0.2  # Gopher-style cutoff: >20% repeated 3-grams


@query(
    "text_repetition_score",
    oracle=f"""
    WITH ws AS (SELECT doc_id, string_split(trim(text), ' ') AS w FROM documents),
    g AS (SELECT doc_id,
                 CAST(CASE WHEN len(w) >= 3 THEN len(w) - 2 ELSE 1 END AS INTEGER)
                     AS n_grams,
                 CAST(CASE WHEN len(w) >= 3
                      THEN len(list_distinct(list_transform(range(1, len(w) - 1),
                                             i -> array_to_string(w[i:i+2], ' '))))
                      ELSE 1 END AS INTEGER) AS n_distinct
          FROM ws)
    SELECT doc_id, n_grams, n_distinct,
           round(1.0 - CAST(n_distinct AS DOUBLE) / n_grams, 4) AS rep_frac,
           (1.0 - CAST(n_distinct AS DOUBLE) / n_grams) > {REP_FLAG_THRESHOLD}
               AS flagged
    FROM g
    """,
)
def text_repetition_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-document repetition score (the Gopher/MassiveText quality
    rule the length/stopword gates don't cover): fraction of a doc's
    3-gram occurrences that are repeats of an earlier 3-gram in the SAME
    doc — high values mean boilerplate loops, keyword stuffing, or
    degenerate generation, the classic pretraining-corpus rejects.

    Complementary to dedup_substring_runs (CROSS-doc repeated spans):
    this is the within-doc signal. Pure map-side JVM expressions (shingle
    + array_distinct per row, no explode, no shuffle) — at 100 TB this is
    a full scan and nothing else. Flag threshold {REP_FLAG_THRESHOLD}
    compares the RAW fraction (rounding is display-only)."""
    from .dedup import shingles_col

    grams = shingles_col("text", 3)
    n_grams = F.size(grams)
    n_distinct = F.size(F.array_distinct(grams))
    rep = 1.0 - n_distinct.cast("double") / n_grams
    return load(spark, sf_dir, "documents").select(
        "doc_id",
        n_grams.alias("n_grams"),
        n_distinct.alias("n_distinct"),
        F.round(rep, 4).alias("rep_frac"),
        (rep > REP_FLAG_THRESHOLD).alias("flagged"),
    )


# --- hashed linear quality classifier ------------------------------------
# The fastText-shaped scoring stage of a pretraining pipeline: tokens →
# hashing-trick feature buckets → dot with a fixed-size weight table →
# sigmoid → keep/drop. The weight table here is a deterministic stand-in
# (seeded, 4-decimal literals) because no trained artifact ships with the
# corpus; a real deployment swaps in learned weights — every other part
# (bucket hashing, broadcast model, fold, decision gate) is the production
# shape.
CLS_DIM = 256  # weight-table size (hashing-trick buckets)
CLS_BIAS = -0.05
CLS_KEEP_P = 0.5


def _cls_weights() -> list[float]:
    import numpy as np

    rng = np.random.RandomState(13)
    return [round(float(x), 4) for x in rng.uniform(-1.0, 1.0, CLS_DIM)]


CLS_WEIGHTS = _cls_weights()

# Integer model: the 4-decimal weights and bias in EXACT e4 units. The
# float fold was order-pinned but its VALUES were 4-decimal rationals, so
# mean-weight scores landed exactly on 4-decimal rounding ties (observed
# at sf0.1: score -0.35155 splitting -0.3515/-0.3516 across engines).
# Integer folds are exact at any length; the one double the score path
# produces is a single division of identical int64s.
CLS_W_E4 = [int(round(w * 10000)) for w in CLS_WEIGHTS]
CLS_BIAS_E4 = int(round(CLS_BIAS * 10000))


def cls_score_num(text: Column | str = "text") -> Column:
    """Integer score numerator S = Σ w_e4(token) + n·bias_e4 (int64,
    exact): score = S / (10⁴·n). The shared scoring core
    `text_quality_classifier` and `train_curriculum` both compute."""
    # ONE parsed expression for the 256-weight literal array: the
    # per-element F.lit loop was ~520 py4j round trips (~4s of plan
    # construction) repeated by EVERY consumer of the classifier
    from ..functions.vectors import lit_long_array

    warr = lit_long_array(CLS_W_E4)
    ws = words_col(text)
    tok_w = F.transform(
        ws,
        lambda w: F.element_at(
            warr,
            (
                F.conv(F.substring(F.md5(w.cast("binary")), 1, 8), 16, 10).cast("long")
                % CLS_DIM
            ).cast("int")
            + 1,
        ),
    )
    return F.aggregate(tok_w, F.lit(0).cast("long"), lambda a, x: a + x) + (
        F.size(ws).cast("long") * CLS_BIAS_E4
    )


def cls_raw_score(text: Column | str = "text") -> Column:
    """Exact classifier score as a double: S/(10⁴·n) — one division of
    identical int64s, bit-identical across engines at any scale."""
    ws = words_col(text)
    return cls_score_num(text) / (10000.0 * F.size(ws))


def cls_score_num_sql(ws_expr: str = "string_split(trim(text), ' ')") -> str:
    """DuckDB twin of cls_score_num over an arbitrary word-array expr."""
    warr = "[" + ", ".join(str(w) for w in CLS_W_E4) + "]"
    tok_w = (
        f"({warr}::BIGINT[])[1 + CAST(('0x' || substr(md5(w), 1, 8)) AS BIGINT) % {CLS_DIM}]"
    )
    return (
        f"(list_reduce(list_transform({ws_expr}, w -> {tok_w}), (a, x) -> a + x)"
        f" + len({ws_expr}) * {CLS_BIAS_E4})"
    )


def cls_raw_score_sql(ws_expr: str = "string_split(trim(text), ' ')") -> str:
    """DuckDB twin of cls_raw_score."""
    return f"({cls_score_num_sql(ws_expr)} / (10000.0 * len({ws_expr})))"



def _cls_oracle() -> str:
    return f"""
    WITH scored AS (
        SELECT doc_id,
               len(ws) AS n_tokens,
               {cls_score_num_sql('ws')} AS s_num,
               {cls_raw_score_sql('ws')} AS s
        FROM (SELECT doc_id, string_split(trim(text), ' ') AS ws FROM documents))
    SELECT doc_id, n_tokens,
           floor(CAST(s_num AS DOUBLE) / n_tokens) / 10000.0 AS score,
           round(0.5 + 0.5 * s / (1.0 + abs(s)), 4) AS prob,
           (0.5 + 0.5 * s / (1.0 + abs(s))) >= {CLS_KEEP_P} AS keep
    FROM scored
    """


@query("text_quality_classifier", oracle=_cls_oracle())
def text_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashing-trick linear classifier over tokens (the fastText quality-
    filter shape): each token hashes into one of CLS_DIM weight buckets,
    the document score is the mean bucket weight + bias, squashed by the
    RATIONAL fast sigmoid 0.5 + s/(2(1+|s|)) into a keep probability
    gated at CLS_KEEP_P.

    Scale shape: the model is CLS_DIM literals inlined into the plan (the
    same broadcast-model trick as sim_ivf_topk's centroids), the per-token
    lookup and the left-fold sum are JVM codegen — one map-side scan, zero
    shuffles, zero Python, at any corpus size. The fold is a left fold in
    BOTH engines, so float summation order is pinned. The squashing is
    deliberately the RATIONAL sigmoid, not the logistic: libm exp()
    differs by 1 ulp between JVM Math.exp and DuckDB std::exp, which
    flipped 4-decimal roundings (and downstream curriculum ranks) for a
    handful of rows once corpora passed ~5k docs — +,*,/,abs are IEEE
    exact-rounded, so the rational form is bit-identical cross-engine at
    every scale, same monotone S-shape, same gate semantics."""
    docs = load(spark, sf_dir, "documents")
    ws = words_col()
    prob = 0.5 + 0.5 * F.col("s") / (1.0 + F.abs(F.col("s")))
    return (
        # ONE integer fold per row; the exact score derives from the
        # selected s_num column instead of a second fold
        docs.select(
            "doc_id",
            F.size(ws).alias("n_tokens"),
            cls_score_num().alias("s_num"),
        )
        .withColumn("s", F.col("s_num") / (10000.0 * F.col("n_tokens")))
        .select(
            "doc_id",
            "n_tokens",
            # exact display: floor(S/n) is an integer decided by integer
            # comparison margins ≥ 1/n — never within double error
            (F.floor(F.col("s_num").cast("double") / F.col("n_tokens")) / 10000.0).alias("score"),
            F.round(prob, 4).alias("prob"),
            (prob >= F.lit(CLS_KEEP_P)).alias("keep"),
        )
    )


# --- TF-IDF keyword extraction -------------------------------------------
TFIDF_TOP_K = 3

_TFIDF_ORACLE = f"""
    WITH toks AS (
        SELECT doc_id, t.term AS term
        FROM (SELECT doc_id, string_split(trim(text), ' ') AS ws FROM documents),
             unnest(ws) AS t(term)),
    doclen AS (SELECT doc_id, count(*) AS n_tokens FROM toks GROUP BY doc_id),
    tf AS (SELECT doc_id, term, count(*) AS n_td FROM toks GROUP BY doc_id, term),
    idf AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
    n AS (SELECT count(*) AS n_docs FROM documents),
    scored AS (
        SELECT tf.doc_id, tf.term,
               (CAST(tf.n_td AS DOUBLE) / doclen.n_tokens)
                   * (CAST(n.n_docs + 1 AS DOUBLE) / (idf.df + 1)) AS s
        FROM tf
        JOIN doclen USING (doc_id)
        JOIN idf USING (term)
        CROSS JOIN n)
    SELECT doc_id, term, round(s, 4) AS tfidf, rk FROM (
        SELECT doc_id, term, s,
               row_number() OVER (PARTITION BY doc_id ORDER BY s DESC, term) AS rk
        FROM scored)
    WHERE rk <= {TFIDF_TOP_K}
"""


@query("text_tfidf_keywords", oracle=_TFIDF_ORACLE)
@prepared("tfidf_query")
def text_tfidf_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document top-{TFIDF_TOP_K} keywords by TF-IDF — the classic
    corpus-statistics extraction (document cards, index terms, topic
    seeds). IDF here is the smoothed RATIO (N+1)/(df+1) rather than its
    logarithm: every score stays inside IEEE-exactly-rounded ops (integer
    counts → two divisions and a multiply), so cross-engine rank order is
    bitwise stable — ln() would put the ranking at the mercy of libm ulp
    differences. Production semantics can swap ln in; the dataflow is the
    point.

    Scale shape: ONE corpus scan. Every other input derives from the TF
    table itself — doc lengths are Σ n_td per doc, document frequencies
    are COUNT per term, the corpus size is the doclen row count — and the
    TF table is materialized once (the minhash_docs staging-table
    pattern) because its three consumers would otherwise each re-run the
    explode+count subtree (Catalyst's exchange reuse only deduplicated
    one of them, measured). The IDF table joins
    back HINT-FREE: vocabulary grows with the corpus (web-crawl token
    junk is unbounded), so a static broadcast would OOM at scale — AQE
    broadcasts it while it fits (it does at every bench SF) and shuffles
    on term when it doesn't (hint policy: constant-size sides only). The
    top-k window partitions by doc_id. Nothing is a global window,
    documents never shuffle — only (doc_id, term, count) triples do."""
    from pyspark.sql import Window as W

    docs = load(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.explode(words_col()).alias("term"))
    tf = session_frame(
        spark,
        sf_dir,
        "tfidf_tf",
        lambda: toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("n_td")),
    )
    doclen = tf.groupBy("doc_id").agg(F.sum("n_td").alias("n_tokens"))
    idf = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n = doclen.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.join(doclen, "doc_id")
        .join(idf, "term")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "term",
            (
                (F.col("n_td").cast("double") / F.col("n_tokens"))
                * ((F.col("n_docs") + 1).cast("double") / (F.col("df") + 1))
            ).alias("s"),
        )
    )
    w = W.partitionBy("doc_id").orderBy(F.col("s").desc(), "term")
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= TFIDF_TOP_K)
        .select("doc_id", "term", F.round("s", 4).alias("tfidf"), "rk")
    )


# --- BPE vocabulary training (iterative merge loop) -----------------------
# Word-level byte-pair-encoding trainer: each round counts adjacent
# symbol pairs across the corpus, merges the most frequent pair into one
# symbol (greedy left-to-right within each document), and repeats. The
# third iterative operator family (after Lloyd's k-means and connected
# components), and like them it gets a HARD oracle: every step is
# integer/string work — pair counts, a deterministic argmax
# (count desc, pair asc), and a window-based greedy rewrite — so DuckDB
# replays the full loop unrolled, bit-for-bit, no float tolerance at all.
BPE_MERGES = 3
BPE_SEP = "\x1f"  # unit separator: cannot occur in whitespace tokens


def _bpe_oracle() -> str:
    """The whole training loop unrolled as chained CTEs (the kmeans-oracle
    pattern). Greedy-overlap semantics (only reachable when a == b, e.g.
    'x x x') are the islands trick: within each maximal run of
    consecutive candidate positions, merges start at even offsets."""
    ctes = [
        """r0 AS (
        SELECT doc_id, t.i AS idx, ws[t.i + 1] AS tok
        FROM (SELECT doc_id, string_split(trim(text), ' ') AS ws FROM documents),
             unnest(range(len(ws))) AS t(i))"""
    ]
    for k in range(1, BPE_MERGES + 1):
        p = f"p{k}"
        ctes.append(f"""
    {p} AS (
        SELECT doc_id, idx, tok,
               lead(tok) OVER (PARTITION BY doc_id ORDER BY idx) AS tb
        FROM r{k - 1})""")
        ctes.append(f"""
    w{k} AS (
        SELECT tok AS wa, tb AS wb, count(*) AS cnt
        FROM {p} WHERE tb IS NOT NULL
        GROUP BY tok, tb ORDER BY cnt DESC, wa, wb LIMIT 1)""")
        ctes.append(f"""
    s{k} AS (
        SELECT doc_id, idx FROM (
            SELECT doc_id, idx,
                   min(idx) OVER (PARTITION BY doc_id, grp) AS run_start
            FROM (SELECT c.doc_id, c.idx,
                         c.idx - row_number() OVER (PARTITION BY c.doc_id
                                                    ORDER BY c.idx) AS grp
                  FROM {p} c CROSS JOIN w{k} w
                  WHERE c.tb IS NOT NULL AND c.tok = w.wa AND c.tb = w.wb))
        WHERE (idx - run_start) % 2 = 0)""")
        ctes.append(f"""
    r{k} AS (
        SELECT c.doc_id, c.idx,
               CASE WHEN s.idx IS NOT NULL
                    THEN w.wa || chr(31) || w.wb ELSE c.tok END AS tok
        FROM {p} c
        CROSS JOIN w{k} w
        LEFT JOIN s{k} s  ON s.doc_id = c.doc_id AND s.idx = c.idx
        LEFT JOIN s{k} sp ON sp.doc_id = c.doc_id AND sp.idx = c.idx - 1
        WHERE sp.idx IS NULL)""")
    arms = " UNION ALL ".join(
        f"SELECT {k} AS step, w.wa AS pair_a, w.wb AS pair_b, w.cnt AS n_pairs, "
        f"(SELECT count(*) FROM r{k}) AS tokens_after FROM w{k} w"
        for k in range(1, BPE_MERGES + 1)
    )
    return f"WITH {', '.join(ctes)} {arms}"


@query("text_bpe_vocab_train", oracle=_bpe_oracle())
@prepared("bpe_vocab_query")
def text_bpe_vocab_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenizer-vocabulary training, {BPE_MERGES} merge rounds: the
    learned merge table (pair, its corpus frequency at selection time,
    corpus token count after applying it) — the artifact a tokenizer
    ships. Per round: one pair-count aggregate (partial-merged, keyed by
    the pair), a 1-row deterministic argmax collected to the driver (the
    inlined-model idiom sim_kmeans_train uses), and a greedy rewrite as
    doc_id-partitioned windows — candidate starts resolved with the
    gaps-and-islands parity rule so overlapping runs ('x x x') merge
    left-to-right exactly like a sequential fold would.

    Scale: each round shuffles (doc_id)-keyed token rows and O(vocab²)
    count partials; rows are localCheckpoint-ed per round so lineage
    stays flat. Production trainers fold identical WORDS first (the
    classic word-frequency optimization) — here every token is already a
    word, so that fold is the explode itself. The DuckDB oracle replays
    the entire loop unrolled; with only integer/string ops in play the
    check is exact, not tolerance-based."""
    stats, _rows = _bpe_train(spark, sf_dir)
    return spark.createDataFrame(
        stats, "step int, pair_a string, pair_b string, n_pairs bigint, tokens_after bigint"
    )


def _bpe_train(spark: SparkSession, sf_dir: str):
    """(merge stats, final token-row table) — memoized per (session,
    sf_dir) so the trainer and the tokenizer-apply consumer share ONE
    training run (the minhash_docs shared-artifact idiom)."""
    return session_memo(spark, sf_dir, "bpe_train", lambda: _bpe_train_build(spark, sf_dir))


def _bpe_train_build(spark: SparkSession, sf_dir: str):
    from pyspark.sql import Window as W

    docs = load_parallel(spark, sf_dir, "documents")
    rows = docs.select(
        "doc_id", F.posexplode(words_col()).alias("idx", "tok")
    ).localCheckpoint(eager=False)  # round 1's argmax collect materializes it
    stats: list[tuple[int, str, str, int, int]] = []
    for step in range(1, BPE_MERGES + 1):
        wlead = W.partitionBy("doc_id").orderBy("idx")
        p = rows.withColumn("tb", F.lead("tok").over(wlead))
        top = (
            p.filter(F.col("tb").isNotNull())
            .groupBy("tok", "tb")
            .agg(F.count(F.lit(1)).alias("cnt"))
            .orderBy(F.col("cnt").desc(), "tok", "tb")
            .limit(1)
            .collect()[0]
        )
        wa, wb, wcnt = top["tok"], top["tb"], int(top["cnt"])
        cand = p.filter(
            F.col("tb").isNotNull() & (F.col("tok") == wa) & (F.col("tb") == wb)
        )
        grp = (F.col("idx") - F.row_number().over(wlead)).alias("grp")
        starts = (
            cand.select("doc_id", "idx", grp)
            .withColumn(
                "run_start", F.min("idx").over(W.partitionBy("doc_id", "grp"))
            )
            .filter((F.col("idx") - F.col("run_start")) % 2 == 0)
            .select("doc_id", F.col("idx").alias("s_idx"))
        )
        merged_tok = F.lit(wa + BPE_SEP + wb)
        s_here = starts.select("doc_id", F.col("s_idx").alias("idx"), F.lit(True).alias("is_start"))
        s_prev = starts.select(
            "doc_id", (F.col("s_idx") + 1).alias("idx"), F.lit(True).alias("consumed")
        )
        rows = (
            p.join(s_here, ["doc_id", "idx"], "left")
            .join(s_prev, ["doc_id", "idx"], "left")
            .filter(F.col("consumed").isNull())
            .select(
                "doc_id",
                "idx",
                F.when(F.col("is_start"), merged_tok).otherwise(F.col("tok")).alias("tok"),
            )
            # LAZY checkpoint: the tokens_after count below is the action
            # that materializes it, so each round pays 2 jobs (argmax
            # collect + rewrite count) instead of 3 (guide §2.4/§4)
            .localCheckpoint(eager=False)
        )
        stats.append((step, wa, wb, wcnt, rows.count()))
    return stats, rows


def _bpe_apply_oracle() -> str:
    """Per-doc tokenization report off the SAME unrolled training CTEs:
    r{BPE_MERGES} is the corpus after all learned merges."""
    last = BPE_MERGES
    body = _bpe_oracle()
    # reuse the trainer's CTE prefix; swap the final stat arms for the
    # per-doc rollup over the last rewrite
    prefix = body[: body.rindex("SELECT 1 AS step")]
    return f"""{prefix}
    SELECT d.doc_id,
           CAST(len(string_split(trim(d.text), ' ')) AS BIGINT) AS n_tokens_orig,
           count(r.idx)                                         AS n_tokens_bpe,
           count(r.idx) FILTER (contains(r.tok, chr(31)))       AS n_bpe_symbols
    FROM documents d JOIN r{last} r ON r.doc_id = d.doc_id
    GROUP BY d.doc_id, d.text
    """


@query("text_bpe_tokenize_apply", oracle=_bpe_apply_oracle())
@prepared("bpe_apply_query")
def text_bpe_tokenize_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The trained tokenizer APPLIED: per-document token counts before and
    after the learned BPE merges, plus how many merged symbols each doc
    now contains — the compression report that tells you what the new
    vocabulary buys on this corpus. Consumes the SAME memoized training
    run as `text_bpe_vocab_train` (one loop per session, two registered
    consumers — the minhash_docs sharing idiom), so applying costs one
    per-doc rollup over the final checkpointed token table."""
    _stats, rows = _bpe_train(spark, sf_dir)
    docs = load(spark, sf_dir, "documents").select(
        "doc_id", F.size(words_col()).cast("long").alias("n_tokens_orig")
    )
    per_doc = rows.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_tokens_bpe"),
        F.count(F.when(F.col("tok").contains(BPE_SEP), 1)).alias("n_bpe_symbols"),
    )
    return docs.join(per_doc, "doc_id").select(
        "doc_id", "n_tokens_orig", "n_tokens_bpe", "n_bpe_symbols"
    )


# Chunking geometry: 128-token windows advancing 96 tokens (32-token
# overlap) — the RAG-retrieval / packing-prep standard shape.
CHUNK_TOKENS = 128
CHUNK_STEP = 96


@query(
    "text_chunk_windows",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, string_split(trim(text), ' ') AS w FROM documents
    ), plan AS (
        SELECT doc_id, len(w) AS n_tokens,
               1 + greatest(0, (len(w) - {CHUNK_TOKENS} + {CHUNK_STEP} - 1)
                               // {CHUNK_STEP}) AS n_chunks, w
        FROM toks
    )
    SELECT doc_id, CAST(c.i AS INT) AS chunk_id,
           CAST(c.i * {CHUNK_STEP} AS INT) AS start_tok,
           CAST(least(len(w) - c.i * {CHUNK_STEP}, {CHUNK_TOKENS}) AS INT)
             AS chunk_len,
           md5(array_to_string(w[c.i * {CHUNK_STEP} + 1 :
                                 c.i * {CHUNK_STEP} + {CHUNK_TOKENS}], ' '))
             AS chunk_digest
    FROM plan, unnest(range(n_chunks)) AS c(i)
    ORDER BY doc_id, chunk_id
    """,
)
def text_chunk_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document chunking: every document split into {CHUNK_TOKENS}-token
    windows advancing {CHUNK_STEP} tokens (overlap keeps boundary context
    retrievable) — the unit RAG retrieval indexes and packing preparation
    consumes. Each chunk carries a CONTENT digest, so chunk-level exact
    dedup (boilerplate headers/footers shared across docs) and
    chunk-level embedding pipelines key on md5(chunk) rather than
    position.

    Scale shape: pure map-side — tokenize, compute the chunk count with
    integer arithmetic, explode a `sequence`, slice per chunk. No shuffle
    anywhere; the only exchange in the plan is the output ordering the
    check needs. At 100 TB this runs at scan throughput and the digests
    feed the same groupBy-dedup machinery dedup_exact uses."""
    docs = load_parallel(spark, sf_dir, "documents")
    w = words_col()
    n_chunks = F.lit(1) + F.greatest(
        F.lit(0),
        F.expr(f"(size(split(trim(text), ' ')) - {CHUNK_TOKENS} + {CHUNK_STEP} - 1) DIV {CHUNK_STEP}"),
    )
    start = F.col("chunk_id") * CHUNK_STEP
    chunk = F.slice(F.col("w"), start + 1, CHUNK_TOKENS)
    return (
        docs.select("doc_id", w.alias("w"), n_chunks.alias("n_chunks"))
        .select(
            "doc_id",
            "w",
            F.explode(F.sequence(F.lit(0), F.col("n_chunks") - 1)).alias("chunk_id"),
        )
        .select(
            "doc_id",
            F.col("chunk_id").cast("int").alias("chunk_id"),
            start.cast("int").alias("start_tok"),
            F.least(F.size("w") - start, F.lit(CHUNK_TOKENS)).cast("int").alias("chunk_len"),
            F.md5(F.concat_ws(" ", chunk).cast("binary")).alias("chunk_digest"),
        )
        .orderBy("doc_id", "chunk_id")
    )


@query(
    "text_collocations_pmi",
    oracle="""
    WITH wd AS (SELECT string_split(trim(text), ' ') AS w FROM documents),
    uni AS (SELECT word, count(*) AS c
            FROM (SELECT unnest(w) AS word FROM wd) GROUP BY word),
    big AS (SELECT w[i] AS a, w[i+1] AS b, w[i] || ' ' || w[i+1] AS bigram
            FROM wd, unnest(range(1, len(w))) AS t(i)),
    bc AS (SELECT a, b, bigram, count(*) AS n FROM big
           GROUP BY a, b, bigram HAVING count(*) >= 5),
    tot AS (SELECT count(*) AS bt FROM big)
    SELECT bigram, n,
           CAST((2000000 * CAST(bt AS HUGEINT) * n
                 + CAST(ca.c AS HUGEINT) * cb.c)
                // (2 * CAST(ca.c AS HUGEINT) * cb.c) AS BIGINT) AS lift_e6
    FROM bc JOIN uni ca ON bc.a = ca.word
            JOIN uni cb ON bc.b = cb.word
    CROSS JOIN tot
    ORDER BY lift_e6 DESC, bigram
    LIMIT 25
    """,
)
def text_collocations_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation mining: the top-25 bigrams by PMI-style LIFT —
    observed bigram frequency over the frequency expected if the two
    words were independent, B·c(ab) / (c(a)·c(b)) — the corpus-linguistics
    primitive behind phrase detection (word2vec-style phrase merging,
    tokenizer seed phrases, NER gazetteer candidates). Rare-pair noise is
    cut by the classic min-count ≥ 5.

    Exactness: the RANKING KEY is the lift itself, so it must be
    bit-identical across engines — computed as round-half-up integer
    millionths entirely in 128-bit integer arithmetic (DECIMAL(38,0) on
    Spark, HUGEINT on DuckDB; at 100 TB, B·c(ab)·10⁶ overflows int64 —
    same headroom rule as the A/B z² chain). PMI = log(lift) is monotone,
    so ranking by exact lift IS ranking by PMI, with no libm anywhere
    (the known 1-ulp exp/log trap). Ties break on the bigram string.

    Scale shape: one doc-side pass builds bigrams map-side (transform
    over the word array — no self-join of token positions); unigram and
    bigram counts are partial-merge aggregates; the ≥5 filter runs
    BEFORE the vocab joins so only frequent pairs join; the vocab-sized
    unigram side is hint-free (AQE broadcasts while small); the top-25
    plans TakeOrderedAndProject."""
    from ..cache import session_frame

    docs = load_parallel(spark, sf_dir, "documents")  # CPU-bound tokenizing

    # Vocab-sized unigram table, built ONCE (posexplode: the count of
    # position-0 tokens is the doc count, so total bigrams = tokens −
    # docs derives from THIS table — no extra corpus pass) and
    # checkpointed because three consumers (left join, right join, the
    # B scalar) would otherwise each rescan the corpus. Net: 2 corpus
    # scans total (bigrams + unigrams), independent of consumer count.
    def _uni() -> DataFrame:
        wd = docs.select(words_col().alias("w"))
        return (
            wd.select(F.posexplode("w").alias("pos", "word"))
            .groupBy("word")
            .agg(
                F.count(F.lit(1)).alias("c"),
                F.count(F.when(F.col("pos") == 0, 1)).alias("c_first"),
            )
        )

    uni = session_frame(spark, sf_dir, "collocations_unigrams", _uni)
    bt = uni.agg((F.sum("c") - F.sum("c_first")).alias("bt"))
    big = docs.select(words_col().alias("w")).select(
        F.explode(
            F.expr(
                "transform(slice(w, 1, greatest(size(w) - 1, 0)),"
                " (x, i) -> struct(x AS a, w[i + 1] AS b))"
            )
        ).alias("p")
    ).select(
        F.col("p.a").alias("a"),
        F.col("p.b").alias("b"),
        F.concat_ws(" ", "p.a", "p.b").alias("bigram"),
    )
    bc = (
        big.groupBy("a", "b", "bigram")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") >= 5)
    )
    ca = uni.select(F.col("word").alias("a"), F.col("c").alias("ca"))
    cb = uni.select(F.col("word").alias("b"), F.col("c").alias("cb"))
    joined = bc.join(ca, "a").join(cb, "b").crossJoin(F.broadcast(bt))
    lift = F.expr(
        "CAST((2000000 * CAST(bt AS DECIMAL(38,0)) * n"
        " + CAST(ca AS DECIMAL(38,0)) * cb)"
        " DIV (2 * CAST(ca AS DECIMAL(38,0)) * cb) AS BIGINT)"
    )
    return (
        joined.select("bigram", "n", lift.alias("lift_e6"))
        .orderBy(F.col("lift_e6").desc(), "bigram")
        .limit(25)
    )


# ---------------------------------------------------------------------------
# Inverted index + keyword search (§2.12 text-retrieval serving path)
# ---------------------------------------------------------------------------

_SEARCH_TERMS = ("join", "stream", "filter")


def _postings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(token, doc_id, tf) posting table, built ONCE per session and
    localCheckpoint-ed — the prepared-view pattern (q15/RFM): the index
    build and every search it serves share one corpus scan. Explode is
    map-side; the groupBy partial-aggregates so the shuffle carries
    |distinct (token, doc)| rows, not |tokens|."""
    from ..cache import session_frame

    def build() -> DataFrame:
        return (
            load_parallel(spark, sf_dir, "documents")
            .select("doc_id", F.explode(words_col()).alias("token"))
            .groupBy("token", "doc_id")
            .agg(F.count(F.lit(1)).alias("tf"))
        )

    return session_frame(spark, sf_dir, "text_postings", build)


@query(
    "text_inverted_index",
    oracle="""
    WITH tok AS (
        SELECT doc_id, unnest(string_split(trim(text), ' ')) AS token
        FROM documents),
    post AS (SELECT token, doc_id, count(*) AS tf FROM tok GROUP BY token, doc_id)
    SELECT token, count(*) AS df, CAST(sum(tf) AS BIGINT) AS total_tf,
           min(doc_id) AS doc_lo, max(doc_id) AS doc_hi
    FROM post GROUP BY token
    ORDER BY df DESC, token LIMIT 25
    """,
)
def text_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted-index BUILD — the retrieval structure under every corpus
    search/contamination/attribution tool: token → posting list
    (doc, tf), here summarized as the dictionary head (top-25 terms by
    document frequency with posting extents — what an index stores per
    term for skip-pointer planning). The posting table itself is the
    session-shared view `text_keyword_search` serves from, so build and
    query demonstrably share one corpus scan. At 100 TB the posting
    table is the thing you persist partitioned BY TOKEN RANGE (same
    layout story as write_ann_index); df/extents fold from it with one
    token-keyed partial-merge aggregate."""
    post = _postings(spark, sf_dir)
    return (
        post.groupBy("token")
        .agg(
            F.count(F.lit(1)).alias("df"),
            F.sum("tf").alias("total_tf"),
            F.min("doc_id").alias("doc_lo"),
            F.max("doc_id").alias("doc_hi"),
        )
        .orderBy(F.col("df").desc(), "token")
        .limit(25)
    )


@query(
    "text_keyword_search",
    oracle=f"""
    WITH tok AS (
        SELECT doc_id, unnest(string_split(trim(text), ' ')) AS token
        FROM documents),
    post AS (SELECT token, doc_id, count(*) AS tf FROM tok GROUP BY token, doc_id),
    hits AS (
        SELECT doc_id, count(*) AS n_terms, CAST(sum(tf) AS BIGINT) AS total_tf
        FROM post WHERE token IN {_SEARCH_TERMS!r}
        GROUP BY doc_id)
    SELECT doc_id, total_tf
    FROM hits WHERE n_terms = {len(_SEARCH_TERMS)}
    ORDER BY total_tf DESC, doc_id LIMIT 20
    """,
)
def text_keyword_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conjunctive (AND) keyword SEARCH served from the inverted index —
    the query side of `text_inverted_index`: docs containing ALL query
    terms, ranked by combined term frequency. The classic
    posting-intersection plan, expressed relationally: filter the
    posting table to the query terms (at scale: partition pruning on the
    token-range layout — the terms select their posting partitions, the
    corpus is never rescanned), then one doc-keyed partial-merge
    aggregate; a doc matches iff it produced |terms| postings. Top-k is
    TakeOrdered, never a global sort; (total_tf, doc_id) ordering is
    total, so the cut is deterministic on both engines."""
    post = _postings(spark, sf_dir)
    hits = (
        post.filter(F.col("token").isin(*_SEARCH_TERMS))
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_terms"), F.sum("tf").alias("total_tf"))
    )
    return (
        hits.filter(F.col("n_terms") == len(_SEARCH_TERMS))
        .select("doc_id", "total_tf")
        .orderBy(F.col("total_tf").desc(), "doc_id")
        .limit(20)
    )


_BM25_TERMS = ("hash", "merge", "stream")


@query(
    "text_bm25_topk",
    oracle=f"""
    WITH tok AS (
        SELECT doc_id, unnest(string_split(trim(text), ' ')) AS token
        FROM documents),
    post AS (SELECT token, doc_id, count(*) AS tf FROM tok GROUP BY token, doc_id),
    dl AS (SELECT doc_id, sum(tf) AS dl FROM post GROUP BY doc_id),
    stats AS (SELECT (SELECT count(*) FROM documents) AS n,
                     (SELECT sum(dl) FROM dl) AS t),
    dfreq AS (SELECT token, count(*) AS df FROM post
              WHERE token IN {_BM25_TERMS!r} GROUP BY token),
    hits AS (
        SELECT p.doc_id,
               CAST((CAST(s.n AS HUGEINT) - d.df + 1) * p.tf * 44 * s.t
                    AS HUGEINT) AS num,
               CAST((d.df + 1) AS HUGEINT)
                 * (20 * p.tf * CAST(s.t AS HUGEINT)
                    + 6 * CAST(s.t AS HUGEINT)
                    + 18 * CAST(l.dl AS HUGEINT) * s.n) AS den
        FROM post p
        JOIN dfreq d ON d.token = p.token
        JOIN dl l ON l.doc_id = p.doc_id
        CROSS JOIN stats s)
    SELECT doc_id, count(*) AS n_terms,
           CAST(sum((1000000 * num) // den) AS BIGINT) AS score_e6
    FROM hits GROUP BY doc_id
    ORDER BY score_e6 DESC, doc_id LIMIT 20
    """,
)
def text_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANKED disjunctive retrieval with BM25-SHAPED scoring over the
    shared posting table — the scored companion of the boolean
    `text_keyword_search`: docs matching ANY query term, ordered by a
    per-term saturating score Σ_t idf_r(t) · tf·(k1+1) / (tf + k1·(1−b +
    b·dl/avgdl)) with the standard k1=1.2, b=0.75 — BM25's exact tf
    saturation and length normalization. One deliberate substitution
    keeps the chain cross-engine bit-exact: the rational idf surrogate
    (N−df+1)/(df+1) replaces Robertson's log-idf (log is libm, the #1
    documented cross-engine trap); per-term ranking is monotone in the
    same df, and the whole score evaluates in 128-bit integers
    (DECIMAL(38,0)/HUGEINT — the PMI/A-B-z² headroom rule): clearing
    avgdl = T/N turns every term into (N−df+1)·tf·44·T over
    (df+1)·(20·tf·T + 6·T + 18·dl·N), floored to e6 per term and summed
    — deterministic under any executor order because floor happens
    before the sum.

    Scale shape: terms select their postings (partition pruning on the
    token-range layout at scale), df is an O(terms)-row aggregate, dl a
    doc-keyed rollup of the SAME posting table, corpus stats one
    broadcast scalar row; top-k is TakeOrdered."""
    post = _postings(spark, sf_dir)
    dl = post.groupBy("doc_id").agg(F.sum("tf").alias("dl"))
    stats = dl.agg(
        F.count(F.lit(1)).alias("n"), F.sum("dl").alias("t")
    )
    dfreq = (
        post.filter(F.col("token").isin(*_BM25_TERMS))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("df"))
    )
    hits = (
        post.join(dfreq, "token")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
    )
    term_e6 = F.expr(
        "CAST((1000000 * ((CAST(n AS DECIMAL(38,0)) - df + 1) * tf * 44 * t))"
        " DIV (CAST(df + 1 AS DECIMAL(38,0))"
        "      * (20 * tf * CAST(t AS DECIMAL(38,0))"
        "         + 6 * CAST(t AS DECIMAL(38,0))"
        "         + 18 * CAST(dl AS DECIMAL(38,0)) * n)) AS BIGINT)"
    )
    scored = hits.select("doc_id", term_e6.alias("term_e6"))
    return (
        scored.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_terms"),
            F.sum("term_e6").alias("score_e6"),
        )
        .orderBy(F.col("score_e6").desc(), "doc_id")
        .limit(20)
    )


def _novelty_oracle() -> str:
    from .dedup import md5_i64_duck

    h = md5_i64_duck("g")
    return f"""
    WITH ws AS (SELECT doc_id, string_split(trim(text), ' ') AS w,
                       trim(text) AS t
                FROM documents),
    gr AS (SELECT doc_id,
                  CASE WHEN len(w) >= 3
                       THEN list_transform(range(1, len(w) - 1),
                                           i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])
                       ELSE [t] END AS grams
           FROM ws),
    hx AS (SELECT doc_id,
                  list_distinct(list_transform(grams, g -> {h})) AS hs
           FROM gr),
    pairs AS (SELECT doc_id, u.h FROM hx, unnest(hs) AS u(h)),
    fst AS (SELECT h, min(doc_id) AS first_doc FROM pairs GROUP BY h)
    SELECT p.doc_id,
           count(*) AS n_shingles,
           count(*) FILTER (p.doc_id = f.first_doc) AS n_novel,
           (2 * 1000000 * count(*) FILTER (p.doc_id = f.first_doc) + count(*))
               // (2 * count(*)) AS novelty_e6
    FROM pairs p JOIN fst f USING (h)
    GROUP BY p.doc_id
    ORDER BY doc_id
    """


@query("text_novelty_curve", oracle=_novelty_oracle())
def text_novelty_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document shingle NOVELTY against everything that arrived before
    it (arrival order = doc_id): the fraction of a doc's distinct 3-word
    shingles whose FIRST corpus occurrence is this doc. Data-curation
    pipelines plot exactly this curve to decide when a source is mined
    out — novelty decaying toward 0 means each new batch repeats the
    corpus (the scaling-laws dedup literature's "fresh tokens" measure);
    it is the streaming-order complement of the pairwise dedup family
    (which asks WHO duplicates whom, not WHEN repetition sets in).

    Scale shape: shingles hash to int64 (md5_i64, the engine's shared
    cross-engine base hash) BEFORE leaving the row, so the single
    shingle-keyed shuffle moves fixed-width ints, never strings. First
    occurrence = min(doc_id) per shingle hash — a window over the
    shingle partitioning, then one doc-keyed partial-merge census. Both
    shuffles are linear in corpus shingle count; nothing quadratic
    (novelty needs no pair enumeration — the min is the whole trick).
    Output integer-only (driver-proof e6 ratio)."""
    from pyspark.sql import Window as W

    from .dedup import shingle_hashes, shingles_col

    # load_parallel: the per-shingle md5 pipeline is CPU-bound and a
    # single-file local scan yields 1-2 splits — measured 8.4s of the
    # query's 8.4s at 10x scale was the hashing on 2 cores; at 100 TB the
    # scan's own splits provide the parallelism and this is a no-op
    docs = load_parallel(spark, sf_dir, "documents")
    pairs = docs.select(
        "doc_id",
        F.explode(F.array_distinct(shingle_hashes(shingles_col()))).alias("h"),
    )
    first = pairs.withColumn("first_doc", F.min("doc_id").over(W.partitionBy("h")))
    novel = F.count(F.when(F.col("doc_id") == F.col("first_doc"), 1))
    return (
        first.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            novel.alias("n_novel"),
        )
        .select(
            "doc_id",
            "n_shingles",
            "n_novel",
            F.expr(
                "(2 * 1000000 * n_novel + n_shingles) DIV (2 * n_shingles)"
            ).alias("novelty_e6"),
        )
        .orderBy("doc_id")
    )


VOCAB_CHUNKS = 10


def _vocab_growth_oracle() -> str:
    from .dedup import md5_i64_duck

    h = md5_i64_duck("w")
    c = VOCAB_CHUNKS
    return f"""
    WITH mx AS (SELECT max(doc_id) AS m FROM documents),
    words AS (
        SELECT doc_id, (doc_id * {c}) // (m + 1) AS chunk, u.w
        FROM documents, mx, unnest(string_split(trim(text), ' ')) AS u(w)),
    toks AS (SELECT chunk, count(*) AS n_tokens FROM words GROUP BY 1),
    docs AS (SELECT (doc_id * {c}) // (m + 1) AS chunk, count(*) AS n_docs
             FROM documents, mx GROUP BY 1),
    firsts AS (SELECT {h} AS hw, min(doc_id) AS first_doc
               FROM words GROUP BY 1),
    fresh AS (SELECT (first_doc * {c}) // (m + 1) AS chunk,
                     count(*) AS new_words
              FROM firsts, mx GROUP BY 1)
    SELECT CAST(d.chunk AS BIGINT) AS chunk, d.n_docs, t.n_tokens,
           coalesce(f.new_words, 0) AS new_words,
           CAST(sum(t.n_tokens) OVER (ORDER BY d.chunk) AS BIGINT)
               AS cum_tokens,
           CAST(sum(coalesce(f.new_words, 0)) OVER (ORDER BY d.chunk)
               AS BIGINT) AS cum_vocab
    FROM docs d JOIN toks t USING (chunk) LEFT JOIN fresh f USING (chunk)
    ORDER BY chunk
    """


@query("text_vocab_growth", oracle=_vocab_growth_oracle())
def text_vocab_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps'-law vocabulary growth curve: distinct-word vocabulary size
    as a function of cumulative tokens ingested, reported per arrival
    decile (arrival order = doc_id, the text_novelty_curve convention).
    This is THE corpus-planning chart — sublinear vocabulary growth
    V(n) ~ K·n^beta tells you how much new-token coverage the next 10%
    of a source buys, and a flattening curve is the same mined-out
    signal novelty measures, but at the token level where tokenizer
    and embedding-table sizing live.

    Scale shape: the cumulative-distinct problem decomposes by FIRST
    occurrence (a word enters the vocabulary exactly once, in the chunk
    of its first document) — so the whole curve costs one word-hash
    keyed min-aggregate (fixed-width int64 hashes ride the shuffle,
    md5_i64 applied before leaving the row) plus O(chunks) rollups;
    never a growing distinct-set per prefix. The chunk id is pure
    arithmetic on doc_id ((doc_id·C) DIV (max+1)) — no global rank, no
    single-partition window over the corpus; the only ORDER BY window
    runs over the C=10 chunk rows. Integer-only output."""
    from pyspark.sql import Window as W

    from .dedup import md5_i64

    c = VOCAB_CHUNKS
    docs = load_parallel(spark, sf_dir, "documents")  # CPU-bound tokenizing
    m = int(docs.agg(F.max("doc_id")).collect()[0][0])  # 1 scalar
    chunk_of = lambda col: F.expr(f"({col} * {c}) DIV {m + 1}")  # noqa: E731
    words = docs.select(
        "doc_id",
        chunk_of("doc_id").alias("chunk"),
        F.explode(words_col("text")).alias("w"),
    )
    # n_docs folds into the token rollup as a distinct-aggregate (every
    # doc emits >= 1 token, split('') = ['']) — one scan instead of two;
    # the distinct expansion partial-aggregates map-side to ~n_docs rows.
    toks = words.groupBy("chunk").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.countDistinct("doc_id").alias("n_docs"),
    )
    firsts = words.groupBy(md5_i64(F.col("w")).alias("hw")).agg(
        F.min("doc_id").alias("first_doc")
    )
    fresh = firsts.groupBy(chunk_of("first_doc").alias("chunk")).agg(
        F.count(F.lit(1)).alias("new_words")
    )
    cur = (
        toks.join(fresh, "chunk", "left")
        .select(
            F.col("chunk").cast("long").alias("chunk"),
            "n_docs",
            "n_tokens",
            F.coalesce("new_words", F.lit(0)).alias("new_words"),
        )
    )
    w = W.orderBy("chunk").rowsBetween(W.unboundedPreceding, W.currentRow)
    return cur.select(
        "chunk",
        "n_docs",
        "n_tokens",
        "new_words",
        F.sum("n_tokens").over(w).cast("long").alias("cum_tokens"),
        F.sum("new_words").over(w).cast("long").alias("cum_vocab"),
    ).orderBy("chunk")


@query(
    "text_token_diversity",
    oracle="""
    WITH tok AS (
        SELECT lang, unnest(string_split(trim(text), ' ')) AS token
        FROM documents),
    tf AS (SELECT lang, token, count(*) AS n FROM tok GROUP BY 1, 2),
    s AS (SELECT lang, sum(n) AS nt, count(*) AS types,
                 sum(n::HUGEINT * (n - 1)) AS coll
          FROM tf GROUP BY 1)
    SELECT lang, CAST(nt AS BIGINT) AS n_tokens, CAST(types AS BIGINT)
               AS n_types,
           CAST((2 * 1000000 * types + nt) // (2 * nt) AS BIGINT) AS ttr_e6,
           CASE WHEN nt < 2 THEN NULL ELSE
               CAST((2 * 1000000 * coll + nt::HUGEINT * (nt - 1))
                    // (2 * nt::HUGEINT * (nt - 1)) AS BIGINT) END
               AS simpson_e6
    FROM s ORDER BY lang
    """,
)
def text_token_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lexical diversity per language: type-token ratio and Simpson's
    repeat-rate D = Σnᵢ(nᵢ−1)/(N(N−1)) — the probability two tokens drawn
    without replacement coincide. The pair (TTR falls with corpus size,
    Simpson is size-stable) is the standard corpus-health readout next
    to text_vocab_growth's Heaps fit: a language slice whose Simpson
    spikes is template/boilerplate-heavy even when its raw vocabulary
    looks fine — exactly the slices to down-weight before training.

    Both indices are exact rationals of the term-frequency census (the
    same whitespace tokenization every text op shares): one explode +
    one (lang, token)-keyed partial-merged count, then an O(types)
    per-lang fold of (N, |V|, Σn(n−1)) — all integers, with the Σn(n−1)
    and N(N−1) products in DECIMAL(38,0)/HUGEINT (they pass 10¹⁸ within
    one 10⁸-token language slice) and round-half-up e6 DIV readouts.
    Degenerate slices (N < 2) yield NULL on both engines. The heavy
    shuffle is the tf census; everything after is O(languages)."""
    tf = (
        load_parallel(spark, sf_dir, "documents")
        .select("lang", F.explode(F.split(F.trim("text"), " ")).alias("token"))
        .groupBy("lang", "token")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    s = tf.groupBy("lang").agg(
        F.sum("n").alias("nt"),
        F.count(F.lit(1)).alias("types"),
        F.sum(F.expr("CAST(n AS DECIMAL(38,0)) * (n - 1)")).alias("coll"),
    )
    return s.select(
        "lang",
        F.col("nt").cast("long").alias("n_tokens"),
        F.col("types").cast("long").alias("n_types"),
        F.expr("CAST((2 * 1000000 * types + nt) DIV (2 * nt) AS BIGINT)").alias(
            "ttr_e6"
        ),
        F.expr(
            """CASE WHEN nt < 2 THEN NULL ELSE
               CAST((2 * 1000000 * coll
                     + CAST(nt AS DECIMAL(38,0)) * (nt - 1))
                    DIV (2 * CAST(nt AS DECIMAL(38,0)) * (nt - 1)) AS BIGINT)
               END"""
        ).alias("simpson_e6"),
    ).orderBy("lang")


@query(
    "text_langid_confusion",
    oracle=f"""
    WITH p AS (
        SELECT lang AS labeled_lang, {_lang_case_sql()} AS detected_lang
        FROM documents),
    c AS (SELECT labeled_lang, detected_lang, count(*) AS n_docs
          FROM p GROUP BY 1, 2),
    r AS (SELECT labeled_lang, sum(n_docs) AS row_n FROM c GROUP BY 1)
    SELECT c.labeled_lang, c.detected_lang, CAST(c.n_docs AS BIGINT) AS n_docs,
           CAST((2000000 * c.n_docs + row_n) // (2 * row_n) AS BIGINT)
               AS row_share_e6
    FROM c JOIN r USING (labeled_lang)
    ORDER BY c.labeled_lang, c.detected_lang
    """,
)
def text_langid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Confusion matrix of the stopword language-ID heuristic against the
    corpus's declared lang labels — the EVALUATION every classifier in a
    data pipeline owes its users (text_lang_id emits predictions;
    this measures them): per (declared, detected) cell the doc count and
    its share of the declared row, so the diagonal is per-language
    recall and the off-diagonal cells name the confusions (and the
    'unknown' column the abstentions) — which decides whether lang-based
    corpus routing can be trusted before training on it.

    Shape: the per-doc prediction is the same map-side lexicon-hit
    arg-max the lang-ID op runs (one corpus scan), the matrix is one
    partial-merged count to O(langs²) cells, and row shares fold from
    the matrix — the corpus is never rescanned. Exact e6 DIV shares."""
    pred = text_lang_id(spark, sf_dir).select("labeled_lang", "detected_lang")
    c = (
        pred.groupBy("labeled_lang", "detected_lang")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .localCheckpoint(eager=True)  # O(langs²): matrix + row margins
    )
    r = c.groupBy("labeled_lang").agg(F.sum("n_docs").alias("row_n"))
    return (
        c.join(r, "labeled_lang")
        .select(
            "labeled_lang",
            "detected_lang",
            F.col("n_docs").cast("long").alias("n_docs"),
            F.expr(
                "CAST((2000000 * n_docs + row_n) DIV (2 * row_n) AS BIGINT)"
            ).alias("row_share_e6"),
        )
        .orderBy("labeled_lang", "detected_lang")
    )


@query(
    "text_url_canonicalize",
    oracle="""
    WITH canon AS (
        SELECT doc_id,
               'https://site' || (doc_id % 7) || '.example.com/Path/'
                   || (doc_id % 50) || '/page?a=' || (doc_id % 3)
                   || '&z=' || (doc_id % 5) AS canon_url
        FROM documents)
    SELECT canon_url, count(*) AS n_docs,
           CAST(min(doc_id) AS BIGINT) AS keeper_doc
    FROM canon GROUP BY canon_url ORDER BY canon_url
    """,
)
def text_url_canonicalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization — the normalization step EVERY web-corpus
    dedup runs before hashing (C4/CommonCrawl pipelines key on the
    canonical URL): lowercase scheme and host, strip a leading 'www.',
    strip the protocol-default port, drop the fragment, drop utm_*
    tracking parameters, and SORT the surviving query parameters. The
    raw URLs are synthesized per doc in four wire variants (±www,
    ±explicit :443, ±fragment, shuffled param order, mixed case) from a
    closed form, and the REAL canonicalizer — parse_url component
    extraction + filter + array_sort, all JVM expressions — must
    collapse every variant onto the single expected canonical string
    the oracle states directly: any missed rule (a surviving utm param,
    an unsorted query, a case-leaked host) yields a different string
    and a hash mismatch. Output is the canonical-key dedup census
    (n_docs per canonical URL, keep-lowest doc) — the actual join key
    a 100 TB web dedup shuffles on. Path case is PRESERVED (paths are
    case-sensitive per RFC 3986; only scheme/host fold)."""
    d = F.col("doc_id")
    raw = F.concat(
        F.lit("HTTPS://"),
        F.when(d % 3 == 0, F.lit("WWW.")).otherwise(F.lit("")),
        F.lit("Site"), (d % 7).cast("string"), F.lit(".EXAMPLE.COM"),
        F.when(d % 2 == 0, F.lit(":443")).otherwise(F.lit("")),
        F.lit("/Path/"), (d % 50).cast("string"), F.lit("/page"),
        F.lit("?utm_source=feed&z="), (d % 5).cast("string"),
        F.lit("&a="), (d % 3).cast("string"),
        F.when(d % 4 == 0, F.lit("#Sec")).otherwise(F.lit("")),
    )
    urls = load(spark, sf_dir, "documents").select("doc_id", raw.alias("url"))
    scheme = F.lower(F.parse_url("url", F.lit("PROTOCOL")))
    # parse_url HOST already excludes the port; fold case + strip www.
    host = F.regexp_replace(
        F.lower(F.parse_url("url", F.lit("HOST"))), r"^www\.", ""
    )
    # keep a NON-default explicit port (default 443/80 stripped)
    port = F.regexp_extract("url", r"^[A-Za-z]+://[^/?#]*?:(\d+)(?:[/?#]|$)", 1)
    keep_port = (
        (port != "")
        & ~((scheme == "https") & (port == "443"))
        & ~((scheme == "http") & (port == "80"))
    )
    path = F.parse_url("url", F.lit("PATH"))
    params = F.filter(
        F.split(F.parse_url("url", F.lit("QUERY")), "&"),
        lambda p: ~p.startswith("utm_"),
    )
    query_part = F.array_join(F.array_sort(params), "&")
    canon = F.concat(
        scheme,
        F.lit("://"),
        host,
        F.when(keep_port, F.concat(F.lit(":"), port)).otherwise(F.lit("")),
        path,
        F.when(query_part != "", F.concat(F.lit("?"), query_part)).otherwise(
            F.lit("")
        ),
    )
    return (
        urls.select("doc_id", canon.alias("canon_url"))
        .groupBy("canon_url")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.min("doc_id").alias("keeper_doc"))
        .orderBy("canon_url")
    )
