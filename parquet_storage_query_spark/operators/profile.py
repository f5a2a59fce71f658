"""Dataset profiling operators: the "look at your data before training on
it" sweep — numeric column statistics (moments, correlation), categorical
frequency tables, and null/empty/degenerate-value rates.

All single-pass partial-merge aggregates (the reference's per-blob partial
shape, QueryOrchestration.cs:258-265, generalized): each profile is one
scan, one shuffle of O(groups) partials, regardless of corpus size.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..catalog import load
from ..registry import query


@query(
    "profile_numeric_stats",
    oracle="""
    SELECT count(*)                                        AS n,
           round(avg(l_quantity), 4)                       AS qty_mean,
           round(stddev_samp(l_quantity), 4)               AS qty_std,
           round(min(l_quantity), 2)                       AS qty_min,
           round(max(l_quantity), 2)                       AS qty_max,
           round(avg(l_extendedprice), 4)                  AS price_mean,
           round(stddev_samp(l_extendedprice), 4)          AS price_std,
           round(corr(l_quantity, l_extendedprice), 4)     AS qty_price_corr,
           round(covar_pop(l_discount, l_tax), 6)          AS disc_tax_cov
    FROM lineitem
    """,
)
def profile_numeric_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Numeric column profile in ONE aggregate pass: moments, extremes,
    cross-column correlation/covariance. corr/covar compute distributively
    (co-moment partials merge like sums), so the 100 TB cost is the scan."""
    li = load(spark, sf_dir, "lineitem")
    return li.agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.avg("l_quantity"), 4).alias("qty_mean"),
        F.round(F.stddev_samp("l_quantity"), 4).alias("qty_std"),
        F.round(F.min("l_quantity"), 2).alias("qty_min"),
        F.round(F.max("l_quantity"), 2).alias("qty_max"),
        F.round(F.avg("l_extendedprice"), 4).alias("price_mean"),
        F.round(F.stddev_samp("l_extendedprice"), 4).alias("price_std"),
        F.round(F.corr("l_quantity", "l_extendedprice"), 4).alias("qty_price_corr"),
        F.round(F.covar_pop("l_discount", "l_tax"), 6).alias("disc_tax_cov"),
    )


@query(
    "profile_freq_values",
    oracle="""
    SELECT col, val, n, rk FROM (
        SELECT col, val, n,
               row_number() OVER (PARTITION BY col ORDER BY n DESC, val) AS rk
        FROM (
            SELECT 'lang' AS col, lang AS val, count(*) AS n FROM documents GROUP BY 2
            UNION ALL
            SELECT 'source' AS col, source AS val, count(*) AS n FROM documents GROUP BY 2
            UNION ALL
            SELECT 'event_type' AS col, event_type AS val, count(*) AS n
            FROM events GROUP BY 2))
    WHERE rk <= 3
    """,
)
def profile_freq_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 most frequent values per categorical column, across tables, in
    one result — the exact frequency sweep (freqItems' deterministic twin).
    Each arm is a partial-merged count; the rank window runs over O(distinct
    values), not rows."""
    docs = load(spark, sf_dir, "documents")
    ev = load(spark, sf_dir, "events")
    counts = (
        docs.groupBy(F.lit("lang").alias("col"), F.col("lang").alias("val"))
        .agg(F.count(F.lit(1)).alias("n"))
        .unionByName(
            docs.groupBy(F.lit("source").alias("col"), F.col("source").alias("val")).agg(
                F.count(F.lit(1)).alias("n")
            )
        )
        .unionByName(
            ev.groupBy(F.lit("event_type").alias("col"), F.col("event_type").alias("val")).agg(
                F.count(F.lit(1)).alias("n")
            )
        )
    )
    w = W.partitionBy("col").orderBy(F.col("n").desc(), "val")
    return (
        counts.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select("col", "val", "n", "rk")
    )


@query(
    "profile_data_quality",
    oracle="""
    SELECT count(*)                              AS n_rows,
           count(*) FILTER (props IS NULL)       AS null_props,
           count(*) FILTER (trim(props) = '')    AS empty_props,
           count(*) FILTER (value <= 0)          AS nonpos_values,
           count(DISTINCT user_id)               AS n_users,
           count(DISTINCT event_type)            AS n_types,
           CAST(floor(min(epoch(ts))) AS BIGINT) AS min_epoch_s,
           CAST(floor(max(epoch(ts))) AS BIGINT) AS max_epoch_s
    FROM events
    """,
)
def profile_data_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degenerate-value audit in one pass: nulls, empty payloads,
    non-positive measures, key cardinalities, time coverage — the
    go/no-go checklist a pipeline runs before admitting a new drop of
    data. Conditional counts fold into the same partial-merge aggregate."""
    ev = load(spark, sf_dir, "events")
    return ev.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count(F.when(F.col("props").isNull(), 1)).alias("null_props"),
        F.count(F.when(F.trim(F.col("props")) == "", 1)).alias("empty_props"),
        F.count(F.when(F.col("value") <= 0, 1)).alias("nonpos_values"),
        F.countDistinct("user_id").alias("n_users"),
        F.countDistinct("event_type").alias("n_types"),
        F.min(F.unix_timestamp("ts")).alias("min_epoch_s"),
        F.max(F.unix_timestamp("ts")).alias("max_epoch_s"),
    )


@query(
    "profile_column_entropy",
    oracle="""
    SELECT col,
           n_total,
           n_distinct,
           round(log2(n_total) - s_nlog2n / n_total, 4)  AS entropy_bits,
           round(CASE WHEN n_distinct = 1 THEN 0.0
                      ELSE (log2(n_total) - s_nlog2n / n_total) / log2(n_distinct)
                 END, 4)                                 AS norm_entropy,
           round(1.0 - s_n2 / (n_total * n_total), 4)    AS gini_impurity
    FROM (
        SELECT col,
               CAST(sum(n) AS DOUBLE)          AS n_total,
               count(*)                        AS n_distinct,
               sum(CAST(n AS DOUBLE) * log2(n)) AS s_nlog2n,
               sum(CAST(n AS DOUBLE) * n)       AS s_n2
        FROM (
            SELECT 'lang' AS col, lang AS val, count(*) AS n FROM documents GROUP BY 2
            UNION ALL
            SELECT 'source', source, count(*) FROM documents GROUP BY 2
            UNION ALL
            SELECT 'event_type', event_type, count(*) FROM events GROUP BY 2)
        GROUP BY col)
    """,
)
def profile_column_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Information profile of categorical columns: Shannon entropy (bits),
    entropy normalized by log2(cardinality), and Gini impurity — the
    skew/balance card behind mixture weighting and stratification choices
    (a source column with norm_entropy 0.2 is one domain pretending to be
    many). Entropy folds distributively from value counts via
    H = log2(N) − Σ n·log2(n)/N, so the whole profile is two partial-merge
    aggregates: one shuffle of O(distinct values) count partials, then one
    of O(columns) moment partials — corpus size only pays the scan.

    Known cross-engine class (same family the classifier eliminated for
    exp): log2 is libm, where JVM and DuckDB may differ by 1 ulp for the
    same input — a 4-decimal rounding flips only if the true value sits
    within ~1e-15 of a boundary, unstructured here (entropies are sums of
    transcendentals, unlike the classifier's 4-decimal-rational scores);
    green at every tested scale including 10×/30×."""
    docs = load(spark, sf_dir, "documents")
    ev = load(spark, sf_dir, "events")
    counts = (
        docs.groupBy(F.lit("lang").alias("col"), F.col("lang").alias("val"))
        .agg(F.count(F.lit(1)).alias("n"))
        .unionByName(
            docs.groupBy(F.lit("source").alias("col"), F.col("source").alias("val")).agg(
                F.count(F.lit(1)).alias("n")
            )
        )
        .unionByName(
            ev.groupBy(F.lit("event_type").alias("col"), F.col("event_type").alias("val")).agg(
                F.count(F.lit(1)).alias("n")
            )
        )
    )
    nd = F.col("n").cast("double")
    moments = counts.groupBy("col").agg(
        F.sum("n").cast("double").alias("n_total"),
        F.count(F.lit(1)).alias("n_distinct"),
        F.sum(nd * F.log2("n")).alias("s_nlog2n"),
        F.sum(nd * nd).alias("s_n2"),
    )
    h = F.log2("n_total") - F.col("s_nlog2n") / F.col("n_total")
    return moments.select(
        "col",
        "n_total",
        "n_distinct",
        F.round(h, 4).alias("entropy_bits"),
        F.round(
            F.when(F.col("n_distinct") == 1, F.lit(0.0)).otherwise(
                h / F.log2("n_distinct")
            ),
            4,
        ).alias("norm_entropy"),
        F.round(1.0 - F.col("s_n2") / (F.col("n_total") * F.col("n_total")), 4).alias(
            "gini_impurity"
        ),
    )


@query(
    "profile_mutual_information",
    oracle="""
    WITH joint AS (
        SELECT lang, source, count(*) AS n FROM documents GROUP BY 1, 2),
    mx AS (SELECT lang, sum(n) AS n FROM joint GROUP BY 1),
    my AS (SELECT source, sum(n) AS n FROM joint GROUP BY 1),
    mo AS (
        SELECT (SELECT CAST(sum(n) AS DOUBLE) FROM joint)            AS n_total,
               (SELECT sum(CAST(n AS DOUBLE) * log2(n)) FROM joint)  AS sxy,
               (SELECT sum(CAST(n AS DOUBLE) * log2(n)) FROM mx)     AS sx,
               (SELECT sum(CAST(n AS DOUBLE) * log2(n)) FROM my)     AS sy)
    SELECT CAST(n_total AS BIGINT)                          AS n_docs,
           round(log2(n_total) - sx / n_total, 4)           AS h_lang_bits,
           round(log2(n_total) - sy / n_total, 4)           AS h_source_bits,
           round(log2(n_total) - sxy / n_total, 4)          AS h_joint_bits,
           round((sxy - sx - sy) / n_total + log2(n_total), 4) AS mi_bits,
           round(CASE WHEN least(log2(n_total) - sx / n_total,
                                 log2(n_total) - sy / n_total) <= 0 THEN 0.0
                      ELSE ((sxy - sx - sy) / n_total + log2(n_total))
                           / least(log2(n_total) - sx / n_total,
                                   log2(n_total) - sy / n_total) END, 4)
                                                            AS norm_mi
    FROM mo
    """,
)
def profile_mutual_information(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual information between two categorical columns (lang ×
    source) in bits, plus both marginal entropies, the joint entropy,
    and MI normalized by min(H(X), H(Y)) — the information-theoretic
    twin of profile_chi2's frequency test: χ² asks IF the columns are
    dependent, MI says HOW MANY BITS one reveals about the other — the
    number a mixture designer needs to know whether balancing by source
    also balances by language.

    Scale shape: everything folds distributively from the (lang,
    source) contingency counts — marginals are groupBys OF the joint
    table, the corpus pays ONE scan and one O(|X|·|Y|) shuffle, and the
    final row is a broadcast join of three O(1) moment aggregates
    (MI = log2 N + (Σn_xy·lg n_xy − Σn_x·lg n_x − Σn_y·lg n_y)/N).
    Same documented libm-log2 1-ulp class as profile_column_entropy —
    unstructured transcendental sums, green at every tested scale."""
    docs = load(spark, sf_dir, "documents")
    joint = docs.groupBy("lang", "source").agg(F.count(F.lit(1)).alias("n"))
    joint = joint.localCheckpoint(eager=True)  # three consumers, one build
    nd = F.col("n").cast("double")
    nlg = F.sum(nd * F.log2("n"))

    def marg(col: str) -> DataFrame:
        m = joint.groupBy(col).agg(F.sum("n").alias("n"))
        return m.agg(nlg.alias(f"s{col[0]}"))

    mo = (
        joint.agg(F.sum("n").cast("double").alias("n_total"), nlg.alias("sxy"))
        .crossJoin(F.broadcast(marg("lang")))
        .crossJoin(F.broadcast(marg("source")))
    )
    lgn = F.log2("n_total")
    hx = lgn - F.col("sl") / F.col("n_total")
    hy = lgn - F.col("ss") / F.col("n_total")
    mi = (F.col("sxy") - F.col("sl") - F.col("ss")) / F.col("n_total") + lgn
    hmin = F.least(hx, hy)
    return mo.select(
        F.col("n_total").cast("bigint").alias("n_docs"),
        F.round(hx, 4).alias("h_lang_bits"),
        F.round(hy, 4).alias("h_source_bits"),
        F.round(lgn - F.col("sxy") / F.col("n_total"), 4).alias("h_joint_bits"),
        F.round(mi, 4).alias("mi_bits"),
        F.round(F.when(hmin <= 0, F.lit(0.0)).otherwise(mi / hmin), 4).alias("norm_mi"),
    )


N_HIST_BUCKETS = 10
HIST_LO, HIST_HI = 0.0, 1000.0  # events.value domain (clamped)


@query(
    "profile_histogram",
    oracle=f"""
    SELECT bucket,
           round({HIST_LO} + (bucket - 1) * ({HIST_HI} - {HIST_LO}) / {N_HIST_BUCKETS}, 2)
               AS bucket_lo,
           round({HIST_LO} + bucket * ({HIST_HI} - {HIST_LO}) / {N_HIST_BUCKETS}, 2)
               AS bucket_hi,
           count(*) AS n
    FROM (SELECT CASE WHEN value < {HIST_LO} THEN 0
                      WHEN value >= {HIST_HI} THEN {N_HIST_BUCKETS + 1}
                      ELSE CAST(floor((value - {HIST_LO})
                                      / (({HIST_HI} - {HIST_LO}) / {N_HIST_BUCKETS}))
                                AS BIGINT) + 1 END AS bucket
          FROM events)
    GROUP BY bucket
    """,
)
def profile_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-width histogram of a numeric column via `width_bucket` — the
    data-profiling primitive behind distribution cards and drift checks.
    One partial-merged aggregate over a map-side bucket expression
    (out-of-range values land in the 0 / n+1 overflow buckets, ANSI
    semantics); bucket bounds are recomputed arithmetically so the result
    is self-describing. The oracle replays width_bucket's arithmetic
    explicitly — this DuckDB build lacks the function itself."""
    b = F.width_bucket("value", F.lit(HIST_LO), F.lit(HIST_HI), F.lit(N_HIST_BUCKETS))
    span = (HIST_HI - HIST_LO) / N_HIST_BUCKETS
    return (
        load(spark, sf_dir, "events")
        .select(b.alias("bucket"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            "bucket",
            F.round(HIST_LO + (F.col("bucket") - 1) * span, 2).alias("bucket_lo"),
            F.round(HIST_LO + F.col("bucket") * span, 2).alias("bucket_hi"),
            "n",
        )
    )


# --- distribution drift (PSI) between corpus snapshots --------------------
# Population Stability Index per dimension: Σ (p₂−p₁)·ln(p₂/p₁) over the
# dimension's value buckets. The standard go/no-go drift gate before
# retraining (<0.1 stable, 0.1-0.25 moderate, >0.25 shifted). Snapshots
# reuse prep_snapshot_diff's deterministic versioning: v1 = the corpus
# without its latest additions (doc_id % 7 == 6), v2 = the full corpus.
PSI_EPS = 1e-6  # probability clamp so empty buckets don't produce ln(0)
PSI_BUCKETS = 6
PSI_CHARS_HI = 600.0

_PSI_DIM_SQL = f"""
        SELECT 'source' AS dim, source AS val, doc_id FROM documents
        UNION ALL
        SELECT 'lang', lang, doc_id FROM documents
        UNION ALL
        SELECT 'n_chars_bucket',
               CAST(CASE WHEN n_chars < 0 THEN 0
                         WHEN n_chars >= {PSI_CHARS_HI} THEN {PSI_BUCKETS + 1}
                         ELSE CAST(floor(n_chars / ({PSI_CHARS_HI} / {PSI_BUCKETS}))
                                   AS BIGINT) + 1 END AS VARCHAR),
               doc_id
        FROM documents
"""

_PSI_ORACLE = f"""
    WITH dims AS ({_PSI_DIM_SQL}),
    c AS (
        SELECT dim, val,
               count(*) FILTER (doc_id % 7 != 6) AS n1,
               count(*)                          AS n2
        FROM dims GROUP BY dim, val),
    p AS (
        SELECT dim, val,
               greatest(CAST(n1 AS DOUBLE) / sum(n1) OVER (PARTITION BY dim), {PSI_EPS})
                   AS p1,
               greatest(CAST(n2 AS DOUBLE) / sum(n2) OVER (PARTITION BY dim), {PSI_EPS})
                   AS p2
        FROM c)
    SELECT dim,
           count(*) AS n_values,
           round(sum((p2 - p1) * ln(p2 / p1)), 6) AS psi,
           CASE WHEN sum((p2 - p1) * ln(p2 / p1)) < 0.1 THEN 'stable'
                WHEN sum((p2 - p1) * ln(p2 / p1)) < 0.25 THEN 'moderate'
                ELSE 'shifted' END AS verdict
    FROM p GROUP BY dim
"""


@query("profile_drift_psi", oracle=_PSI_ORACLE)
def profile_drift_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot-over-snapshot distribution drift: PSI for each profiled
    dimension (source mix, language mix, length histogram) between the
    previous corpus version and the refreshed one — the drift gate a
    retraining pipeline runs right after prep_snapshot_diff tells it WHAT
    changed, to decide whether the change MOVES the data distribution.

    Shape: one scan builds all three dimensions' value counts for both
    snapshots simultaneously (conditional-count partials — v1 is a filter
    of v2, so there is no second scan); the per-dim probability window
    and the PSI fold run over O(distinct values) rows. The {PSI_EPS}
    clamp is the standard empty-bucket guard and keeps ln() away from
    zero on BOTH engines. ln is libm (JVM vs DuckDB can differ by 1 ulp
    for the same input — the unstructured-boundary class noted on
    profile_column_entropy; green at every tested scale)."""
    docs = load(spark, sf_dir, "documents")
    span = PSI_CHARS_HI / PSI_BUCKETS
    bucket = F.width_bucket("n_chars", F.lit(0.0), F.lit(PSI_CHARS_HI), F.lit(PSI_BUCKETS))
    # ONE corpus scan for all three dimensions: explode a per-row array of
    # (dim, val) structs instead of a 3-arm self-union (which re-scans the
    # parquet once per dimension — the plan-audit rescan smell).
    dims = docs.select(
        F.explode(
            F.array(
                F.struct(F.lit("source").alias("dim"), F.col("source").alias("val")),
                F.struct(F.lit("lang").alias("dim"), F.col("lang").alias("val")),
                F.struct(
                    F.lit("n_chars_bucket").alias("dim"),
                    bucket.cast("string").alias("val"),
                ),
            )
        ).alias("dv"),
        "doc_id",
    ).select(F.col("dv.dim").alias("dim"), F.col("dv.val").alias("val"), "doc_id")
    c = dims.groupBy("dim", "val").agg(
        F.count(F.when(F.col("doc_id") % 7 != 6, 1)).alias("n1"),
        F.count(F.lit(1)).alias("n2"),
    )
    wd = W.partitionBy("dim")
    p1 = F.greatest(F.col("n1").cast("double") / F.sum("n1").over(wd), F.lit(PSI_EPS))
    p2 = F.greatest(F.col("n2").cast("double") / F.sum("n2").over(wd), F.lit(PSI_EPS))
    terms = c.select("dim", ((p2 - p1) * F.log(p2 / p1)).alias("term"))
    psi = F.sum("term")
    return terms.groupBy("dim").agg(
        F.count(F.lit(1)).alias("n_values"),
        F.round(psi, 6).alias("psi"),
        F.when(psi < 0.1, F.lit("stable"))
        .when(psi < 0.25, F.lit("moderate"))
        .otherwise(F.lit("shifted"))
        .alias("verdict"),
    )


# --- k-anonymity audit ----------------------------------------------------
K_ANON = 5  # quasi-identifier groups smaller than this are re-identifiable

_KANON_ORACLE = f"""
    WITH g AS (
        SELECT lang, source, count(*) AS group_n
        FROM documents GROUP BY lang, source)
    SELECT count(*)                                    AS n_groups,
           count(*) FILTER (group_n < {K_ANON})        AS n_unsafe_groups,
           CAST(coalesce(sum(group_n) FILTER (group_n < {K_ANON}), 0) AS BIGINT)
               AS n_unsafe_docs,
           CAST(min(group_n) AS BIGINT)                AS min_group,
           round(CAST(coalesce(sum(group_n) FILTER (group_n < {K_ANON}), 0) AS DOUBLE)
                 / sum(group_n), 4)                    AS unsafe_frac
    FROM g
"""


@query("profile_k_anonymity", oracle=_KANON_ORACLE)
def profile_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit over the quasi-identifier tuple (lang, source):
    how many equivalence groups fall below k={K_ANON} members, and what
    fraction of documents sits in them — the privacy gate run alongside
    train_pii_redact before a corpus leaves quarantine (small groups are
    the re-identification risk; the fix is suppression or coarsening).
    Two partial-merge aggregates: value-tuple counts, then O(groups)
    moments — the per-blob-partial shape at any corpus size."""
    docs = load(spark, sf_dir, "documents")
    g = docs.groupBy("lang", "source").agg(F.count(F.lit(1)).alias("group_n"))
    unsafe = F.sum(F.when(F.col("group_n") < K_ANON, F.col("group_n")).otherwise(0))
    return g.agg(
        F.count(F.lit(1)).alias("n_groups"),
        F.count(F.when(F.col("group_n") < K_ANON, 1)).alias("n_unsafe_groups"),
        unsafe.cast("long").alias("n_unsafe_docs"),
        F.min("group_n").alias("min_group"),
        F.round(unsafe.cast("double") / F.sum("group_n"), 4).alias("unsafe_frac"),
    )


@query(
    "profile_correlation_matrix",
    oracle="""
    WITH c AS (
        SELECT corr(l_quantity, l_extendedprice) AS qty_price,
               corr(l_quantity, l_discount)      AS qty_disc,
               corr(l_quantity, l_tax)           AS qty_tax,
               corr(l_extendedprice, l_discount) AS price_disc,
               corr(l_extendedprice, l_tax)      AS price_tax,
               corr(l_discount, l_tax)           AS disc_tax
        FROM lineitem
    )
    SELECT 'l_quantity' AS col_x, 'l_extendedprice' AS col_y,
           round(qty_price, 4) AS pearson_r FROM c
    UNION ALL SELECT 'l_quantity', 'l_discount', round(qty_disc, 4) FROM c
    UNION ALL SELECT 'l_quantity', 'l_tax', round(qty_tax, 4) FROM c
    UNION ALL SELECT 'l_extendedprice', 'l_discount', round(price_disc, 4) FROM c
    UNION ALL SELECT 'l_extendedprice', 'l_tax', round(price_tax, 4) FROM c
    UNION ALL SELECT 'l_discount', 'l_tax', round(disc_tax, 4) FROM c
    ORDER BY col_x, col_y
    """,
)
def profile_correlation_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Pearson correlation across the fact table's numeric
    columns — the feature-redundancy screen a training pipeline runs
    before picking model inputs.

    All six pairs fold in ONE scan-aggregate pass (corr is a distributive
    moment aggregate: partial (n, Σx, Σy, Σxy, Σx², Σy²) per task, merged
    once), then a 6-row literal unpivot on the single result row — the
    oracle's UNION ALL over a CTE is the same shape. Never one scan per
    pair. Correlation is scale-invariant, so sample-vs-population
    denominators cancel and both engines compute the identical ratio;
    rounded at 4 like every cross-engine float."""
    li = load(spark, sf_dir, "lineitem")
    pairs = [
        ("l_quantity", "l_extendedprice"),
        ("l_quantity", "l_discount"),
        ("l_quantity", "l_tax"),
        ("l_extendedprice", "l_discount"),
        ("l_extendedprice", "l_tax"),
        ("l_discount", "l_tax"),
    ]
    wide = li.agg(
        *[F.round(F.corr(x, y), 4).alias(f"_r{i}") for i, (x, y) in enumerate(pairs)]
    )
    stack = ", ".join(
        f"'{x}', '{y}', _r{i}" for i, (x, y) in enumerate(pairs)
    )
    return (
        wide.selectExpr(
            f"stack({len(pairs)}, {stack}) AS (col_x, col_y, pearson_r)"
        )
        .orderBy("col_x", "col_y")
    )


@query(
    "profile_minmax_meta",
    oracle="""
    SELECT count(*) AS n_rows,
           min(l_quantity) AS min_qty, max(l_quantity) AS max_qty,
           min(l_extendedprice) AS min_price, max(l_extendedprice) AS max_price
    FROM lineitem
    """,
)
def profile_minmax_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Table extent stats answered from parquet FOOTERS: count + numeric
    min/max fold from row-group statistics via the DSv2 aggregate
    pushdown (catalog.metadata_scan) — the plan carries
    `PushedAggregation: [COUNT(*), MIN(...), MAX(...)]` and decodes zero
    data pages. This is the profiler's first pass at 100 TB: extent
    screening for free before any full-scan moment computation
    (profile_numeric_stats) is spent. Raw footer values, no rounding —
    exact on both engines by construction."""
    from ..catalog import metadata_scan

    return metadata_scan(spark, sf_dir, "lineitem").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.min("l_quantity").alias("min_qty"),
        F.max("l_quantity").alias("max_qty"),
        F.min("l_extendedprice").alias("min_price"),
        F.max("l_extendedprice").alias("max_price"),
    )


@query(
    "profile_benford",
    oracle="""
    WITH t AS (
        SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS cents FROM orders),
    d AS (
        SELECT CAST(substr(CAST(cents AS VARCHAR), 1, 1) AS BIGINT) AS digit,
               count(*) AS n
        FROM t GROUP BY 1)
    SELECT digit, n,
           (20000 * n + CAST(sum(n) OVER () AS BIGINT))
             // (2 * CAST(sum(n) OVER () AS BIGINT)) AS pct_e4
    FROM d
    """,
)
def profile_benford(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford first-digit audit over order totals: the distribution of
    leading significant digits, the classic fraud/synthetic-data screen
    (organic monetary amounts track log10(1+1/d); fabricated or
    truncated columns don't). Output is the 9-row digit census with a
    round-half-up e4 share — compare against the Benford expectation
    offline.

    Shape: ONE map-side digit extraction (first char of the integer-cent
    rendering — no float formatting anywhere) + a 9-group partial-merge
    count; the share window runs over 9 rows. Integer cells only."""
    t = load(spark, sf_dir, "orders").select(
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents")
    )
    d = t.select(
        F.substring(F.col("cents").cast("string"), 1, 1).cast("long").alias("digit")
    ).groupBy("digit").agg(F.count(F.lit(1)).alias("n"))
    return d.withColumn("total", F.sum("n").over(W.partitionBy())).select(
        "digit",
        "n",
        F.expr("(20000 * n + total) DIV (2 * total)").alias("pct_e4"),
    )


@query(
    "profile_outlier_mad",
    oracle="""
    WITH daily AS (SELECT event_type, date_trunc('day', ts) AS day,
                          count(*) AS n
                   FROM events GROUP BY 1, 2),
    med AS (SELECT event_type,
                   CAST(round(4 * quantile_cont(n, 0.5)) AS BIGINT) AS med4
            FROM daily GROUP BY 1),
    dev AS (SELECT d.event_type, d.day, d.n, m.med4,
                   abs(4 * d.n - m.med4) AS dev4
            FROM daily d JOIN med m USING (event_type)),
    mad AS (SELECT event_type,
                   CAST(round(2 * quantile_cont(dev4, 0.5)) AS BIGINT) AS mad8
            FROM dev GROUP BY 1)
    SELECT d.event_type, strftime(CAST(d.day AS DATE), '%Y-%m-%d') AS day,
           d.n, d.med4, m.mad8,
           CASE WHEN 2 * d.dev4 > 3 * m.mad8 THEN 'Y' ELSE 'N' END AS is_outlier
    FROM dev d JOIN mad m USING (event_type)
    """,
)
def profile_outlier_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROBUST outlier detection: median-absolute-deviation flags on the
    per-type daily volume series — the resistant counterpart of
    `events_anomaly_zscore` (a single spike inflates a z-score's own
    mean/stddev and can mask itself; the median/MAD pair is immune to
    <50% contamination, which is why monitoring systems prefer it).

    Exactness: medians of integers live on the half-integer lattice, so
    everything scales into integers before any comparison — med4 = 4 ×
    median(counts) (always integral: 4·(a+b)/2 = 2(a+b)), dev4 =
    |4n − med4|, mad8 = 2 × median(dev4); the flag |n − med| > 3·MAD
    becomes the pure-integer 2·dev4 > 3·mad8. Both engines interpolate
    percentiles identically on the tiny exactly-representable integers,
    and the output is all BIGINT/STRING (driver-proof policy). A
    constant series has MAD 0 → any deviation flags (the standard MAD
    caveat, documented).

    Shape: the series is the O(types × days) rollup, so the two median
    passes and the join run on report-sized data; only the first daily
    rollup touches the corpus (one partial-merge aggregate)."""
    ev = load(spark, sf_dir, "events")
    # the report-sized rollup feeds FOUR consumers (med, dev, mad, output)
    # and Catalyst replays the corpus scan for each — checkpoint once
    daily = (
        ev.groupBy("event_type", F.date_trunc("day", "ts").alias("day"))
        .agg(F.count(F.lit(1)).alias("n"))
        .localCheckpoint(eager=True)
    )
    med = daily.groupBy("event_type").agg(
        F.round(4 * F.percentile("n", F.lit(0.5))).cast("long").alias("med4")
    )
    dev = daily.join(med, "event_type").withColumn(
        "dev4", F.abs(4 * F.col("n") - F.col("med4"))
    )
    mad = dev.groupBy("event_type").agg(
        F.round(2 * F.percentile("dev4", F.lit(0.5))).cast("long").alias("mad8")
    )
    return dev.join(mad, "event_type").select(
        "event_type",
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        "n",
        "med4",
        "mad8",
        F.when(2 * F.col("dev4") > 3 * F.col("mad8"), F.lit("Y"))
        .otherwise(F.lit("N"))
        .alias("is_outlier"),
    )


# ---------------------------------------------------------------------------
# Declarative expectation suite (Deequ / Great-Expectations shape)
# ---------------------------------------------------------------------------

# One spec drives BOTH engines: each entry is (check_name, column,
# SQL condition valid in Spark SQL and DuckDB verbatim). The suite
# compiles to conditional counts inside ONE aggregate, so adding a
# constraint never adds a scan — the Deequ design point.
_EXPECTATIONS = [
    ("completeness", "o_custkey", "o_custkey IS NOT NULL"),
    ("in_set", "o_orderstatus", "o_orderstatus IN ('F', 'O', 'P')"),
    ("positive", "o_totalprice", "o_totalprice > 0"),
    (
        "pattern",
        "o_orderpriority",
        "substr(o_orderpriority, 1, 1) IN ('1','2','3','4','5')"
        " AND substr(o_orderpriority, 2, 1) = '-'",
    ),
    (
        "in_range",
        "o_orderdate",
        "o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'"
        " AND o_orderdate < TIMESTAMP '2002-01-01 00:00:00'",
    ),
]


def _expectations_oracle() -> str:
    conds = ",\n           ".join(
        f"count(*) FILTER ({cond}) AS c{i}" for i, (_, _, cond) in enumerate(_EXPECTATIONS)
    )
    arms = [
        f"SELECT '{name}' AS check_name, '{col}' AS col,\n"
        f"       (2 * 1000000 * c{i} + n) // (2 * n) AS metric_e6,\n"
        f"       CASE WHEN c{i} = n THEN 1 ELSE 0 END AS passed FROM m"
        for i, (name, col, _) in enumerate(_EXPECTATIONS)
    ]
    arms.append(
        "SELECT 'uniqueness', 'o_orderkey', (2 * 1000000 * uq + n) // (2 * n),"
        " CASE WHEN uq = n THEN 1 ELSE 0 END FROM m"
    )
    arms.append(
        "SELECT 'ref_integrity', 'o_custkey', (2 * 1000000 * ri_ok + n) // (2 * n),"
        " CASE WHEN ri_ok = n THEN 1 ELSE 0 END FROM m"
    )
    union = "\n        UNION ALL ".join(arms)
    return f"""
    WITH m AS (
        SELECT count(*) AS n,
           {conds},
           count(DISTINCT o_orderkey) AS uq,
           count(c_custkey) AS ri_ok
        FROM orders LEFT JOIN customer ON c_custkey = o_custkey
    )
    SELECT check_name, col, metric_e6, passed FROM (
        {union}
    ) ORDER BY check_name
    """


@query("profile_expectations", oracle=_expectations_oracle())
def profile_expectations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative data-quality expectation suite — the Deequ /
    Great-Expectations pattern (public designs; Schelter et al. VLDB'18
    describe the Spark-native original): a spec list of named constraints
    (completeness, set membership, value positivity, format pattern, date
    range, key uniqueness, referential integrity against customer)
    compiles into conditional counts inside ONE aggregate over a single
    orders∪customer left join — adding a constraint adds a projection
    expression, never a scan. That single-pass compilation is the whole
    reason Deequ exists instead of running one query per rule, and it is
    the same partial-merge shape as the reference's per-blob partials
    (QueryOrchestration.cs:258-265): every conditional count merges
    map-side at 100 TB.

    The SAME `_EXPECTATIONS` spec generates the DuckDB oracle, so the
    differential proves the compiled suite, not a transcription. Output
    is one row per constraint with the satisfaction ratio in integer e6
    (DIV-rounded — driver-proof BIGINT/STRING schema) and an EXACT pass
    bit (satisfied rows == rows, not a rounded ratio, so a single bad
    row fails the check even at 10^8 rows)."""
    orders = load(spark, sf_dir, "orders")
    cust = load(spark, sf_dir, "customer").select("c_custkey")
    joined = orders.join(cust, orders.o_custkey == cust.c_custkey, "left")
    aggs = [F.count(F.lit(1)).alias("n")]
    aggs += [
        F.count(F.when(F.expr(cond), 1)).alias(f"c{i}")
        for i, (_, _, cond) in enumerate(_EXPECTATIONS)
    ]
    aggs.append(F.countDistinct("o_orderkey").alias("uq"))
    aggs.append(F.count("c_custkey").alias("ri_ok"))
    m = joined.agg(*aggs)

    rows = [
        (name, col, f"c{i}") for i, (name, col, _) in enumerate(_EXPECTATIONS)
    ] + [("uniqueness", "o_orderkey", "uq"), ("ref_integrity", "o_custkey", "ri_ok")]
    stack_args = ", ".join(
        f"'{name}', '{col}', (2 * 1000000 * {c} + n) DIV (2 * n),"
        f" CASE WHEN {c} = n THEN 1L ELSE 0L END"
        for name, col, c in rows
    )
    return m.select(
        F.expr(
            f"stack({len(rows)}, {stack_args}) AS (check_name, col, metric_e6, passed)"
        )
    ).orderBy("check_name")


_GINI_BUCKETS = 32


@query(
    "profile_gini_concentration",
    oracle="""
    WITH rev AS (
        SELECT o_custkey,
               sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS cents
        FROM orders GROUP BY 1),
    r AS (SELECT cents,
                 row_number() OVER (ORDER BY cents, o_custkey) AS rn
          FROM rev),
    agg AS (SELECT count(*) AS n, sum(cents)::HUGEINT AS tot,
                   sum(rn::HUGEINT * cents) AS s1
            FROM r),
    tops AS (SELECT sum(CASE WHEN rn > n - (n + 99) // 100 THEN cents END)::HUGEINT AS t1,
                    sum(CASE WHEN rn > n - (n + 9) // 10 THEN cents END)::HUGEINT AS t10
             FROM r, agg)
    SELECT CAST(n AS BIGINT) AS n_customers,
           CAST(tot AS BIGINT) AS total_cents,
           CAST((2000000 * (2 * s1 - (n + 1) * tot) + n * tot)
                // (2 * n * tot) AS BIGINT) AS gini_e6,
           CAST((2000000 * t1 + tot) // (2 * tot) AS BIGINT) AS top1_share_e6,
           CAST((2000000 * t10 + tot) // (2 * tot) AS BIGINT) AS top10_share_e6
    FROM agg, tops
    """,
)
def profile_gini_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue concentration audit: exact Gini coefficient plus top-1% /
    top-10% revenue shares across customers — the whale-dependence
    numbers every marketplace health review and every training-data
    source-balance audit wants (swap customers for domains and cents for
    tokens and this is "how concentrated is my corpus").

    Gini needs a GLOBAL value-ordered rank (G = (2·Σ rank·y − (n+1)·Σy)
    / (n·Σy)), and a global ORDER BY window is the one shape that cannot
    scale (Exchange SinglePartition). This reuses window_global_prefix's
    two-phase decomposition, but bucketed by VALUE instead of key — the
    bucket id is pure arithmetic (cents DIV span, span from a 1-row max
    aggregate), which is ORDER-CONSISTENT: equal values land in one
    bucket, so (bucket, cents, custkey) is the same total order as
    (cents, custkey). Per-bucket ranks + B collected (count) offsets
    give exact global ranks with O(B) driver state; Σ rank·y folds in
    the same pass. All sums are integer cents lifted to DECIMAL(38,0)/
    HUGEINT for the e6 readouts (Σ rank·cents passes 10¹⁸ well before
    10⁹ customers — the documented headroom rule)."""
    from ..cache import session_frame

    def _rev() -> DataFrame:
        return (
            load(spark, sf_dir, "orders")
            .groupBy("o_custkey")
            .agg(
                F.sum(F.expr("CAST(round(o_totalprice * 100) AS BIGINT)")).alias(
                    "cents"
                )
            )
        )

    rev = session_frame(spark, sf_dir, "gini_revenue_view", _rev)
    max_cents = int(rev.agg(F.max("cents")).collect()[0][0])
    span = max(1, -(-(max_cents + 1) // _GINI_BUCKETS))
    bucketed = rev.withColumn("bucket", (F.col("cents") / span).cast("long"))
    w = W.partitionBy("bucket").orderBy("cents", "o_custkey")
    local = bucketed.select(
        "cents", "bucket", F.row_number().over(w).cast("long").alias("rn_local")
    )
    totals = sorted(
        bucketed.groupBy("bucket").agg(F.count(F.lit(1)).alias("n")).collect(),
        key=lambda r: r["bucket"],
    )
    off, offsets = 0, []
    for r in totals:
        offsets.append((int(r["bucket"]), off))
        off += int(r["n"])
    off_df = spark.createDataFrame(offsets, "bucket long, off_n long")
    ranked = local.join(F.broadcast(off_df), "bucket").select(
        "cents", (F.col("rn_local") + F.col("off_n")).alias("rn")
    )
    n = off  # exact row count, already folded on the driver (B partials)
    k1, k10 = (n + 99) // 100, (n + 9) // 10
    agg = ranked.agg(
        F.sum("cents").alias("tot"),
        F.sum(F.expr("CAST(rn AS DECIMAL(38,0)) * cents")).alias("s1"),
        F.sum(F.when(F.col("rn") > n - k1, F.col("cents"))).alias("t1"),
        F.sum(F.when(F.col("rn") > n - k10, F.col("cents"))).alias("t10"),
    )
    return agg.select(
        F.lit(n).cast("long").alias("n_customers"),
        F.col("tot").cast("long").alias("total_cents"),
        F.expr(
            f"CAST((2000000 * (2 * s1 - ({n} + 1) * CAST(tot AS DECIMAL(38,0)))"
            f" + {n} * CAST(tot AS DECIMAL(38,0)))"
            f" DIV (2 * {n} * CAST(tot AS DECIMAL(38,0))) AS BIGINT)"
        ).alias("gini_e6"),
        F.expr(
            "CAST((2000000 * CAST(t1 AS DECIMAL(38,0)) + tot) DIV (2 * CAST(tot AS DECIMAL(38,0))) AS BIGINT)"
        ).alias("top1_share_e6"),
        F.expr(
            "CAST((2000000 * CAST(t10 AS DECIMAL(38,0)) + tot) DIV (2 * CAST(tot AS DECIMAL(38,0))) AS BIGINT)"
        ).alias("top10_share_e6"),
    )


_KS_BUCKETS = 32


@query(
    "profile_ks_test",
    oracle="""
    WITH v AS (
        SELECT event_type, CAST(round(value * 100) AS BIGINT) AS cents
        FROM events WHERE event_type IN ('purchase', 'click')),
    census AS (
        SELECT cents,
               sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS c1,
               sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)    AS c2
        FROM v GROUP BY cents),
    n AS (SELECT sum(c1) AS n1, sum(c2) AS n2 FROM census),
    cum AS (
        SELECT cents,
               sum(c1) OVER (ORDER BY cents) AS c1c,
               sum(c2) OVER (ORDER BY cents) AS c2c
        FROM census),
    d AS (SELECT cents, abs(c1c * n2 - c2c * n1) AS dd FROM cum, n),
    mx AS (SELECT max(dd) AS d_max FROM d)
    SELECT CAST(n1 AS BIGINT) AS n1,
           CAST(n2 AS BIGINT) AS n2,
           CAST(d_max AS BIGINT) AS d_num,
           CAST(min(cents) AS BIGINT) AS at_cents,
           CAST((2000000 * d_max + n1 * n2) // (2 * n1 * n2) AS BIGINT) AS ks_e6
    FROM d, mx, n WHERE dd = d_max GROUP BY n1, n2, d_max
    """,
)
def profile_ks_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov–Smirnov statistic between the purchase and
    click value distributions — "did these two cohorts draw from the same
    distribution", the drift test that (unlike profile_drift_psi's binned
    divergence) is binning-free and sensitive to ANY distributional
    difference: D = sup_x |F̂₁(x) − F̂₂(x)|.

    Exact and distributed: the sup runs over the DISTINCT-cents census
    (one corpus scan, one partial-merged groupBy(cents) — the census is
    value-domain-bounded, corpus-independent), the two ECDFs are
    cumulative counts via window_global_prefix's two-phase decomposition
    (value-range buckets by pure arithmetic, per-bucket windows, ≤B
    collected offsets — no Exchange SinglePartition at any scale), and
    the ECDF difference cross-multiplies to the integer lattice:
    D·n₁·n₂ = max |c1c·n₂ − c2c·n₁|, all BIGINT, no division until the
    final round-half-up e6 readout. `at_cents` (the smallest value where
    the sup is attained, min-tiebroken) makes the statistic auditable.
    The critical-value comparison c(α)·√((n₁+n₂)/(n₁n₂)) stays with the
    caller — a sqrt has no place in a checked output."""
    from ..cache import session_frame

    def _census() -> DataFrame:
        return (
            load(spark, sf_dir, "events")
            .filter(F.col("event_type").isin("purchase", "click"))
            .select(
                "event_type",
                F.expr("CAST(round(value * 100) AS BIGINT)").alias("cents"),
            )
            .groupBy("cents")
            .agg(
                F.sum(
                    F.when(F.col("event_type") == "purchase", 1).otherwise(0)
                ).alias("c1"),
                F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0)).alias(
                    "c2"
                ),
            )
        )

    # domain-bounded: ≤ distinct cents rows
    census = session_frame(spark, sf_dir, "ks_census_purchase_click", _census)
    max_cents = int(census.agg(F.max("cents")).collect()[0][0])
    span = max(1, -(-(max_cents + 1) // _KS_BUCKETS))
    bucketed = census.withColumn("bucket", (F.col("cents") / span).cast("long"))
    w = (
        W.partitionBy("bucket")
        .orderBy("cents")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    local = bucketed.select(
        "cents",
        "bucket",
        F.sum("c1").over(w).alias("c1_local"),
        F.sum("c2").over(w).alias("c2_local"),
    )
    totals = sorted(
        bucketed.groupBy("bucket")
        .agg(F.sum("c1").alias("s1"), F.sum("c2").alias("s2"))
        .collect(),
        key=lambda r: r["bucket"],
    )  # ≤ B rows — fixed driver state
    o1, o2, offsets = 0, 0, []
    for r in totals:
        offsets.append((int(r["bucket"]), o1, o2))
        o1 += int(r["s1"])
        o2 += int(r["s2"])
    n1, n2 = o1, o2  # exact sample sizes, folded from B partials
    off_df = spark.createDataFrame(offsets, "bucket long, off1 long, off2 long")
    d = local.join(F.broadcast(off_df), "bucket").select(
        "cents",
        F.abs(
            (F.col("c1_local") + F.col("off1")) * F.lit(n2)
            - (F.col("c2_local") + F.col("off2")) * F.lit(n1)
        ).alias("dd"),
    )
    mx = d.agg(F.max("dd").alias("d_max"))
    return (
        d.crossJoin(mx)  # 1-row scalar broadcast
        .filter(F.col("dd") == F.col("d_max"))
        .groupBy("d_max")
        .agg(F.min("cents").alias("at_cents"))
        .select(
            F.lit(n1).cast("long").alias("n1"),
            F.lit(n2).cast("long").alias("n2"),
            F.col("d_max").cast("long").alias("d_num"),
            F.col("at_cents").cast("long").alias("at_cents"),
            F.expr(
                f"CAST((2000000 * d_max + {n1}L * {n2}L) "
                f"DIV (2 * {n1}L * {n2}L) AS BIGINT)"
            ).alias("ks_e6"),
        )
    )


@query(
    "profile_chi2",
    oracle="""
    WITH o AS (
        SELECT event_type,
               date_diff('day', DATE '2024-01-01', date_trunc('day', ts)) % 7
                   AS dow,
               count(*) AS obs
        FROM events GROUP BY 1, 2),
    r AS (SELECT event_type, sum(obs) AS rt FROM o GROUP BY 1),
    c AS (SELECT dow, sum(obs) AS ct FROM o GROUP BY 1),
    n AS (SELECT sum(obs) AS n FROM o)
    SELECT o.event_type, CAST(o.dow AS BIGINT) AS dow,
           CAST(o.obs AS BIGINT) AS observed,
           CAST((2 * 1000000 * rt * ct + n) // (2 * n) AS BIGINT)
               AS expected_e6,
           CAST((2 * 1000000 * (o.obs * n - rt * ct)::HUGEINT
                             * (o.obs * n - rt * ct)::HUGEINT
                 + n::HUGEINT * rt * ct)
                // (2 * n::HUGEINT * rt * ct) AS BIGINT) AS contrib_e6
    FROM o JOIN r USING (event_type) JOIN c USING (dow), n
    ORDER BY event_type, dow
    """,
)
def profile_chi2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-squared independence audit of event_type × weekday — "does
    behavior depend on the day of week", the categorical counterpart to
    profile_ks_test's continuous two-sample test and the standard check
    before trusting any per-weekday rollup. Output is the full
    contingency diagnosis: per cell, the observed count, the
    independence-expected count, and the cell's χ² contribution
    (O−E)²/E — the standardized residual table that says WHICH cells
    drive the dependence, not just that it exists. The total statistic
    is the sum of the contrib column (each cell rounds independently —
    summing after rounding keeps the total engine-exact by
    construction; the bias is ≤ cells·0.5e-6).

    All exact: weekday is day-index mod 7 from the fixed anchor (never
    the engines' dayofweek, whose week origin disagrees), expectations
    stay rational — E = R·C/N reads out as a round-half-up e6 DIV, and
    (O·N − R·C)²/(N·R·C) evaluates in DECIMAL(38,0)/HUGEINT (the
    squared numerator passes 10²³ at 30× — integer headroom, no float
    anywhere). Shape: ONE corpus scan into the O(types×7) contingency
    census; margins and total fold from the census, not the corpus."""
    from ..cache import session_frame

    def _census() -> DataFrame:
        return (
            load(spark, sf_dir, "events")
            .groupBy(
                "event_type",
                (
                    F.datediff(
                        F.date_trunc("day", "ts"), F.to_date(F.lit("2024-01-01"))
                    )
                    % 7
                ).alias("dow"),
            )
            .agg(F.count(F.lit(1)).alias("obs"))
        )

    # O(types×7) rows: one corpus scan
    o = session_frame(spark, sf_dir, "chi2_contingency_census", _census)
    r = o.groupBy("event_type").agg(F.sum("obs").alias("rt"))
    c = o.groupBy("dow").agg(F.sum("obs").alias("ct"))
    n = o.agg(F.sum("obs").alias("n"))
    return (
        o.join(r, "event_type")
        .join(c, "dow")
        .crossJoin(n)  # 1-row scalar broadcast over the bounded census
        .select(
            "event_type",
            F.col("dow").cast("long").alias("dow"),
            F.col("obs").cast("long").alias("observed"),
            F.expr(
                "CAST((2 * 1000000 * rt * ct + n) DIV (2 * n) AS BIGINT)"
            ).alias("expected_e6"),
            F.expr(
                """CAST((2 * 1000000
                         * CAST(obs * n - rt * ct AS DECIMAL(38,0))
                         * CAST(obs * n - rt * ct AS DECIMAL(38,0))
                         + CAST(n AS DECIMAL(38,0)) * rt * ct)
                        DIV (2 * CAST(n AS DECIMAL(38,0)) * rt * ct)
                        AS BIGINT)"""
            ).alias("contrib_e6"),
        )
        .orderBy("event_type", "dow")
    )


# Candidate functional dependencies to test, (determinant, dependent) over
# lineitem — a key-like pair, a plausible-but-false pair, and two
# direction-asymmetry pairs (A→B can hold while B→A fails).
_FD_PAIRS = (
    ("orders", "o_orderkey", "o_orderstatus"),   # PK determinant — holds
    ("orders", "o_orderkey", "o_totalprice"),    # PK determinant — holds
    ("orders", "o_custkey", "o_orderpriority"),  # plausible, violated
    ("lineitem", "l_orderkey", "l_returnflag"),
    ("lineitem", "l_partkey", "l_suppkey"),      # direction asymmetry pair
    ("lineitem", "l_suppkey", "l_partkey"),
)


def _fd_oracle() -> str:
    arms = []
    for tbl, det, dep in _FD_PAIRS:
        arms.append(f"""
        SELECT '{tbl}' AS table_name, '{det}' AS det_col, '{dep}' AS dep_col,
               count(*) AS n_groups,
               CAST(sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_violating,
               CASE WHEN sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END) = 0
                    THEN 'holds' ELSE 'violated' END AS verdict
        FROM (SELECT {det}, count(DISTINCT {dep}) AS nd
              FROM {tbl} GROUP BY {det})""")
    return (
        "SELECT * FROM ("
        + " UNION ALL ".join(arms)
        + ") ORDER BY table_name, det_col, dep_col"
    )


@query("profile_functional_deps", oracle=_fd_oracle())
def profile_functional_deps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Functional-dependency discovery over candidate column pairs —
    "does A determine B": the data-modeling audit behind normalization
    decisions, surrogate-key validation, and dimension extraction (a
    pair that HOLDS can be factored into its own table; a pair everyone
    assumes holds but is VIOLATED is a silent join-fanout bug). A→B
    holds iff no A-group contains two distinct B values, so the test is
    count(DISTINCT dep) per determinant group — and the census reports
    how MANY groups violate, not just a boolean, because "holds except
    12 groups" means dirty rows, not a wrong model.

    Shape: one narrow projection per table is checkpointed once; each
    candidate pair is one partial-merged (det, distinct-dep) aggregate
    over it (distinct counts per group = the same Expand shuffle
    agg_count_distinct pins), folded to a one-row verdict — O(pairs)
    rows out. The panel spans both verdicts and both directions: the
    orders PK pairs hold, (o_custkey→o_orderpriority) and the lineitem
    pairs are violated, and (l_partkey↔l_suppkey) shows the asymmetry
    test a real discovery sweep runs both ways."""
    bases = {}
    for tbl in sorted({t for t, _, _ in _FD_PAIRS}):
        cols = sorted({c for t, d1, d2 in _FD_PAIRS if t == tbl for c in (d1, d2)})
        bases[tbl] = (
            load(spark, sf_dir, tbl)
            .select(*cols)
            .localCheckpoint(eager=True)  # ONE scan feeds the table's pairs
        )
    parts = []
    for tbl, det, dep in _FD_PAIRS:
        g = bases[tbl].groupBy(det).agg(F.countDistinct(dep).alias("nd"))
        parts.append(
            g.agg(
                F.count(F.lit(1)).alias("n_groups"),
                F.sum(F.when(F.col("nd") > 1, 1).otherwise(0)).alias(
                    "n_violating"
                ),
            ).select(
                F.lit(tbl).alias("table_name"),
                F.lit(det).alias("det_col"),
                F.lit(dep).alias("dep_col"),
                F.col("n_groups").cast("long").alias("n_groups"),
                F.col("n_violating").cast("long").alias("n_violating"),
                F.expr(
                    "CASE WHEN n_violating = 0 THEN 'holds' ELSE 'violated' END"
                ).alias("verdict"),
            )
        )
    out = parts[0]
    for p_ in parts[1:]:
        out = out.unionByName(p_)
    return out.orderBy("table_name", "det_col", "dep_col")


# ---------------------------------------------------------------------------
# Classifier calibration audit (round 7): does the quality classifier's
# predicted probability MEAN anything — the reliability-curve check every
# model-gated curation pipeline owes its users before a threshold is set
# ---------------------------------------------------------------------------


def _calibration_oracle() -> str:
    from .text import _sql_hits, LEXICONS, cls_raw_score_sql

    return f"""
    WITH scored AS (
        SELECT doc_id,
               0.5 + 0.5 * s / (1.0 + abs(s)) AS p,
               (n_tok BETWEEN 20 AND 1000 AND stop_hits / n_tok < 0.5) AS label
        FROM (SELECT doc_id,
                     {cls_raw_score_sql('ws')} AS s,
                     CAST(len(ws) AS DOUBLE) AS n_tok,
                     CAST({_sql_hits(LEXICONS['en'])} AS DOUBLE) AS stop_hits
              FROM (SELECT doc_id, text, string_split(trim(text), ' ') AS ws
                    FROM documents)))
    SELECT CAST(least(floor(p * 10), 9) AS BIGINT) AS bucket,
           count(*) AS n_docs,
           CAST(sum(CASE WHEN label THEN 1 ELSE 0 END) AS BIGINT) AS n_pass,
           CAST((2 * 1000000 * sum(CASE WHEN label THEN 1 ELSE 0 END) + count(*))
                // (2 * count(*)) AS BIGINT) AS pass_rate_e6
    FROM scored GROUP BY bucket ORDER BY bucket
    """


@query("profile_calibration_curve", oracle=_calibration_oracle())
def profile_calibration_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability curve for the shared quality classifier
    (text.cls_raw_score): documents bucketed by predicted keep-probability
    decile, each bucket reporting how many actually pass the INDEPENDENT
    heuristic quality gate (text_quality_score's length-band + stopword
    rule). A calibrated classifier shows pass_rate rising with the bucket
    index; a flat curve means the score is noise and the curation
    threshold (CLS_KEEP_P) is arbitrary — the audit a model-gated
    pipeline runs before trusting any cut-off.

    Exactness: p is the rational sigmoid of an int64 lattice score (one
    division of identical int64s — bit-identical cross-engine, the
    documented policy); the decile floor and the label comparisons
    operate on those identical doubles; every OUTPUT cell is bigint
    (round-half-up e6 rate). Shape: one scan, map-side score + label,
    one 10-group aggregate — nothing key-wide shuffles at any corpus
    size."""
    from .text import LEXICONS, _hits, cls_raw_score, words_col

    docs = load(spark, sf_dir, "documents")
    w = words_col()
    n_tok = F.size(w).cast("double")
    stop_ratio = _hits(w, LEXICONS["en"]).cast("double") / n_tok
    s = cls_raw_score()
    p = F.lit(0.5) + F.lit(0.5) * s / (F.lit(1.0) + F.abs(s))
    label = F.size(w).between(20, 1000) & (stop_ratio < 0.5)
    scored = docs.select(
        F.least(F.floor(p * 10), F.lit(9)).cast("long").alias("bucket"),
        label.cast("int").alias("lab"),
    )
    return (
        scored.groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("lab").cast("long").alias("n_pass"),
            F.expr(
                "CAST((2 * 1000000 * sum(lab) + count(*)) DIV (2 * count(*)) AS BIGINT)"
            ).alias("pass_rate_e6"),
        )
        .orderBy("bucket")
    )


EMB_DIM = 64  # embeddings table dimension (fixed by TESTDATA.md)
EMB_Q = 10000  # fixed-point scale: q = floor(x * 1e4 + 0.5), exact int64


@query(
    "profile_embedding_covariance",
    oracle=f"""
    WITH q AS (
        SELECT vec_id, t.i AS i,
               CAST(floor(CAST(embedding[t.i + 1] AS DOUBLE) * {EMB_Q} + 0.5)
                    AS BIGINT) AS qv
        FROM embeddings, range({EMB_DIM}) AS t(i)),
    d AS (SELECT i, sum(qv) AS si FROM q GROUP BY i)
    SELECT a.i AS i, b.i AS j,
           CAST(sum(a.qv * b.qv) AS BIGINT) AS s,
           CAST(min(da.si) AS BIGINT) AS si,
           CAST(min(db.si) AS BIGINT) AS sj
    FROM q a
    JOIN q b ON a.vec_id = b.vec_id AND a.i <= b.i
    JOIN d da ON da.i = a.i
    JOIN d db ON db.i = b.i
    GROUP BY 1, 2
    """,
)
def profile_embedding_covariance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scatter/Gram matrix over the embedding corpus — THE reduction
    behind PCA, whitening, and OPQ-style rotations: S(i,j) = sum_v
    q_i(v)*q_j(v) plus per-dimension sums, from which covariance
    (S/n - mean meanT), correlation, and eigenvectors all follow
    driver-side (the 64x64 eigh is microscopic; it is the REDUCTION that
    needs the cluster). Values ride a fixed-point grid (q = floor(x*1e4
    + 0.5) computed in float64 on both engines) so every cell is an
    exact BIGINT — the cross-engine float-summation-order class
    (relational.py header) never enters.

    Scale shape: the kernel computes ONE integer Q^T Q per Arrow batch
    (mapInPandas) and emits 64x65/2 = 2080 upper-triangle partial rows
    per batch; the only shuffle moves those fixed-size partials to a
    (i,j) groupBy-sum — the classic map-side-combine decomposition, same
    as agg_* sketch partials. Corpus rows never shuffle. int64 headroom:
    |q| <= 1e4 so each product <= 1e8; overflow needs > 9e10 vectors per
    (i,j) cell — at that scale swap the partial dtype to DECIMAL(38,0),
    the documented seam.

    Cited parity: dimension-statistics profiling complements
    sim_kmeans_train / sim_power_iteration (which iterate on the same
    corpus) and gives SemDeDup-style pipelines their whitening step."""
    import numpy as np
    import pandas as pd

    from collections.abc import Iterator

    emb = load(spark, sf_dir, "embeddings").select("embedding")

    iu, ju = np.triu_indices(EMB_DIM)

    def partials(batches: "Iterator[pd.DataFrame]") -> "Iterator[pd.DataFrame]":
        for pdf in batches:
            if not len(pdf):
                continue
            x = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            if x.shape[1] != EMB_DIM:
                raise ValueError(f"embedding dim {x.shape[1]} != {EMB_DIM}")
            qm = np.floor(x * EMB_Q + 0.5).astype(np.int64)
            scatter = qm.T @ qm  # (64, 64) exact int64
            sums = qm.sum(axis=0)
            yield pd.DataFrame(
                {
                    "i": iu,
                    "j": ju,
                    "s": scatter[iu, ju],
                    "si": sums[iu],
                    "sj": sums[ju],
                }
            )

    return (
        emb.mapInPandas(partials, schema="i int, j int, s long, si long, sj long")
        .groupBy("i", "j")
        .agg(
            F.sum("s").alias("s"),
            F.sum("si").alias("si"),
            F.sum("sj").alias("sj"),
        )
    )


# ---------------------------------------------------------------------------
# Shuffle-key skew audit (round 11) — the diagnostic you run BEFORE
# choosing a salting factor for a 100 TB join/groupBy
# ---------------------------------------------------------------------------

SKEW_TOP_K = 5

_SKEW_ORACLE = f"""
    WITH counts AS (
        SELECT user_id, count(*) AS n FROM events GROUP BY user_id),
    summary AS (
        SELECT CAST(count(*) AS BIGINT) AS n_keys,
               CAST(sum(n) AS BIGINT) AS total_rows,
               CAST(max(n) AS BIGINT) AS max_rows
        FROM counts),
    top AS (
        SELECT user_id, n, rk FROM (
            SELECT user_id, CAST(n AS BIGINT) AS n,
                   row_number() OVER (ORDER BY n DESC, user_id) AS rk
            FROM counts) WHERE rk <= {SKEW_TOP_K})
    SELECT t.rk AS rank, t.user_id AS hot_key, t.n AS key_rows,
           s.n_keys, s.total_rows, s.max_rows,
           CAST((2 * 10000 * s.max_rows * s.n_keys + s.total_rows)
                // (2 * s.total_rows) AS BIGINT) AS skew_e4,
           CAST((s.max_rows * s.n_keys + s.total_rows - 1)
                // s.total_rows AS BIGINT) AS salt_buckets
    FROM top t CROSS JOIN summary s
    ORDER BY rank
"""


@query("profile_shuffle_skew", oracle=_SKEW_ORACLE)
def profile_shuffle_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shuffle-key SKEW AUDIT over the events join key (user_id): per-key
    row counts reduce to the hottest-{SKEW_TOP_K} keys plus the summary
    statistics a salting decision needs — max/avg skew ratio (e4 integer
    units) and the derived salt-bucket count ceil(max_rows / avg_rows),
    i.e. how many average-sized hash buckets the hottest key spans. That
    integer is exactly the fan-out join_skew_salted's manual path needs
    and what AQE's skew-join split discovers at runtime; auditing it
    AHEAD of the join is how a 100 TB pipeline picks between plain hash
    join, salting, and broadcast.

    Scale shape: one scan, one map-side-combined shuffle of O(keys)
    partials, materialized ONCE (localCheckpoint — the summary and the
    top-k both read it, so the events scan never repeats), then a
    TakeOrdered top-k (distributed heads, never a single-partition
    global window over all keys) + a 1-row summary broadcast back onto
    the 5 survivors (the bounded 1-row BNLJ the probe-broadcast queries
    also carry by design). All-integer outputs (the skew ratio uses the
    driver-proof (2*scale*x + n) DIV (2*n) rounding form)."""
    counts = (
        load(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .localCheckpoint(eager=True)
    )
    summary = counts.agg(
        F.count(F.lit(1)).cast("long").alias("n_keys"),
        F.sum("n").cast("long").alias("total_rows"),
        F.max("n").cast("long").alias("max_rows"),
    )
    # TakeOrderedAndProject: distributed per-partition heads, k rows to
    # the driver stage — the global row_number window would instead move
    # EVERY key count to one partition
    top5 = counts.orderBy(F.col("n").desc(), "user_id").limit(SKEW_TOP_K)
    w = W.orderBy(F.col("n").desc(), "user_id")  # over <= 5 rows
    top = top5.withColumn("rank", F.row_number().over(w)).select(
        "rank",
        F.col("user_id").alias("hot_key"),
        F.col("n").cast("long").alias("key_rows"),
    )
    return (
        top.join(F.broadcast(summary))
        .select(
            "rank",
            "hot_key",
            "key_rows",
            "n_keys",
            "total_rows",
            "max_rows",
            F.expr(
                "CAST((2 * 10000 * max_rows * n_keys + total_rows) "
                "DIV (2 * total_rows) AS BIGINT)"
            ).alias("skew_e4"),
            F.expr(
                "CAST((max_rows * n_keys + total_rows - 1) "
                "DIV total_rows AS BIGINT)"
            ).alias("salt_buckets"),
        )
        .orderBy("rank")
    )


@query(
    "profile_fk_coverage",
    oracle="""
    WITH rel AS (
        SELECT 'orders->customer' AS rel,
               (SELECT count(*) FROM orders) AS n_child,
               (SELECT count(*) FROM orders o
                WHERE NOT EXISTS (SELECT 1 FROM customer c
                                  WHERE c.c_custkey = o.o_custkey)) AS n_orphan,
               (SELECT count(*) FROM customer) AS n_parent,
               (SELECT count(*) FROM customer c
                WHERE NOT EXISTS (SELECT 1 FROM orders o
                                  WHERE o.o_custkey = c.c_custkey)) AS n_childless
        UNION ALL
        SELECT 'lineitem->orders',
               (SELECT count(*) FROM lineitem),
               (SELECT count(*) FROM lineitem l
                WHERE NOT EXISTS (SELECT 1 FROM orders o
                                  WHERE o.o_orderkey = l.l_orderkey)),
               (SELECT count(*) FROM orders),
               (SELECT count(*) FROM orders o
                WHERE NOT EXISTS (SELECT 1 FROM lineitem l
                                  WHERE l.l_orderkey = o.o_orderkey))
        UNION ALL
        SELECT 'events->customer(user)',
               (SELECT count(*) FROM events),
               (SELECT count(*) FROM events e
                WHERE NOT EXISTS (SELECT 1 FROM customer c
                                  WHERE c.c_custkey = e.user_id)),
               (SELECT count(*) FROM customer),
               (SELECT count(*) FROM customer c
                WHERE NOT EXISTS (SELECT 1 FROM events e
                                  WHERE e.user_id = c.c_custkey)))
    SELECT rel, CAST(n_child AS BIGINT) AS n_child,
           CAST(n_orphan AS BIGINT) AS n_orphan,
           CAST(n_parent AS BIGINT) AS n_parent,
           CAST(n_childless AS BIGINT) AS n_childless,
           CAST((2 * 10000 * (n_child - n_orphan) + n_child) // (2 * n_child)
                AS BIGINT) AS coverage_e4
    FROM rel ORDER BY rel
    """,
)
def profile_fk_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity audit — the first check a warehouse
    onboarding pipeline runs on a new drop: for each declared FK edge
    (orders→customer, lineitem→orders, events→customer-as-user), the
    orphan count (child rows whose key has no parent) and the childless
    count (parents never referenced), plus an e4 integer coverage ratio
    (the `(2·scale·x + n) DIV (2n)` display rule). profile_expectations
    asserts column-level predicates; this audits the RELATIONSHIP
    layer — the one that breaks silently when an upstream load drops a
    partition of the dimension.

    Scale shape: each edge needs only the DISTINCT key sets on both
    sides — the child table collapses map-side to its distinct FK
    values before any join, so the anti-join shuffles keys, never rows;
    orphan counts then weight each missing key by its row count. At
    100 TB that is |keys| traffic for a |rows| question. The plan's nine
    BroadcastNestedLoopJoins are by design: each is a cross join of
    1-row aggregates assembling an edge's summary row. Output is one
    row per edge, integer-only."""
    edges = [
        ("orders->customer", "orders", "o_custkey", "customer", "c_custkey"),
        ("lineitem->orders", "lineitem", "l_orderkey", "orders", "o_orderkey"),
        ("events->customer(user)", "events", "user_id", "customer", "c_custkey"),
    ]
    out = None
    for rel, child_t, fk, parent_t, pk in edges:
        # checkpoint the |keys|-sized tables once: each is read by three
        # downstream branches (totals, orphan anti-join, childless
        # anti-join), and without the checkpoint every branch re-scans
        # the |rows|-sized base table (plan_audit caught exactly that)
        child_keys = (
            load(spark, sf_dir, child_t)
            .groupBy(F.col(fk).alias("k"))
            .agg(F.count(F.lit(1)).alias("n_rows"))
            .localCheckpoint(eager=True)
        )
        parent_keys = (
            load(spark, sf_dir, parent_t)
            .select(F.col(pk).alias("k"))
            .distinct()
            .localCheckpoint(eager=True)
        )
        orphans = child_keys.join(parent_keys, "k", "left_anti")
        childless = parent_keys.join(child_keys.select("k"), "k", "left_anti")
        row = (
            child_keys.agg(F.sum("n_rows").alias("n_child"))
            .crossJoin(
                orphans.agg(
                    F.coalesce(F.sum("n_rows"), F.lit(0)).alias("n_orphan")
                )
            )
            .crossJoin(parent_keys.agg(F.count(F.lit(1)).alias("n_parent")))
            .crossJoin(childless.agg(F.count(F.lit(1)).alias("n_childless")))
            .select(
                F.lit(rel).alias("rel"),
                "n_child",
                "n_orphan",
                "n_parent",
                "n_childless",
                F.expr(
                    "CAST((2 * 10000 * (n_child - n_orphan) + n_child)"
                    " DIV (2 * n_child) AS BIGINT)"
                ).alias("coverage_e4"),
            )
        )
        out = row if out is None else out.unionByName(row)
    return out.orderBy("rel")


@query(
    "profile_join_cardinality",
    oracle="""
    WITH edges(rel) AS (VALUES ('orders->customer'), ('lineitem->orders'),
                               ('lineitem->part')),
    stats AS (
        SELECT 'orders->customer' AS rel,
               (SELECT count(*) FROM orders) AS n_left,
               (SELECT count(*) FROM customer) AS n_right,
               (SELECT count(DISTINCT o_custkey) FROM orders) AS d_left,
               (SELECT count(DISTINCT c_custkey) FROM customer) AS d_right,
               (SELECT count(*) FROM orders JOIN customer
                 ON o_custkey = c_custkey) AS actual
        UNION ALL
        SELECT 'lineitem->orders',
               (SELECT count(*) FROM lineitem), (SELECT count(*) FROM orders),
               (SELECT count(DISTINCT l_orderkey) FROM lineitem),
               (SELECT count(DISTINCT o_orderkey) FROM orders),
               (SELECT count(*) FROM lineitem JOIN orders
                 ON l_orderkey = o_orderkey)
        UNION ALL
        SELECT 'lineitem->part',
               (SELECT count(*) FROM lineitem), (SELECT count(*) FROM part),
               (SELECT count(DISTINCT l_partkey) FROM lineitem),
               (SELECT count(DISTINCT p_partkey) FROM part),
               (SELECT count(*) FROM lineitem JOIN part
                 ON l_partkey = p_partkey))
    SELECT rel, CAST(n_left AS BIGINT) AS n_left,
           CAST(n_right AS BIGINT) AS n_right,
           CAST(d_left AS BIGINT) AS d_left, CAST(d_right AS BIGINT) AS d_right,
           CAST(n_left * n_right // greatest(d_left, d_right) AS BIGINT)
               AS est_uniform,
           CAST(actual AS BIGINT) AS actual,
           CAST((2 * 10000 * (n_left * n_right // greatest(d_left, d_right))
                 + actual) // (2 * actual) AS BIGINT) AS est_over_actual_e4
    FROM stats ORDER BY rel
    """,
)
def profile_join_cardinality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JOIN-SIZE ESTIMATION AUDIT — the System-R uniform-frequency
    formula every cost-based planner starts from, |R ⋈ S| ≈
    |R|·|S| / max(d_R, d_S), computed from the same column statistics
    ANALYZE collects (row counts + key NDVs) and compared against the
    EXACT join cardinality, per declared FK edge. The e4 ratio column
    is the estimation-error diagnostic: ~10000 means the uniform
    assumption holds (FK joins on this schema), large deviations flag
    the skewed keys where a planner mis-chooses build sides — the
    measurement behind profile_shuffle_skew's salt recommendation and
    prep_analyze_stats' statistics.

    Scale shape: NDVs are one map-side-combined distinct per side, and
    the exact actual needs only per-key counts joined on the key —
    keys shuffle, never rows. All cells BIGINT; ratios use the
    (2·scale·x + n) DIV (2n) display rule. Reference analogue: none
    (profiling extension, SURVEY §2.12)."""
    edges = [
        ("orders->customer", "orders", "o_custkey", "customer", "c_custkey"),
        ("lineitem->orders", "lineitem", "l_orderkey", "orders", "o_orderkey"),
        ("lineitem->part", "lineitem", "l_partkey", "part", "p_partkey"),
    ]
    out = None
    for rel, lt, lk, rt, rk in edges:
        lc = (
            load(spark, sf_dir, lt)
            .groupBy(F.col(lk).alias("k"))
            .agg(F.count(F.lit(1)).alias("nl"))
        )
        rc = (
            load(spark, sf_dir, rt)
            .groupBy(F.col(rk).alias("k"))
            .agg(F.count(F.lit(1)).alias("nr"))
        )
        joined = lc.join(rc, "k").agg(
            F.coalesce(F.sum(F.col("nl") * F.col("nr")), F.lit(0)).alias("actual")
        )
        row = (
            lc.agg(
                F.sum("nl").alias("n_left"), F.count(F.lit(1)).alias("d_left")
            )
            .crossJoin(
                rc.agg(
                    F.sum("nr").alias("n_right"), F.count(F.lit(1)).alias("d_right")
                )
            )
            .crossJoin(joined)
            .select(
                F.lit(rel).alias("rel"),
                "n_left",
                "n_right",
                "d_left",
                "d_right",
                F.expr(
                    "CAST(n_left * n_right DIV greatest(d_left, d_right) AS BIGINT)"
                ).alias("est_uniform"),
                "actual",
                F.expr(
                    "CAST((2 * 10000 * (n_left * n_right DIV greatest(d_left,"
                    " d_right)) + actual) DIV (2 * actual) AS BIGINT)"
                ).alias("est_over_actual_e4"),
            )
        )
        out = row if out is None else out.unionByName(row)
    return out.orderBy("rel")
