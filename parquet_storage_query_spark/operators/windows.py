"""Window functions (SURVEY.md §2.5 — absent in reference; full surface).

The reference's MaxBy (QueryOrchestration.cs:242-274) is the degenerate
grouped arg-max; its windowed generalization (`row_number() over
(partition by k order by ts desc) = 1`) and the rest of the ranking /
analytic / frame surface live here.

Scale note: a window partitioned by a key shuffles once on that key and
sorts within partitions — same cost model as a grouped agg. The trap at
100 TB is a window with NO partitionBy (single-task global sort); none of
these use one except via top-k patterns that Catalyst turns into
per-partition filters. All orderings include a unique tie-break column so
results are deterministic and hash-comparable against the oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..catalog import load
from ..registry import query


@query(
    "window_topk_per_group",
    oracle="""
    SELECT event_type, event_id, ts, rn FROM (
        SELECT event_type, event_id, ts,
               row_number() OVER (PARTITION BY event_type ORDER BY ts DESC, event_id) AS rn
        FROM events
    ) WHERE rn <= 3
    """,
)
def window_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 latest events per type — the windowed generalization of the
    reference's MaxBy (QO:242-274). Catalyst plans a per-partition rank
    filter, not a global sort."""
    w = W.partitionBy("event_type").orderBy(F.col("ts").desc(), F.col("event_id"))
    return (
        load(spark, sf_dir, "events")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("event_type", "event_id", "ts", "rn")
    )


@query(
    "window_rank_dense_ntile",
    oracle="""
    SELECT c_mktsegment, c_custkey,
           round(c_acctbal, 2) AS c_acctbal,
           rank()       OVER w AS rnk,
           dense_rank() OVER w AS drnk,
           ntile(4)     OVER w AS quartile
    FROM customer
    WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal DESC, c_custkey)
    """,
)
def window_rank_dense_ntile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranking family: rank / dense_rank / ntile over one shuffle."""
    w = W.partitionBy("c_mktsegment").orderBy(F.col("c_acctbal").desc(), F.col("c_custkey"))
    return load(spark, sf_dir, "customer").select(
        "c_mktsegment",
        "c_custkey",
        F.round("c_acctbal", 2).alias("c_acctbal"),
        F.rank().over(w).alias("rnk"),
        F.dense_rank().over(w).alias("drnk"),
        F.ntile(4).over(w).alias("quartile"),
    )


@query(
    "window_lag_lead",
    oracle="""
    SELECT user_id, event_id, ts,
           lag(event_id)  OVER w AS prev_event,
           lead(event_id) OVER w AS next_event,
           round(value - lag(value) OVER w, 2) AS value_delta
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    """,
)
def window_lag_lead(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Analytic lag/lead: per-user event chains and deltas."""
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    df = load(spark, sf_dir, "events")
    return df.select(
        "user_id",
        "event_id",
        "ts",
        F.lag("event_id").over(w).alias("prev_event"),
        F.lead("event_id").over(w).alias("next_event"),
        F.round(F.col("value") - F.lag("value").over(w), 2).alias("value_delta"),
    )


@query(
    "window_running_agg",
    oracle="""
    SELECT user_id, event_id, ts,
           round(sum(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2)
               AS running_value,
           count(*) OVER (PARTITION BY user_id ORDER BY ts, event_id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS running_n
    FROM events
    """,
)
def window_running_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aggregate-over-window with an explicit ROWS frame (running totals)."""
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    df = load(spark, sf_dir, "events")
    return df.select(
        "user_id",
        "event_id",
        "ts",
        F.round(F.sum("value").over(w), 2).alias("running_value"),
        F.count(F.lit(1)).over(w).alias("running_n"),
    )


@query(
    "window_first_last",
    oracle="""
    SELECT DISTINCT user_id,
           first_value(event_type) OVER w AS first_type,
           last_value(event_type)  OVER w AS last_type
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
    """,
)
def window_first_last(spark: SparkSession, sf_dir: str) -> DataFrame:
    """first/last value over a whole-partition frame, deduped per user."""
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    )
    df = load(spark, sf_dir, "events")
    return df.select(
        "user_id",
        F.first("event_type").over(w).alias("first_type"),
        F.last("event_type").over(w).alias("last_type"),
    ).distinct()


@query(
    "window_sessionize",
    oracle="""
    WITH gaps AS (
        SELECT user_id, event_id, ts,
               CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                         >= INTERVAL 30 MINUTE
                    OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                    THEN 1 ELSE 0 END AS new_session
        FROM events
    ),
    sessions AS (
        SELECT user_id, event_id, ts,
               sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS session_id
        FROM gaps
    )
    SELECT user_id, CAST(session_id AS BIGINT) AS session_id, count(*) AS n_events,
           min(ts) AS session_start, max(ts) AS session_end
    FROM sessions GROUP BY user_id, session_id
    """,
)
def window_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch sessionization: a lag-gap of 30 min OR MORE starts a new
    session (>=, matching Spark's native session_window, which closes a
    session at exactly start+gap — ADVICE r5: the old strict > split at
    a measure-zero boundary the parity test would trip on), running sum
    assigns ids, then per-session rollup. One shuffle on user_id total —
    the window and the final groupBy reuse the same partitioning."""
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    run = w.rowsBetween(W.unboundedPreceding, W.currentRow)
    df = load(spark, sf_dir, "events")
    # microsecond-exact gap: casting ts to long floors to whole seconds,
    # which misses gaps in (1800s, 1801s) that the oracle's exact INTERVAL
    # comparison catches
    gap = F.unix_micros(F.col("ts")) - F.unix_micros(F.lag(F.col("ts")).over(w))
    return (
        df.withColumn(
            "new_session",
            F.when(gap.isNull() | (gap >= 30 * 60 * 1_000_000), F.lit(1)).otherwise(F.lit(0)),
        )
        .withColumn("session_id", F.sum("new_session").over(run))
        .groupBy("user_id", "session_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
        )
    )


@query(
    "window_percent_rank",
    oracle="""
    SELECT o_orderkey, o_orderstatus,
           round(percent_rank() OVER w, 6) AS pct_rank,
           round(cume_dist() OVER w, 6)    AS cume
    FROM orders
    WINDOW w AS (PARTITION BY o_orderstatus ORDER BY o_totalprice, o_orderkey)
    """,
)
def window_percent_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Relative-standing analytics (percent_rank / cume_dist) per status —
    one shuffle on the partition key, one ordered pass; the ordering is
    tie-broken on the key so both engines rank identically."""
    w = W.partitionBy("o_orderstatus").orderBy("o_totalprice", "o_orderkey")
    return load(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderstatus",
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 6).alias("cume"),
    )


# ---------------------------------------------------------------------------
# Distributed global ordering (§2.5 scale pattern)
# ---------------------------------------------------------------------------

_PREFIX_BUCKETS = 32


@query(
    "window_global_prefix",
    oracle="""
    SELECT c_custkey,
           row_number() OVER (ORDER BY c_custkey) AS rn,
           CAST(sum(CAST(round(c_acctbal * 100) AS BIGINT))
                OVER (ORDER BY c_custkey ROWS UNBOUNDED PRECEDING)
                AS BIGINT) AS running_cents
    FROM customer
    """,
)
def window_global_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GLOBAL row numbering + running total WITHOUT a single-partition
    window — the two-phase distributed prefix-sum. `row_number() OVER
    (ORDER BY k)` with no PARTITION BY is the one window shape that
    cannot scale: Spark plans Exchange SinglePartition and one task sorts
    the world. The scale-correct decomposition: (1) split the key space
    into B ordered buckets by pure arithmetic on the key (deterministic —
    unlike repartitionByRange, whose sampled boundaries shift with input
    splits); (2) run the window per bucket (B-way parallel, one keyed
    shuffle); (3) fold each bucket's (count, sum) into exclusive offsets
    — B rows on the driver, corpus-independent — and add them back with a
    B-row bounded join. Phase 3's state is O(B), so the same plan runs on
    a 1000-executor cluster numbering 10¹² rows.

    The key-bound scalar comes from a 1-row aggregate here; a lakehouse
    table serves it from footer stats (profile_minmax_meta) for free.
    Integer cents keep the running sum exact under any bucketing."""
    from ..cache import session_frame

    def _base() -> DataFrame:
        return (
            load(spark, sf_dir, "customer")
            .select(
                "c_custkey",
                F.round(F.col("c_acctbal") * 100).cast("long").alias("cents"),
            )
        )

    # one corpus scan feeds all 3 jobs
    base = session_frame(spark, sf_dir, "prefix_base_customer", _base)
    max_key = base.agg(F.max("c_custkey")).collect()[0][0]
    span = max(1, -(-int(max_key) // _PREFIX_BUCKETS))  # ceil
    bucketed = base.withColumn(
        "bucket", ((F.col("c_custkey") - 1) / span).cast("long")
    )
    w = W.partitionBy("bucket").orderBy("c_custkey")
    local = bucketed.select(
        "c_custkey",
        "bucket",
        F.row_number().over(w).cast("long").alias("rn_local"),
        F.sum("cents").over(w.rowsBetween(W.unboundedPreceding, W.currentRow)).alias("cum_local"),
    )
    totals = sorted(
        bucketed.groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("cents").alias("s"))
        .collect(),
        key=lambda r: r["bucket"],
    )  # ≤ B rows — fixed driver state
    off_n, off_s, offsets = 0, 0, []
    for r in totals:
        offsets.append((int(r["bucket"]), off_n, off_s))
        off_n += int(r["n"])
        off_s += int(r["s"])
    off_df = spark.createDataFrame(offsets, "bucket long, off_n long, off_s long")
    return (
        local.join(F.broadcast(off_df), "bucket")  # B rows: bounded by construction
        .select(
            "c_custkey",
            (F.col("rn_local") + F.col("off_n")).alias("rn"),
            (F.col("cum_local") + F.col("off_s")).alias("running_cents"),
        )
    )
