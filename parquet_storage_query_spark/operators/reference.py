"""The reference's seven query types (SURVEY.md §2.3, A1-A7), replayed on
the `events` table per the FIXTURES.md column mapping (ts ↔ Timestamp,
event_type ↔ Level, user_id ↔ Instance, event_id ↔ EventId).

Reference semantics: each query runs a per-blob partial in storage and a
client-side final merge (QueryOrchestration.cs:189-369). In Spark the same
two-phase shape is the built-in partial/final HashAggregateExec split —
each builder below is a single declarative plan and Catalyst emits exactly
the scatter-gather the reference hand-codes:

  per-blob SQL (QO:478-491)  ≙  partial agg in each file-split task
  Task.WhenAll + merge lambda (QO:493, 203-296)  ≙  shuffle + final agg

Scale notes: A1/A4 are answerable from parquet footer statistics alone
(spark.sql.parquet.aggregatePushdown=true — zero data read at any scale);
A2/A3 push their predicate to row-group stats; A5/A7 shuffle only
|distinct keys| rows after partial aggregation, so they stay cheap at
100 TB as long as key cardinality does.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load
from ..registry import query

# Filter constants replayed from the reference's query shapes
# (QueryOrchestration.cs:232 point filter, :315 level filter, :338 ts filter).
TS_CUTOFF = "2024-01-15 00:00:00"
LEVEL_VALUE = "error"  # plays 'Warning' (QO:315)
POINT_EVENT_ID = 123  # plays the EventId guid literal (QO:232)


@query(
    "ref_total_count",
    oracle="SELECT count(*) AS cnt FROM events",
)
def ref_total_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1 TotalCount (QO:348-369): per-blob COUNT(1) + client sum → count."""
    return load(spark, sf_dir, "events").agg(F.count(F.lit(1)).alias("cnt"))


@query(
    "ref_time_filter_count",
    oracle=f"SELECT count(*) AS cnt FROM events WHERE ts > TIMESTAMP '{TS_CUTOFF}'",
)
def ref_time_filter_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2 TimeFilterCount (QO:325-346): COUNT WHERE Timestamp > literal.

    The predicate reaches the parquet scan (row-group stats skipping), the
    Spark analogue of the reference pushing TO_TIMESTAMP(...) into storage.
    """
    df = load(spark, sf_dir, "events")
    return df.filter(F.col("ts") > F.to_timestamp(F.lit(TS_CUTOFF))).agg(
        F.count(F.lit(1)).alias("cnt")
    )


@query(
    "ref_filter_count",
    oracle=f"SELECT count(*) AS cnt FROM events WHERE event_type = '{LEVEL_VALUE}'",
)
def ref_filter_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3 FilterCount (QO:300-323): COUNT WHERE Level='Warning' — named
    column, no positional `_4` hack (QO:313-315)."""
    df = load(spark, sf_dir, "events")
    return df.filter(F.col("event_type") == LEVEL_VALUE).agg(F.count(F.lit(1)).alias("cnt"))


@query(
    "ref_min_max",
    oracle="SELECT min(ts) AS min_ts, max(ts) AS max_ts FROM events",
)
def ref_min_max(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4 MinMax (QO:276-298): min-of-mins / max-of-maxes, built-in."""
    return load(spark, sf_dir, "events").agg(
        F.min("ts").alias("min_ts"), F.max("ts").alias("max_ts")
    )


@query(
    "ref_max_by",
    oracle="SELECT event_type, max(ts) AS max_ts FROM events GROUP BY event_type",
)
def ref_max_by(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5 MaxBy (QO:242-274): per-blob GROUP BY + max, client re-group —
    Spark's partial/final grouped aggregate is the same plan."""
    return load(spark, sf_dir, "events").groupBy("event_type").agg(F.max("ts").alias("max_ts"))


@query(
    "ref_point_filter",
    oracle=f"SELECT * FROM events WHERE event_id = {POINT_EVENT_ID}",
)
def ref_point_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6 PointFilter (QO:219-240): SELECT * WHERE EventId = literal."""
    return load(spark, sf_dir, "events").filter(F.col("event_id") == POINT_EVENT_ID)


@query(
    "ref_distinct",
    oracle="SELECT DISTINCT user_id FROM events",
)
def ref_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A7 Distinct (QO:189-217): per-blob GROUP BY + client distinct-of-union.

    Spark plans this as partial distinct per task + exchange on the key —
    the reference's partial-count trick (QO:202) made automatic.
    """
    return load(spark, sf_dir, "events").select("user_id").distinct()


@query(
    "ref_per_file_counts",
    oracle="""
    SELECT regexp_extract(filename, '[^/]+$') AS file, count(*) AS cnt
    FROM read_parquet('{sf_dir}/events.parquet', filename=true)
    GROUP BY 1
    """,
)
def ref_per_file_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-blob partial visibility (QO:468 prints per-blob counts): group by
    source file. Hash-checked: DuckDB's `read_parquet(..., filename=true)`
    exposes the same provenance, and the oracle cuts the path down to its
    basename. Spark groups on the file source's `_metadata.file_name`,
    which is already the basename: a per-file constant, where a regexp
    over `input_file_name()` ran once per row."""
    return (
        load(spark, sf_dir, "events")
        .groupBy(F.col("_metadata.file_name").alias("file"))
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


@query(
    "ref_total_count_meta",
    oracle="SELECT count(*) AS cnt FROM events",
)
def ref_total_count_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1 TotalCount served from parquet METADATA (catalog.metadata_scan):
    the count folds from row-group footer statistics via the DSv2
    aggregate pushdown — zero data pages decoded, the plan carries
    `PushedAggregation: [COUNT(*)]`. Same oracle as ref_total_count; the
    reference's per-blob COUNT fan-out (QO:348-369) done at the footer
    layer. The 100 TB cost is one metadata read per file instead of a
    corpus scan."""
    from ..catalog import metadata_scan

    # SQL text: one py4j call instead of four, the same Aggregate plan
    return metadata_scan(spark, sf_dir, "events").selectExpr("count(1) AS cnt")
