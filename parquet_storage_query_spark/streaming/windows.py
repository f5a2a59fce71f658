"""Time-window operators (SURVEY.md §2.9 — streaming is absent in the
reference; this is the engine's Structured Streaming extension).

Each window shape is registered as a *batch* builder (same `F.window` /
`F.session_window` expressions, oracle-checkable against DuckDB) plus a
*streaming* runner over `readStream` used by tests to prove the identical
plan runs incrementally. That pairing is the Spark idiom: one logical
query, two execution modes.

Watermarking: state-dropping only takes effect in append/update output
modes — the complete-mode runners below retain all window state BY
DESIGN so they can be compared 1:1 against their batch twins (parity
tests). The production contract (closed windows emitted once, day-late
rows dropped, state bounded — what a 100 TB/day stream runs in append
mode) is exercised explicitly by tests/test_streaming.py::
test_watermark_drops_late_rows and by the append-mode stream-stream
join runner (joins.py). Local tests drive everything with the file
source + memory sink + processAllAvailable().
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.readwriter import DataStreamWriter

from ..catalog import ensure_checkpoint_manager, load, load_stream
from ..registry import query

# ---------------------------------------------------------------------------
# Batch-equivalent window aggregations (registered, oracle-checked)
# ---------------------------------------------------------------------------


@query(
    "stream_tumbling_counts",
    oracle="""
    SELECT time_bucket(INTERVAL '1 hour', ts)                   AS window_start,
           time_bucket(INTERVAL '1 hour', ts) + INTERVAL 1 HOUR AS window_end,
           event_type,
           count(*)             AS n,
           round(sum(value), 2) AS total_value
    FROM events GROUP BY 1, 2, 3
    """,
)
def stream_tumbling_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour windows × event_type: the streaming version of the
    reference's grouped counts (A5/A7 shapes) with a time dimension."""
    return (
        load(spark, sf_dir, "events")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 2).alias("total_value"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n",
            "total_value",
        )
    )


@query(
    "stream_sliding_counts",
    oracle="""
    SELECT time_bucket(INTERVAL '30 minutes', ts) - j * INTERVAL 30 MINUTE AS window_start,
           time_bucket(INTERVAL '30 minutes', ts) - j * INTERVAL 30 MINUTE
               + INTERVAL 1 HOUR                                           AS window_end,
           count(*) AS n
    FROM events CROSS JOIN (SELECT unnest([0, 1]) AS j)
    GROUP BY 1, 2
    """,
)
def stream_sliding_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding windows (1 h length, 30 min slide): each event lands in 2
    overlapping windows — Spark expands them natively in `F.window`."""
    return (
        load(spark, sf_dir, "events")
        .groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "n",
        )
    )


@query(
    "stream_tumbling_append",
    oracle="""
    WITH w AS (
        SELECT time_bucket(INTERVAL '1 hour', ts)                   AS window_start,
               time_bucket(INTERVAL '1 hour', ts) + INTERVAL 1 HOUR AS window_end,
               count(*) AS n
        FROM events GROUP BY 1, 2)
    SELECT window_start, window_end, n FROM w
    WHERE window_end <= (SELECT max(ts) - INTERVAL 10 MINUTE FROM events)
    """,
)
def stream_tumbling_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling counts in APPEND mode over a real incremental stream: each
    window is emitted exactly once, when the 10-minute watermark passes its
    end, and its state is dropped — the production contract for unbounded
    input (complete-mode runners above retain state by design for parity
    checks). The oracle is the closed-window set: every window whose end
    ≤ final watermark (global max ts − 10 min); the trailing open window
    must NOT appear. Spark's no-data micro-batch finalizes the last
    emission after the source drains, so the result is deterministic
    regardless of how maxFilesPerTrigger batches the files."""
    agg = (
        read_events_stream(spark, sf_dir)
        .withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "n",
        )
    )
    return _run_to_memory(agg, "stream_tumbling_append_out", "append")


@query(
    "stream_dedup",
    oracle="SELECT DISTINCT user_id, event_type FROM events",
)
def stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exact deduplication: dropDuplicates on a live stream emits
    the FIRST occurrence of each key and suppresses the rest — the
    streaming twin of dedup_exact_keep_first, and the ingest-time shape of
    a training-pipeline dedup (filter at arrival, not in a nightly batch).
    Unwatermarked state here is exact (state = one bit per distinct key,
    checkable against DISTINCT); the bounded-state production variant is
    dropDuplicatesWithinWatermark, which trades exactness past the
    watermark horizon for O(window) state."""
    flt = read_events_stream(spark, sf_dir).select("user_id", "event_type").dropDuplicates(
        ["user_id", "event_type"]
    )
    return _run_to_memory(flt, "stream_dedup_out", "append")


@query(
    "stream_dedup_watermarked",
    oracle="""
    SELECT DISTINCT user_id, event_type,
           date_trunc('hour', ts) AS hr
    FROM events
    """,
)
def stream_dedup_watermarked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BOUNDED-STATE streaming dedup — dropDuplicatesWithinWatermark,
    the production variant stream_dedup's docstring names (round 11
    closes it): state for a key is evicted once the watermark passes its
    event time + delay, so total state is O(keys per watermark horizon)
    instead of O(all distinct keys ever) — the difference between a
    dedup that survives a year of 100 TB ingest and one that OOMs.

    Exactness contract, and why the DISTINCT oracle is still valid: the
    dedup key includes the event's HOUR bucket, so two occurrences of a
    key are at most one hour apart in event time, while the watermark
    delay is TWO hours — a duplicate always arrives while its twin's
    state is still live (watermark = max_seen - 2h < first_seen + 2h =
    eviction time), hence no double emission, hence exact parity with
    DISTINCT (user, type, hour). Keys whose repeats can straddle an
    unbounded gap need the unwatermarked stream_dedup (exact, unbounded
    state) or accept re-emission past the horizon — that trade is the
    operator's documented semantic, not a defect."""
    flt = (
        read_events_stream(spark, sf_dir)
        .withWatermark("ts", "2 hours")
        .select(
            "user_id",
            "event_type",
            F.date_trunc("hour", "ts").alias("hr"),
            "ts",
        )
        .dropDuplicatesWithinWatermark(["user_id", "event_type", "hr"])
        .select("user_id", "event_type", "hr")
    )
    # dedup state grows with the watermark horizon's key count — size the
    # state partitions from the replayed backlog, not the core count
    from ..catalog import table_path

    return _run_to_memory(
        flt,
        "stream_dedup_wm_out",
        "append",
        partitions=_state_partitions(
            spark, backlog_bytes=_local_dir_bytes(table_path(sf_dir, "events"))
        ),
    )


@query(
    "stream_session_windows",
    oracle="""
    WITH gaps AS (
        SELECT user_id, ts, event_id,
               CASE WHEN lag(ts) OVER w IS NULL
                    OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE
                    THEN 1 ELSE 0 END AS new_session
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    numbered AS (
        -- cumulative sum ordered by the SAME (ts, event_id) key as the gap
        -- window: with ts alone, tied timestamps at a session boundary
        -- could be numbered into the previous session nondeterministically
        SELECT user_id, ts,
               sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS session_no
        FROM gaps
    )
    SELECT user_id,
           min(ts)                       AS session_start,
           max(ts) + INTERVAL 30 MINUTE  AS session_end,
           count(*)                      AS n_events
    FROM numbered GROUP BY user_id, session_no
    """,
)
def stream_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows (30-min inactivity gap) per user via the native
    `F.session_window` operator; oracle reconstructs the same merge with
    a lag-gap cumulative sum."""
    return (
        load(spark, sf_dir, "events")
        .groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
        )
    )


# ---------------------------------------------------------------------------
# Streaming runners (readStream → memory sink); tests assert batch parity
# ---------------------------------------------------------------------------


def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over the events parquet (S5/S6 streaming twin).
    maxFilesPerTrigger bounds each micro-batch like a real ingest."""
    return load_stream(spark, sf_dir, "events", max_files_per_trigger=1)


_STATE_PARTITION_LOCK = __import__("threading").Lock()


def _state_partitions(
    spark: SparkSession,
    *,
    keys: int | None = None,
    backlog_bytes: int | None = None,
) -> int:
    """Deliberate state-partition sizing for the stateful replay streams
    (guide §2.4: pick the partitioning, don't inherit it). A stateful
    streaming operator pins `spark.sql.shuffle.partitions` at query start
    and AQE never re-coalesces it, so the session default (= core count)
    is paid as one state-store commit+fsync PER PARTITION PER MICRO-BATCH
    regardless of how much state exists. Measured here (HDFS-backed store,
    sf0.1): summed commitTimeMs drops 10-16x going 32 -> 8 partitions with
    identical results — the cost is per-partition file churn, not state
    bytes.

    Sizing is data-derived, not core-count-derived, so it holds at any
    scale and under the driver's low-core leg:
    - `keys`: upper bound of the AGGREGATION KEY DOMAIN when the operator
      bounds it structurally (nation x status <= 75, languages: 5).
      One reduce slot per ~8 keys; map-side partial aggregation already
      bounds each task's exchange output at O(keys) rows, so extra
      reducers are pure commit overhead at ANY corpus size.
    - `backlog_bytes`: for state that grows with the corpus (CDC live
      keys, dedup horizons), one partition per ~32 MB of backlog with a
      floor of 8 (parallelism for small replays) and a cap of 4x the
      session parallelism (bounds scheduling; a real deployment raises
      the env override below instead). The cap wins over the floor, so
      the bound holds below 2 cores too.
    `SPARK_GRAFT_STREAM_STATE_PARTITIONS` overrides both for cluster
    deployments. The session default is read under the lock that
    `drain_stream` holds while a sized start has it transiently set."""
    env = os.environ.get("SPARK_GRAFT_STREAM_STATE_PARTITIONS")
    if env:
        return max(1, int(env))
    with _STATE_PARTITION_LOCK:
        default = int(spark.conf.get("spark.sql.shuffle.partitions"))
    if keys is not None:
        return max(1, min(default, -(-keys // 8)))
    if backlog_bytes is not None:
        return min(4 * default, max(8, -(-backlog_bytes // (32 << 20))))
    return default


def _local_dir_bytes(path: str) -> int:
    """Total bytes under a local file or directory (backlog size probe
    for _state_partitions; the replay sources are local paths)."""
    if os.path.isfile(path):
        return os.path.getsize(path)
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(root, f))
            except OSError:
                pass
    return total


def drain_stream(writer: DataStreamWriter, partitions: int | None = None) -> None:
    """Start a configured stream, process everything its sources hold, and
    stop it: the one way the engine runs a stream. The session the stream
    starts from checkpoints through Hadoop's FileSystem API unless it names
    its own checkpoint manager (`catalog.ensure_checkpoint_manager`).
    `partitions`, when given, is the stream's state-partition count."""
    # the writer keeps the session of the frame it was made from
    spark = writer._spark
    ensure_checkpoint_manager(spark)
    # streaming queries clone the session conf synchronously inside
    # start() (verified: numShufflePartitions in progress == the value
    # set here even after an immediate reset), so a set/start/reset
    # under a lock scopes the partition count to THIS query. Unsized
    # starts take the lock too, without touching the conf, so they never
    # clone another query's transient value. The lock only serializes
    # streaming starts in this module; a batch plan observing the
    # transient value would at worst get a different (AQE-coalesced
    # anyway) exchange width, never a different result.
    with _STATE_PARTITION_LOCK:
        if partitions is None:
            q = writer.start()
        else:
            prev = spark.conf.get("spark.sql.shuffle.partitions")
            spark.conf.set("spark.sql.shuffle.partitions", str(partitions))
            try:
                q = writer.start()
            finally:
                spark.conf.set("spark.sql.shuffle.partitions", prev)
    try:
        q.processAllAvailable()
    finally:
        q.stop()


def _run_to_memory(
    df: DataFrame, name: str, mode: str, partitions: int | None = None
) -> DataFrame:
    drain_stream(
        df.writeStream.outputMode(mode).format("memory").queryName(name), partitions
    )
    return df.sparkSession.table(name)


def streaming_tumbling_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1/A5-style counts over tumbling windows, executed incrementally
    with a 10-minute watermark."""
    agg = (
        read_events_stream(spark, sf_dir)
        .withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 2).alias("total_value"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n",
            "total_value",
        )
    )
    return _run_to_memory(agg, "stream_tumbling_out", "complete")


def streaming_total_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming A1 TotalCount: running global count via incremental agg."""
    agg = read_events_stream(spark, sf_dir).agg(F.count(F.lit(1)).alias("cnt"))
    return _run_to_memory(agg, "stream_total_out", "complete")


def streaming_min_max(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming A4 MinMax: incremental min-of-mins/max-of-maxes — each
    micro-batch folds into two scalars of state."""
    agg = read_events_stream(spark, sf_dir).agg(
        F.min("ts").alias("min_ts"), F.max("ts").alias("max_ts")
    )
    return _run_to_memory(agg, "stream_minmax_out", "complete")


def streaming_filter_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming A3 FilterCount: predicate applied per micro-batch before
    the incremental count (the filter is stateless; only the count is
    state)."""
    from ..operators.reference import LEVEL_VALUE

    agg = (
        read_events_stream(spark, sf_dir)
        .filter(F.col("event_type") == LEVEL_VALUE)
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    return _run_to_memory(agg, "stream_filter_count_out", "complete")


def _time_filter_count_oracle() -> str:
    from ..operators.reference import TS_CUTOFF

    return f"SELECT count(*) AS cnt FROM events WHERE ts > TIMESTAMP '{TS_CUTOFF}'"


@query("stream_time_filter_count", oracle=_time_filter_count_oracle())
def streaming_time_filter_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming A2 TimeFilterCount (QO:325-346 analogue): the timestamp
    range predicate is stateless and applied per micro-batch; only the
    running count is state — the same single-scalar state shape as A1.
    Registered with the batch oracle directly: after the source drains,
    the complete-mode final state equals the batch count, so the
    incremental execution itself is hash-checked."""
    from ..operators.reference import TS_CUTOFF

    agg = (
        read_events_stream(spark, sf_dir)
        .filter(F.col("ts") > F.to_timestamp(F.lit(TS_CUTOFF)))
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    return _run_to_memory(agg, "stream_time_filter_count_out", "complete")


def streaming_max_by(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming A5 MaxBy: grouped max as running state per key."""
    agg = (
        read_events_stream(spark, sf_dir)
        .groupBy("event_type")
        .agg(F.max("ts").alias("max_ts"))
    )
    return _run_to_memory(agg, "stream_max_by_out", "complete")


def streaming_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming A7 Distinct: distinct keys = groupBy(key) with count-free
    state; state is O(|distinct user_id|), the streaming analogue of the
    reference's union-of-partials distinct (QO:205-208)."""
    agg = read_events_stream(spark, sf_dir).groupBy("user_id").agg(
        F.count(F.lit(1)).alias("_n")
    )
    return _run_to_memory(agg, "stream_distinct_out", "complete").select("user_id")


def streaming_point_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming A6 PointFilter: stateless append-mode predicate — rows
    stream straight through, no state at all."""
    from ..operators.reference import POINT_EVENT_ID

    flt = read_events_stream(spark, sf_dir).filter(F.col("event_id") == POINT_EVENT_ID)
    return _run_to_memory(flt, "stream_point_filter_out", "append")


def streaming_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native session windows running incrementally with watermark state
    cleanup — the stateful-operator smoke path."""
    agg = (
        read_events_stream(spark, sf_dir)
        .withWatermark("ts", "10 minutes")
        .groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
        )
    )
    return _run_to_memory(agg, "stream_session_out", "complete")


@query(
    "stream_windowed_topk",
    oracle="""
    SELECT window_start, event_type, n, rk FROM (
        SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start,
               event_type, count(*) AS n,
               row_number() OVER (PARTITION BY time_bucket(INTERVAL '1 hour', ts)
                                  ORDER BY count(*) DESC, event_type) AS rk
        FROM events GROUP BY 1, 2
    ) WHERE rk <= 3
    """,
)
def stream_windowed_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-window top-k keys (the "trending items" query): hourly counts
    per event_type, ranked inside each window, top-3 kept. Batch twin of
    the foreachBatch streaming runner below — ranking is not allowed
    directly on a streaming aggregate, so the incremental form applies the
    window rank per micro-batch emission (the standard pattern).

    Scale shape: the count aggregate partial-merges map-side; the rank
    window partitions by window_start (thousands of partitions per day,
    each holding |key-cardinality| rows — never the raw stream)."""
    counts = (
        load(spark, sf_dir, "events")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n")
    )
    from pyspark.sql import Window as W

    rk = F.row_number().over(
        W.partitionBy("window_start").orderBy(F.col("n").desc(), "event_type")
    )
    return counts.withColumn("rk", rk).filter(F.col("rk") <= 3)


def streaming_windowed_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The same trending-items query on a LIVE stream via foreachBatch:
    Spark forbids rank windows on a streaming aggregate (the rank of a
    still-open window could regress), so each micro-batch snapshot of the
    complete-mode counts is ranked as a BATCH inside foreachBatch and
    overwrites the serving table — exactly how dashboards consume it."""
    import threading

    results: dict[str, list] = {}
    lock = threading.Lock()

    counts = (
        read_events_stream(spark, sf_dir)
        .withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n")
    )

    from pyspark.sql import Window as W

    def rank_batch(batch_df: DataFrame, _batch_id: int) -> None:
        rk = F.row_number().over(
            W.partitionBy("window_start").orderBy(F.col("n").desc(), "event_type")
        )
        ranked = batch_df.withColumn("rk", rk).filter(F.col("rk") <= 3).collect()
        with lock:
            results["latest"] = ranked

    drain_stream(counts.writeStream.outputMode("complete").foreachBatch(rank_batch))
    rows = results.get("latest", [])
    return spark.createDataFrame(rows, "window_start timestamp, event_type string, n bigint, rk int")


# ---------------------------------------------------------------------------
# Streaming sketch maintenance: the CMS frequency matrix as live state
# ---------------------------------------------------------------------------


def _cms_cells(df: DataFrame) -> DataFrame:
    """(r, c, n) CMS cell counts for a (streaming or batch) events frame —
    the shared plan both execution modes run (the §2.9 pairing idiom)."""
    from ..operators.advanced import CMS_D, _cms_col

    rows = F.explode(
        F.array(
            *[
                F.struct(F.lit(r).alias("r"), _cms_col(r, F.col("user_id")).alias("c"))
                for r in range(CMS_D)
            ]
        )
    ).alias("rc")
    return (
        df.select(rows)
        .select("rc.r", "rc.c")
        .groupBy("r", "c")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def _cms_cells_oracle() -> str:
    from ..operators.advanced import CMS_D, _CMS_COL_SQL

    return f"""
    SELECT t.r AS r, {_CMS_COL_SQL.format(r='t.r')} AS c, count(*) AS n
    FROM events, range({CMS_D}) t(r)
    GROUP BY 1, 2
    """


@query("stream_countmin_cells", oracle=_cms_cells_oracle())
def stream_countmin_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of the live CMS maintenance: the full cell matrix the
    stream converges to (oracle-checked; agg_countmin_heavy_hitters is the
    point-query consumer of the same matrix)."""
    return _cms_cells(load(spark, sf_dir, "events"))


def streaming_countmin_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CMS under CONTINUOUS ingest: each micro-batch's keys fold into the
    fixed {CMS_D}×{CMS_W} counter state incrementally — counts are
    associative, so streaming state = the batch matrix exactly (parity
    test pins it). This is how a production pipeline keeps live frequency
    estimates (trending keys, hot-shard detection) without any rescan: the
    sketch IS the state, bytes-bounded no matter how long the stream runs.
    Complete mode here for the 1:1 batch comparison; a deployment emits
    update-mode deltas to a compacted topic/table."""
    return _run_to_memory(
        _cms_cells(read_events_stream(spark, sf_dir)), "stream_cms_out", "complete"
    )


def streaming_anomaly_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The volume-anomaly monitor LIVE: streaming hourly counts fold
    incrementally (complete mode), and each micro-batch snapshot is
    z-scored inside foreachBatch with the SAME trailing-window plan the
    batch operator uses (rank-style windows are forbidden on a streaming
    aggregate — the batch-snapshot scoring is the production monitor
    shape). The parity test pins live == batch after the stream drains."""
    import threading

    from ..operators.events import score_hourly_counts

    results: dict[str, list] = {}
    lock = threading.Lock()

    hourly = (
        read_events_stream(spark, sf_dir)
        .withWatermark("ts", "10 minutes")
        .groupBy("event_type", F.date_trunc("hour", "ts").alias("hour_start"))
        .agg(F.count(F.lit(1)).alias("n"))
    )

    def score_batch(batch_df: DataFrame, _batch_id: int) -> None:
        rows = score_hourly_counts(batch_df).collect()
        with lock:
            results["latest"] = rows

    drain_stream(hourly.writeStream.outputMode("complete").foreachBatch(score_batch))
    return spark.createDataFrame(
        results.get("latest", []),
        "event_type string, hour_start timestamp, n bigint, "
        "base_mean double, zscore double, is_anomaly boolean",
    )


def streaming_ohlc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LIVE OHLC candlestick maintenance — the streaming twin of
    timeseries_ohlc: per (series, day) open/high/low/close/volume kept
    incrementally. The reason this is streamable at all is the batch
    design choice: open/close are lexicographic (ts, event_id, v)
    struct-MIN/MAX — commutative, mergeable aggregates — so each
    micro-batch folds into O(series × days) scalar state exactly like
    min-of-mins (A4); a first/last-over-window formulation would not be
    expressible incrementally. Complete mode republishes the bar table;
    at scale the foreachBatch rollup sink (stream_rollup_to_parquet)
    merges only dirty keys instead."""
    ev = read_events_stream(spark, sf_dir)
    obs = ev.select(
        "event_type",
        F.date_trunc("day", "ts").alias("day"),
        F.struct(
            "ts", "event_id", F.round(F.col("value") * 100).cast("long").alias("v")
        ).alias("obs"),
        F.round(F.col("value") * 100).cast("long").alias("v"),
    )
    agg = (
        obs.groupBy("event_type", "day")
        .agg(
            F.min("obs").getField("v").alias("open_cents"),
            F.max("v").alias("high_cents"),
            F.min("v").alias("low_cents"),
            F.max("obs").getField("v").alias("close_cents"),
            F.count(F.lit(1)).alias("volume"),
            F.sum("v").alias("total_cents"),
        )
        .select(
            "event_type",
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            "open_cents", "high_cents", "low_cents", "close_cents",
            "volume", "total_cents",
        )
    )
    return _run_to_memory(agg, "stream_ohlc_out", "complete")


def streaming_bitmap_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LIVE exact distinct-count via bitmap state — the streaming twin of
    agg_bitmap_distinct and the exact counterpart of the approximate
    HLL/KMV live sketches: bit_or is a commutative, mergeable aggregate,
    so per-(type, word) bitmap words ARE legal incremental state; each
    micro-batch ORs its keys in, and the popcount rollup republishes the
    exact per-type distinct user count. State is O(groups × occupied
    words) — 60 keys per state row — where a naive streaming
    COUNT(DISTINCT) is unsupported precisely because its state would be
    the full key set."""
    ev = read_events_stream(spark, sf_dir)
    words = (
        ev.select(
            "event_type",
            F.expr("user_id DIV 60").alias("w"),
            F.expr("shiftleft(CAST(1 AS BIGINT), CAST(user_id % 60 AS INT))").alias("m"),
        )
        .groupBy("event_type", "w")
        .agg(F.bit_or("m").alias("mask"))
    )
    # ONE stateful operator: the live state is the word table; the popcount
    # census is a batch rollup over its snapshot (chaining a second
    # streaming aggregate would trip Spark's multi-stateful-operator
    # watermark correctness check, and the readout is O(state) anyway)
    snap = _run_to_memory(words, "stream_bitmap_words_out", "complete")
    return snap.groupBy("event_type").agg(
        F.sum(F.bit_count("mask")).alias("n_users"),
        F.count(F.lit(1)).alias("n_words"),
    )
