"""Streaming parquet sink (S7's streaming twin): readStream → writeStream
to snappy parquet with a checkpoint — the continuous-ingest version of the
reference's batch parquet sink (DataPreparationOrchestration.cs:145-170).

The checkpoint carries the source offsets and sink commit log, which is
what makes the pipeline exactly-once across restarts: a resumed query
re-reads nothing it already committed (tests restart the same checkpoint
and assert zero duplicate rows). At 100 TB/day this is the ingest tier:
file-source backpressure via maxFilesPerTrigger, one output commit per
micro-batch, downstream readers see atomic batch boundaries.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession

from .windows import drain_stream, read_events_stream

# ---------------------------------------------------------------------------
# Versioned-snapshot commit for foreachBatch sinks.
#
# foreachBatch is AT-LEAST-ONCE: a batch whose side effect completed but
# whose checkpoint commit wasn't recorded IS REPLAYED after a crash. A
# merge that re-applies it double-counts (ADVICE r5, medium). And a
# rmtree+rename swap has a window where the live table doesn't exist at
# all. Both close with the classic table-format commit: write the merged
# snapshot to a BATCH-ID-NAMED version dir, then atomically repoint a
# pointer file (os.replace). The pointer names the last applied batch id,
# so a replayed batch (id <= pointer's) is SKIPPED before merging, and a
# reader always sees a complete committed version — there is no moment
# without a live table and no torn directory.
# ---------------------------------------------------------------------------

_POINTER = "_CURRENT"
_CKPT_MARK = "_CHECKPOINT"


def _bind_checkpoint(dest: str, checkpoint: str) -> None:
    """Pin the (dest, checkpoint) pairing. Batch ids are CHECKPOINT-scoped
    (a fresh checkpoint restarts at 0), while the replay-skip pointer is
    DEST-scoped — pointing a new checkpoint at an existing table would
    make the pointer silently DISCARD the new stream's first batches as
    'replays'. Refusing loudly is the only safe move; the caller either
    reuses the original checkpoint (resume) or starts a fresh dest."""
    import os

    os.makedirs(dest, exist_ok=True)
    mark = os.path.join(dest, _CKPT_MARK)
    norm = os.path.abspath(checkpoint)
    try:
        with open(mark) as fh:
            bound = fh.read().strip()
    except OSError:
        bound = None
    if bound is None:
        tmp = f"{mark}.tmp{os.getpid()}"
        with open(tmp, "w") as fh:
            fh.write(norm)
        os.replace(tmp, mark)
    elif bound != norm:
        raise ValueError(
            f"snapshot dir {dest} is bound to checkpoint {bound}; driving it "
            f"from {norm} would misread batch ids as replays — resume with "
            "the original checkpoint or use a fresh dest"
        )


def _current_version(dest: str) -> tuple[int, str] | None:
    """(batch_id, version dir) of the committed snapshot, or None."""
    try:
        with open(os.path.join(dest, _POINTER)) as fh:
            name = fh.read().strip()
        bid = int(name.removeprefix("v"))
        path = os.path.join(dest, name)
        return (bid, path) if os.path.isdir(path) else None
    except (OSError, ValueError):
        return None


def _commit_version(df: DataFrame, dest: str, batch_id: int) -> None:
    """Write df as version `batch_id` and atomically repoint the table."""
    name = f"v{batch_id:012d}"
    vdir = os.path.join(dest, name)
    df.write.mode("overwrite").parquet(vdir)
    tmp = os.path.join(dest, f"{_POINTER}.tmp{os.getpid()}")
    with open(tmp, "w") as fh:
        fh.write(name)
    os.replace(tmp, os.path.join(dest, _POINTER))
    # GC: superseded version dirs (committed pointer no longer references)
    for d in os.listdir(dest):
        if d.startswith("v") and d != name:
            shutil.rmtree(os.path.join(dest, d), ignore_errors=True)


def _read_current(spark: SparkSession, dest: str) -> DataFrame:
    cur = _current_version(dest)
    assert cur is not None, f"no committed snapshot under {dest}"
    return spark.read.parquet(cur[1])


def stream_events_to_parquet(
    spark: SparkSession,
    sf_dir: str,
    dest: str,
    checkpoint: str,
    compression: str = "snappy",
) -> DataFrame:
    """Drain the events stream into a parquet folder (exactly-once via the
    checkpoint) and return a batch DataFrame over the written output."""
    drain_stream(
        read_events_stream(spark, sf_dir)
        .writeStream.format("parquet")
        .option("path", dest)
        .option("checkpointLocation", checkpoint)
        .option("compression", compression)
        .outputMode("append")
    )
    return spark.read.parquet(dest)


def stream_upsert_to_parquet(
    spark: SparkSession,
    sf_dir: str,
    dest: str,
    checkpoint: str,
    key: str = "user_id",
    stream: DataFrame | None = None,
) -> DataFrame:
    """Streaming CDC apply: maintain a latest-row-per-key snapshot table
    from a live stream via foreachBatch merge — the streaming twin of
    `prep_upsert_snapshot` (delta-wins copy-on-write), and the pattern a
    lakehouse runs to keep a serving table current from an event stream.

    Each micro-batch: (1) reduce the batch to one winner per key (latest
    event-time), (2) merge by keeping the (ts, event_id)-max row per key
    across delta ∪ snapshot, (3) commit a batch-id-named version dir and
    atomically repoint the table (_commit_version). The event-time
    comparison — NOT blind delta-wins — is what makes the merge correct
    under out-of-order arrival: a micro-batch may deliver an event OLDER
    than the snapshot's current row for that key (the multi-batch test
    drives exactly this). Replayed batches after a crash are DROPPED by
    the pointer's batch id before any merge runs, and the pointer swap
    (os.replace) means no reader ever sees a missing or torn table.

    At scale the versioned commit is exactly what a table format does;
    the dataflow (delta anti-join, only delta-keyed files rewritten) is
    identical."""
    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    _bind_checkpoint(dest, checkpoint)

    def merge_batch(batch_df: DataFrame, batch_id: int) -> None:
        cur = _current_version(dest)
        if cur is not None and batch_id <= cur[0]:
            return  # replayed batch already committed — at-least-once → once
        w = W.partitionBy(key).orderBy(F.col("ts").desc(), F.col("event_id").desc())

        def latest_per_key(df: DataFrame) -> DataFrame:
            return (
                df.withColumn("_rn", F.row_number().over(w))
                .filter(F.col("_rn") == 1)
                .drop("_rn")
            )

        delta = latest_per_key(batch_df)
        if cur is not None:
            combined = delta.unionByName(spark.read.parquet(cur[1]))
            merged = latest_per_key(combined)
        else:
            merged = delta
        _commit_version(merged, dest, batch_id)

    src = stream if stream is not None else read_events_stream(spark, sf_dir)
    drain_stream(
        src.writeStream.foreachBatch(merge_batch)
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
    )
    return _read_current(spark, dest)


def rollup_merge_batch(spark: SparkSession, dest: str):
    """The rollup sink's foreachBatch body, exposed so tests can drive the
    AT-LEAST-ONCE replay path directly: calling it twice with the same
    batch id must merge exactly once."""
    from pyspark.sql import functions as F

    def partials(df: DataFrame) -> DataFrame:
        return df.groupBy(F.to_date("ts").alias("day"), "event_type").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.round(F.col("value") * 100).cast("long")).alias("sc"),
        )

    def merge_batch(batch_df: DataFrame, batch_id: int) -> None:
        cur = _current_version(dest)
        if cur is not None and batch_id <= cur[0]:
            return  # replayed batch already merged — skipping IS the fix
        delta = partials(batch_df)
        if cur is not None:
            merged = (
                delta.unionByName(spark.read.parquet(cur[1]))
                .groupBy("day", "event_type")
                .agg(F.sum("n").alias("n"), F.sum("sc").alias("sc"))
            )
        else:
            merged = delta
        _commit_version(merged, dest, batch_id)

    return merge_batch


def stream_rollup_to_parquet(
    spark: SparkSession,
    sf_dir: str,
    dest: str,
    checkpoint: str,
    stream: DataFrame | None = None,
) -> DataFrame:
    """Streaming MATERIALIZED-VIEW maintenance: keep the daily per-type
    rollup current from a live stream — the continuous twin of
    `agg_incremental_rollup` (operators/advanced.py). Each micro-batch
    reduces to (day, event_type, count, Σcents) partials, merges them
    into the standing rollup by re-aggregating partial-with-partial
    (integer partials: bit-exact under any merge order and any batch
    cut), and commits a batch-id-named version with an atomic pointer
    swap. foreachBatch is AT-LEAST-ONCE, so a batch replayed after a
    crash (merge committed, checkpoint not recorded) arrives with an id
    ≤ the pointer's and is DROPPED before merging — counts can never
    double-apply (ADVICE r5: the previous swap-in-place had exactly that
    replay hole, plus a crash window with no live table at all; the
    restart pytest now drives a replay through this path).

    At 100 TB/day this is the serving tier the batch operator bootstraps:
    the dashboard query reads O(days × types) rows no matter how much
    raw history exists, and the stream keeps it fresh without any rescan
    (same contract the CDC-apply sink pins for snapshots)."""
    _bind_checkpoint(dest, checkpoint)
    merge_batch = rollup_merge_batch(spark, dest)
    src = stream if stream is not None else read_events_stream(spark, sf_dir)
    drain_stream(
        src.writeStream.foreachBatch(merge_batch)
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
    )
    return _read_current(spark, dest)
