"""Catalog layer: parquet folders registered as named tables.

Reference parity: a "table" in the reference is a folder of parquet blobs
addressed by URI prefix, enumerated per query (BlobCollection.cs:15-30) and
re-declared as an external table per run (QueryOrchestration.cs:413-424).
Spark's `InMemoryFileIndex` does the enumeration; `createOrReplaceTempView`
is the external-table DDL analogue. Schemas are declared explicitly
(reference declares every read, QueryOrchestration.cs:418-424) so the engine
catalog is authoritative rather than inferred — at 100 TB, schema inference
is a full-listing cost you never want on the query path.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

# The driver-generated corpus (TESTDATA.md). Explicit schemas: parquet is
# self-describing but the catalog pins what the engine promises downstream.
SCHEMAS: dict[str, T.StructType] = {
    "region": T.StructType(
        [
            T.StructField("r_regionkey", T.IntegerType()),
            T.StructField("r_name", T.StringType()),
        ]
    ),
    "nation": T.StructType(
        [
            T.StructField("n_nationkey", T.IntegerType()),
            T.StructField("n_name", T.StringType()),
            T.StructField("n_regionkey", T.IntegerType()),
        ]
    ),
    "customer": T.StructType(
        [
            T.StructField("c_custkey", T.LongType()),
            T.StructField("c_name", T.StringType()),
            T.StructField("c_nationkey", T.IntegerType()),
            T.StructField("c_acctbal", T.DoubleType()),
            T.StructField("c_mktsegment", T.StringType()),
        ]
    ),
    "supplier": T.StructType(
        [
            T.StructField("s_suppkey", T.LongType()),
            T.StructField("s_name", T.StringType()),
            T.StructField("s_nationkey", T.IntegerType()),
            T.StructField("s_acctbal", T.DoubleType()),
        ]
    ),
    "part": T.StructType(
        [
            T.StructField("p_partkey", T.LongType()),
            T.StructField("p_name", T.StringType()),
            T.StructField("p_brand", T.StringType()),
            T.StructField("p_type", T.StringType()),
            T.StructField("p_size", T.IntegerType()),
            T.StructField("p_retailprice", T.DoubleType()),
        ]
    ),
    "orders": T.StructType(
        [
            T.StructField("o_orderkey", T.LongType()),
            T.StructField("o_custkey", T.LongType()),
            T.StructField("o_orderstatus", T.StringType()),
            T.StructField("o_totalprice", T.DoubleType()),
            T.StructField("o_orderdate", T.TimestampType()),
            T.StructField("o_orderpriority", T.StringType()),
        ]
    ),
    "lineitem": T.StructType(
        [
            T.StructField("l_orderkey", T.LongType()),
            T.StructField("l_partkey", T.LongType()),
            T.StructField("l_suppkey", T.LongType()),
            T.StructField("l_linenumber", T.IntegerType()),
            T.StructField("l_quantity", T.DoubleType()),
            T.StructField("l_extendedprice", T.DoubleType()),
            T.StructField("l_discount", T.DoubleType()),
            T.StructField("l_tax", T.DoubleType()),
            T.StructField("l_returnflag", T.StringType()),
            T.StructField("l_linestatus", T.StringType()),
            T.StructField("l_shipdate", T.TimestampType()),
        ]
    ),
    "events": T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("props", T.StringType()),
        ]
    ),
    "documents": T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
            T.StructField("lang", T.StringType()),
            T.StructField("source", T.StringType()),
            T.StructField("n_chars", T.LongType()),
        ]
    ),
    "embeddings": T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.FloatType())),
            T.StructField("label", T.IntegerType()),
        ]
    ),
}

TABLES = tuple(SCHEMAS)


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


# Tables whose parquet stores TIMESTAMP(NANOS): Spark has no nanosecond
# timestamp type, so we read the column as raw int64 nanoseconds
# (spark.sql.legacy.parquet.nanosAsLong) and floor-truncate to microseconds
# — the same truncation DuckDB applies, so oracle comparison stays exact.
_NANOS_TS: dict[str, str] = {"events": "ts"}


def _raw_read_schema(name: str) -> T.StructType:
    fields = []
    for f in SCHEMAS[name].fields:
        if f.name == _NANOS_TS.get(name):
            fields.append(T.StructField(f.name, T.LongType(), f.nullable))
        else:
            fields.append(f)
    return T.StructType(fields)


_SIZE_UNITS = {"k": 1 << 10, "m": 1 << 20, "g": 1 << 30, "t": 1 << 40}


def _size_bytes(size: str) -> int:
    """Parse a Spark size conf string ('128m', '1g', '134217728', '64mb')."""
    s = str(size).strip().lower().removesuffix("b")
    if s and s[-1] in _SIZE_UNITS:
        return int(float(s[:-1]) * _SIZE_UNITS[s[-1]])
    return int(s)


def _ensure_conf(spark: SparkSession, key: str, value: str) -> None:
    """Set a runtime SQL conf only when it differs. DELIBERATE global
    mutation: the driver harness hands us its own vanilla session, so the
    engine's required confs (UTC instants, nanos-as-long) must be applied
    at read time — there is no builder hook. The stream checkpoint
    manager is the one seam conf applied only when unset, at stream start
    (`ensure_checkpoint_manager`). Callers that need another session
    timezone should use a separate SparkSession."""
    try:
        current = spark.conf.get(key)
    except Exception:  # noqa: BLE001 — unset key
        current = None
    if current != value:
        spark.conf.set(key, value)


CHECKPOINT_MANAGER_CONF = "spark.sql.streaming.checkpointFileManagerClass"
FS_CHECKPOINT_MANAGER = (
    "org.apache.spark.sql.execution.streaming.checkpointing."
    "FileSystemBasedCheckpointFileManager"
)


def ensure_checkpoint_manager(spark: SparkSession) -> None:
    """Checkpoint streams through Hadoop's FileSystem API unless the
    session already names a checkpoint manager. Spark's default for local
    paths goes through FileContext, which without the native Hadoop
    library forks a `readlink` process for every rename or status check
    of a tiny state or log file (~320 per watermarked-dedup run at
    sf0.01). The FileSystem manager keeps the same commit protocol —
    write a temp file, then rename it, which is atomic on a local file
    system — in-process. Called by every stream start
    (`streaming.windows.drain_stream`), so it also reaches the driver's
    vanilla session."""
    if spark.conf.get(CHECKPOINT_MANAGER_CONF, None) is None:
        spark.conf.set(CHECKPOINT_MANAGER_CONF, FS_CHECKPOINT_MANAGER)


_NANOS_PROBE_CACHE: dict[str, bool] = {}


def _ts_is_nanos(path: str, ts_col: str) -> bool:
    """True when the column is physically TIMESTAMP(NANOS) — decided from
    one parquet footer (cheap, cached). Data REWRITTEN by this engine
    (prep.convert / compact) carries micros and must take the plain read
    path; only the driver-generated corpus needs the nanosAsLong fix."""
    cached = _NANOS_PROBE_CACHE.get(path)
    if cached is not None:
        return cached
    import pyarrow.parquet as pq

    probe = path
    if os.path.isdir(path):
        candidates = [f for f in sorted(os.listdir(path)) if f.endswith(".parquet")]
        if not candidates:
            return False
        probe = os.path.join(path, candidates[0])
    try:
        schema = pq.ParquetFile(probe).schema
        idx = next(i for i in range(len(schema)) if schema.column(i).name == ts_col)
        col = schema.column(idx)
        # physical INT64 + logical TIMESTAMP(nanos). NOT the arrow-level
        # type: pyarrow maps Spark's INT96 timestamps to timestamp[ns]
        # too, and those must take the plain read path.
        result = col.physical_type == "INT64" and "nanoseconds" in str(col.logical_type)
    except Exception:  # noqa: BLE001 — unreadable/missing → plain path
        result = False
    _NANOS_PROBE_CACHE[path] = result
    return result


def _nanos_col(path: str, name: str) -> str | None:
    """The column this table's files store as TIMESTAMP(NANOS), if any;
    such a table is read with `_raw_read_schema` under nanosAsLong."""
    ts_col = _NANOS_TS.get(name)
    return ts_col if ts_col and _ts_is_nanos(path, ts_col) else None


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Folder-of-parquet → DataFrame (reference: per-query DataFolderUri)."""
    path = table_path(sf_dir, name)
    # timestamps must be interpreted as UTC instants regardless of which
    # session the caller (e.g. the driver harness) hands us
    _ensure_conf(spark, "spark.sql.session.timeZone", "UTC")
    # any downstream pandas-UDF / DataSource / UDTF pickles by reference;
    # make the package importable on workers no matter the harness CWD
    # (idempotent set-lookup after the first call)
    from .pkgship import ship_package

    ship_package(spark)
    ts_col = _nanos_col(path, name)
    if ts_col is None:
        return spark.read.schema(SCHEMAS[name]).parquet(path)
    _ensure_conf(spark, "spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.schema(_raw_read_schema(name)).parquet(path)
    return df.withColumn(ts_col, F.timestamp_micros(F.expr(f"{ts_col} div 1000")))


def load_parallel(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """`load`, re-spread across the session's default parallelism when the
    source yields fewer splits than cores. Small single-file tables read as
    ONE partition, which serializes CPU-heavy expression pipelines (hashing,
    shingling, vector math). On a real 100 TB folder the file splits already
    provide parallelism and this repartition is a no-op branch."""
    df = load(spark, sf_dir, name)
    want = spark.sparkContext.defaultParallelism
    # Estimate the scan's split count from the file listing instead of
    # df.rdd.getNumPartitions(): materializing the RDD plan costs a few
    # hundred ms per call, pure overhead on the query path. Files larger
    # than maxPartitionBytes split further, so this undercounts only when
    # the scan already has enough parallelism — the branch we skip anyway.
    path = table_path(sf_dir, name)
    if os.path.isdir(path):
        files = [
            os.path.join(path, f) for f in os.listdir(path) if f.endswith(".parquet")
        ]
    else:
        files = [path]
    # Mirror Spark's own split math from the session conf: partitions ≈
    # ceil((bytes + openCost·files) / maxPartitionBytes). Small files PACK
    # together (len(files) is an overcount, not a floor), and a session
    # with a larger maxPartitionBytes yields fewer splits.
    max_split = _size_bytes(spark.conf.get("spark.sql.files.maxPartitionBytes", "128m"))
    open_cost = _size_bytes(spark.conf.get("spark.sql.files.openCostInBytes", "4m"))
    total = sum(os.path.getsize(f) for f in files) + open_cost * len(files)
    est_splits = max(1, -(-total // max_split))
    if est_splits < want:
        df = df.repartition(want)
    return df


def load_stream(spark: SparkSession, sf_dir: str, name: str, max_files_per_trigger: int = 1) -> DataFrame:
    """Structured Streaming file-source twin of `load` (same schema fixes)."""
    path = table_path(sf_dir, name)
    ts_col = _nanos_col(path, name)
    schema = _raw_read_schema(name) if ts_col else SCHEMAS[name]
    if ts_col:
        _ensure_conf(spark, "spark.sql.legacy.parquet.nanosAsLong", "true")
    reader = spark.readStream.schema(schema).option(
        "maxFilesPerTrigger", max_files_per_trigger
    )
    if os.path.isfile(path):
        # FileStreamSource requires a directory; single-file tables stream
        # from the parent dir with a name filter
        reader = reader.option("pathGlobFilter", os.path.basename(path))
        path = os.path.dirname(path)
    df = reader.parquet(path)
    if ts_col:
        df = df.withColumn(ts_col, F.timestamp_micros(F.expr(f"{ts_col} div 1000")))
    return df


_REGISTERED: tuple[str, str] | None = None  # (applicationId, sf_dir) of live views


def register_all(spark: SparkSession, sf_dir: str) -> None:
    """Register every corpus table as a temp view (S8: external-table DDL,
    QueryOrchestration.cs:416-424 → createOrReplaceTempView).

    Single-slot memo: SQL builders call this per invocation, and recreating
    9 views per query is pure catalog churn. Temp views are global to the
    session, so the cache is "which (session, sf_dir) is currently
    registered" — a different sf_dir (or a fresh session) re-registers,
    the same one is a no-op."""
    global _REGISTERED
    key = (spark.sparkContext.applicationId, sf_dir)
    if _REGISTERED == key:
        return
    for name in TABLES:
        load(spark, sf_dir, name).createOrReplaceTempView(name)
    _REGISTERED = key


_FOOTER_CONFS = {
    "spark.sql.parquet.aggregatePushdown": "true",
    "spark.sql.sources.useV1SourceList": "",
    # nanos timestamps (events.parquet) are irrelevant to a footer count,
    # but the raw read schema still resolves the column as INT64
    "spark.sql.legacy.parquet.nanosAsLong": "true",
}


def metadata_scan(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """A scan wired for FOOTER-ONLY aggregation (COUNT/MIN/MAX on supported
    types) — no row group is decoded when the plan is aggregate-only.
    Uses a derived session (same SparkContext, own SQLConf, one per
    application) with the DataSource V2 parquet reader + aggregate
    pushdown, because those confs are session-wide and the main session
    stays on the default reader for every other query. The plan shows
    `PushedAggregation: [COUNT(*)]` (tests/test_plans.py asserts it).
    The schema is the one `load` reads with: inferring it from the
    footers cost ~100 ms per call.

    At 100 TB this is the difference between scanning the corpus and
    reading ~10⁵ footers: the reference's A1 TotalCount
    (QueryOrchestration.cs:348-369) fans out one COUNT(1) query per
    blob — this is the same idea executed at the metadata layer. Only
    valid without filters/projections (Spark falls back to a scan the
    moment either appears, same answer either way)."""
    from .cache import derived_session

    ns = derived_session(spark, _FOOTER_CONFS)
    path = table_path(sf_dir, name)
    schema = _raw_read_schema(name) if _nanos_col(path, name) else SCHEMAS[name]
    return ns.read.schema(schema).parquet(path)
