"""Config-driven job runner — the reference's orchestration layer (D8,
SURVEY.md §2.11): Program.cs:14-54 loads a YAML config and runs the
data-prep jobs then the query jobs in order, timing each and printing a
5-row preview (QueryOrchestration.cs:371-401, 441-444).

Config shape (dict, or YAML/JSON file path):

    app_name: my-run            # optional
    spark_conf:                 # optional: session/filesystem conf seam
      # This is where a real deployment selects its storage credentials —
      # the analogue of the reference's AuthenticationMode enum
      # (CFG/AuthenticationMode.cs:3-8 ConnectionString/AccountKey/
      # UserCredentials selecting how PG:56-102 builds its BlobClients).
      # Local parquet needs none, so the runner only APPLIES what the
      # config names: "fs.*"/"dfs.*" keys go to the live Hadoop
      # configuration (e.g. fs.azure.account.auth.type.<acct>: OAuth and
      # its provider/id/secret keys, or fs.s3a.aws.credentials.provider),
      # everything else to runtime SQL conf. Static-only Spark confs are
      # reported as skipped rather than failing the run.
      spark.sql.shuffle.partitions: "64"
    data_prep:                  # optional, run first (PG:35)
      - kind: convert           # D3
        src: /data/raw_csv
        dest: /data/parquet
        table: nation           # schema from the catalog
        format: csv
      - kind: compact           # D2
        src: /data/small_files
        dest: /data/compacted
        target_mb: 256
    queries:                    # then queries (PG:36-40)
      - name: ref_total_count   # any registry entry
        sf_dir: /root/testdata/sf0.01
      - name: q1_pricing_summary
        sf_dir: /root/testdata/sf0.01
        differential: true      # D6: also run the DuckDB oracle + compare

Each query job mirrors QueryBothSystemsAsync: run, time, preview — and
with `differential: true` the DuckDB oracle runs on the same parquet and
the row-count/value-hash comparison is reported (the automated upgrade of
the reference's print-both-engines methodology, SURVEY §5).
"""

from __future__ import annotations

import json
import time
from contextlib import ExitStack
from typing import Any

from pyspark.sql import SparkSession

from .catalog import SCHEMAS
from .fingerprint import oracle_connection, oracle_result, result_fingerprint
from .registry import all_queries
from .session import get_spark
from .sources import prep


def load_config(source: str | dict[str, Any]) -> dict[str, Any]:
    """Dict passthrough, else YAML (if pyyaml is present) or JSON file —
    the reference's camelCase-YAML loader analogue (PG:44-54)."""
    if isinstance(source, dict):
        return source
    text = open(source).read()
    try:
        import yaml  # type: ignore[import-not-found]

        return yaml.safe_load(text)
    except ImportError:
        return json.loads(text)


def _run_prep(spark: SparkSession, job: dict[str, Any]) -> dict[str, Any]:
    kind = job["kind"]
    t0 = time.perf_counter()
    if kind == "convert":
        schema = SCHEMAS[job["table"]]
        prep.with_retry(
            lambda: prep.convert(
                spark, job["src"], job["dest"], schema, src_format=job.get("format", "csv")
            )
        )
        detail: dict[str, Any] = {}
    elif kind == "compact":
        detail = prep.compact(spark, job["src"], job["dest"], target_mb=job.get("target_mb", 256))
    else:
        raise ValueError(f"unknown prep kind: {kind}")
    return {"kind": kind, "dest": job["dest"], "seconds": round(time.perf_counter() - t0, 3), **detail}


def _differential(con, name: str, sf_dir: str, spark_cols: list[str], spark_rows: list[tuple]) -> dict[str, Any]:
    """D6: run the registered DuckDB oracle on the same parquet folder and
    compare the fingerprints (row count + order-insensitive value hash)."""
    qd = all_queries()[name]
    if qd.oracle is None:
        return {"differential": "no-oracle"}
    ocols, orows = oracle_result(con, sf_dir, qd.oracle)
    match = result_fingerprint(spark_cols, spark_rows) == result_fingerprint(ocols, orows)
    return {"differential": "match" if match else "MISMATCH", "oracle_rows": len(orows)}


def _apply_spark_conf(
    spark: SparkSession, conf: dict[str, Any]
) -> tuple[list[str], list[str]]:
    """Apply the config's `spark_conf` seam (module docstring): filesystem
    keys ("fs."/"dfs.") land on the live Hadoop configuration — the only
    place credentials set after session start take effect — and the rest
    on runtime SQL conf. Returns (applied, skipped) key lists; a
    static-only Spark conf is skipped with a console note instead of
    failing the run (the reference's config loader is similarly lenient
    about unknown keys, PG:44-54)."""
    applied: list[str] = []
    skipped: list[str] = []
    hadoop = spark.sparkContext._jsc.hadoopConfiguration()
    for key, value in conf.items():
        sval = str(value)
        if key.startswith(("fs.", "dfs.")):
            hadoop.set(key, sval)
            applied.append(key)
            continue
        try:
            spark.conf.set(key, sval)
            applied.append(key)
        except Exception as exc:  # static conf after session start
            print(f"spark_conf skipped {key}: {exc}")
            skipped.append(key)
    return applied, skipped


def run(config: str | dict[str, Any], spark: SparkSession | None = None) -> dict[str, Any]:
    """Execute the config: prep jobs, then query jobs (PG:35-40 order).
    Returns a report dict; also prints per-job lines like the reference's
    console output (elapsed + preview)."""
    cfg = load_config(config)
    spark = spark or get_spark(cfg.get("app_name", "runner"))
    queries = all_queries()

    report: dict[str, Any] = {"prep": [], "queries": []}
    applied, skipped = _apply_spark_conf(spark, cfg.get("spark_conf") or {})
    if applied or skipped:
        report["spark_conf"] = {"applied": applied, "skipped": skipped}
    for job in cfg.get("data_prep", []) or []:
        res = _run_prep(spark, job)
        print(f"prep {res['kind']} -> {res['dest']}: {res['seconds']}s")
        report["prep"].append(res)

    oracle_cons: dict[str, Any] = {}  # one per sf_dir, closed when the run ends
    with ExitStack() as stack:
        for job in cfg.get("queries", []) or []:
            name, sf_dir = job["name"], job["sf_dir"]
            if name not in queries:
                raise KeyError(f"unknown query: {name}")
            t0 = time.perf_counter()
            df = queries[name].builder(spark, sf_dir)
            rows = df.collect()
            elapsed = round(time.perf_counter() - t0, 3)
            entry: dict[str, Any] = {"name": name, "rows": len(rows), "seconds": elapsed}
            # S9 preview sink: first 5 rows (QO:441-444's Take(5))
            preview = [tuple(r) for r in rows[:5]]
            print(f"query {name}: {len(rows)} rows in {elapsed}s; preview: {preview}")
            if job.get("differential"):
                if sf_dir not in oracle_cons:
                    oracle_cons[sf_dir] = stack.enter_context(oracle_connection(sf_dir))
                con, rows = oracle_cons[sf_dir], [tuple(r) for r in rows]
                entry.update(_differential(con, name, sf_dir, df.columns, rows))
            report["queries"].append(entry)
    return report


if __name__ == "__main__":  # python -m parquet_storage_query_spark.runner cfg.json
    import sys

    out = run(sys.argv[1])
    print(json.dumps(out, default=str))
