"""Config-driven runner (D8, Program.cs:14-54 analogue) and error-channel
(D5, QueryOrchestration.cs:470-475 analogue) tests."""

from __future__ import annotations

import pytest

# config-runner e2e: full runner invocations over committed artifacts -- ~100 s wall
pytestmark = pytest.mark.slow

import json

from pyspark.sql import functions as F

from parquet_storage_query_spark import runner
from parquet_storage_query_spark.catalog import SCHEMAS, load
from parquet_storage_query_spark.sources import prep

from .conftest import SF_SMOKE


def test_runner_executes_prep_then_queries(spark, tmp_path):
    """Full config: a convert prep job, then two query jobs (one with the
    D6 differential oracle check) — the reference's Main() flow."""
    src_csv = str(tmp_path / "csv_in")
    load(spark, SF_SMOKE, "nation").write.csv(src_csv)

    cfg = {
        "data_prep": [
            {"kind": "convert", "src": src_csv, "dest": str(tmp_path / "out"), "table": "nation"}
        ],
        "queries": [
            {"name": "ref_total_count", "sf_dir": SF_SMOKE},
            {"name": "q1_pricing_summary", "sf_dir": SF_SMOKE, "differential": True},
        ],
    }
    report = runner.run(cfg, spark=spark)

    assert report["prep"][0]["kind"] == "convert"
    assert spark.read.parquet(str(tmp_path / "out")).count() == 25
    assert report["queries"][0]["rows"] == 1
    assert report["queries"][1]["differential"] == "match"


def test_runner_differential_one_oracle_per_sf_dir_over_folder_events(spark, folder_corpus, monkeypatch):
    """Differential jobs over a corpus whose `events` is a 4-file folder
    match, and the run opens one oracle connection per sf_dir and closes
    each when it ends."""
    import duckdb

    opened, real = [], runner.oracle_connection

    def counting(sf_dir):
        opened.append(real(sf_dir))
        return opened[-1]

    monkeypatch.setattr(runner, "oracle_connection", counting)
    names = ["ref_total_count", "ref_per_file_counts", "ref_min_max"]
    cfg = {
        "queries": [{"name": n, "sf_dir": folder_corpus, "differential": True} for n in names]
        + [{"name": "ref_total_count", "sf_dir": SF_SMOKE, "differential": True}],
    }
    report = runner.run(cfg, spark=spark)
    assert [q["differential"] for q in report["queries"]] == ["match"] * 4
    assert report["queries"][1]["rows"] == 4  # one count per file of the folder
    assert len(opened) == 2
    for con in opened:
        with pytest.raises(duckdb.ConnectionException):
            con.execute("SELECT 1")


def test_runner_loads_json_config_file(spark, tmp_path):
    cfg_file = tmp_path / "cfg.json"
    cfg_file.write_text(
        json.dumps({"queries": [{"name": "ref_min_max", "sf_dir": SF_SMOKE}]})
    )
    report = runner.run(str(cfg_file), spark=spark)
    assert report["queries"][0]["rows"] == 1


def test_converted_events_round_trip_through_catalog(spark, tmp_path):
    """Engine-rewritten events (micros timestamps) must load through the
    same catalog path as the driver corpus (nanos): catalog.load probes the
    parquet footer and applies the nanosAsLong fix only where needed."""
    sf_dir = str(tmp_path)
    load(spark, SF_SMOKE, "events").write.parquet(sf_dir + "/events.parquet")
    out = load(spark, sf_dir, "events")
    assert out.count() == load(spark, SF_SMOKE, "events").count()
    want = load(spark, SF_SMOKE, "events").agg(F.max("ts")).collect()
    assert out.agg(F.max("ts")).collect() == want


def test_csv_error_channel_captures_malformed_rows(spark, tmp_path):
    """Malformed rows land in _corrupt_record; good rows parse (D5)."""
    p = tmp_path / "mixed.csv"
    p.write_text("0,AFRICA\n1,AMERICA\nnot-an-int,EUROPE,extra,fields\n")
    df = prep.csv_with_error_channel(spark, str(p), SCHEMAS["region"]).cache()
    try:
        good = df.filter(F.col("_corrupt_record").isNull())
        bad = df.filter(F.col("_corrupt_record").isNotNull())
        assert good.count() == 2
        assert bad.count() == 1
        assert "not-an-int" in bad.collect()[0]["_corrupt_record"]
    finally:
        df.unpersist()


def test_ignore_corrupt_files_skips_bad_blob(spark, tmp_path):
    """A garbage .parquet file in the folder is skipped, not fatal (D5 at
    file granularity — the reference continues past failing blobs)."""
    folder = tmp_path / "tbl"
    load(spark, SF_SMOKE, "region").coalesce(1).write.parquet(str(folder))
    (folder / "part-junk.parquet").write_bytes(b"this is not parquet")
    out = prep.read_ignoring_corrupt_files(spark, str(folder))
    assert out.count() == 5


def test_example_curation_pipeline_config_all_match(spark):
    """The shipped examples/curation_pipeline.json — the LLM-data-curation
    flow (exact/fuzzy/containment/semantic dedup, snapshot diff, schema
    evolution, contamination, sharding) as one D8 config — must run end
    to end with every differential check matching."""
    report = runner.run("examples/curation_pipeline.json", spark=spark)
    assert len(report["queries"]) >= 9  # grows as the curation surface grows
    for q in report["queries"]:
        assert q["differential"] == "match", q


def test_runner_spark_conf_seam_applies_fs_and_sql_keys(spark):
    """The `spark_conf` config seam (VERDICT r8 "what's missing" #3 — the
    reference's AuthenticationMode analogue): "fs.*" keys must land on the
    LIVE Hadoop configuration (where post-session credentials actually
    take effect), runtime SQL keys on spark.conf, and a static-only conf
    must be SKIPPED (reported) rather than failing the run."""
    from parquet_storage_query_spark.runner import run

    before = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    report = run(
        {
            "spark_conf": {
                "fs.graft.test.auth.type": "OAuthStandIn",
                "spark.sql.autoBroadcastJoinThreshold": before,  # no-op value
                "spark.serializer": "org.apache.spark.serializer.KryoSerializer",
            },
            "queries": [{"name": "ref_total_count", "sf_dir": SF_SMOKE}],
        },
        spark,
    )
    hadoop = spark.sparkContext._jsc.hadoopConfiguration()
    assert hadoop.get("fs.graft.test.auth.type") == "OAuthStandIn"
    assert "fs.graft.test.auth.type" in report["spark_conf"]["applied"]
    assert "spark.serializer" in report["spark_conf"]["skipped"]  # static conf
    assert report["queries"][0]["rows"] >= 1
