"""The workloads. Each has a ``setup`` (untimed: inputs, oracle
fingerprints, the first call of every op) and a ``round`` (the ops of one
pass of the closed loop, in a seeded order). The program sees only
the generated inputs; the seed picks file splits, sampled rows and op
order."""

from __future__ import annotations

import os
import shutil

import numpy as np
import pyarrow.compute as pc
import pyarrow.parquet as pq

from . import gen
from .harness import Context, Oracle, Stats, checked_query, cold_pass, log, oracle_fingerprints, timed_query

# Names of the streaming ops: each call runs a real Structured Streaming
# query to completion inside its builder.
STREAM_OPS = {"stream_dedup_watermarked", "stream_join_asof", "stream_time_filter_count"}


class ServeMix:
    """Warm serving over two corpus layouts after an untimed pass that
    builds every memo and artifact: the reference's own query surface over
    folders of many small Parquet files, and a fixed sample of the
    headline queries, one or two per family, over one file per table."""

    name = "serve_mix"
    round_s = 10.0  # nominal seconds of timed ops per round on 4 cores
    salt = 21
    # (corpus, scale, file count per split table, tables, ops)
    corpora = [
        ("many_files", 0.1, {"events": 32, "lineitem": 32}, ("events", "lineitem"), [
            # A1-A7, the footer-only count, per-file counts, Q1 and Q6
            "ref_total_count", "ref_time_filter_count", "ref_filter_count", "ref_min_max",
            "ref_max_by", "ref_point_filter", "ref_distinct", "ref_total_count_meta",
            "ref_per_file_counts", "q1_pricing_summary", "q6_forecast_revenue",
        ]),
        # streams read events one file per micro-batch, so this corpus
        # keeps one file per table
        ("one_file", 0.01, {}, None, [
            "join_star_revenue", "q18_large_orders",
            "window_sessionize", "events_funnel",
            # dedup and similarity (their index-building siblings are the
            # cold builds of ingest_build)
            "dedup_paragraphs", "sim_bruteforce_topk",
            # one graph memo consumer (pagerank's first call alone adds
            # about 4 s to every run's set-up)
            "graph_triangle_count",
            # a decoder over a committed fixture (mapInPandas)
            "mm_audio_energy",
            "stream_dedup_watermarked", "stream_join_asof", "stream_time_filter_count",
            "topk_orders", "text_quality_score", "profile_drift_psi",
        ]),
    ]

    def __init__(self, sf: float | None = None) -> None:
        self.sf = sf

    def setup(self, ctx: Context, stats: Stats) -> None:
        self.expected: dict[str, tuple[str, int]] = {}
        self.tables = []
        for corpus, sf, files, only, ops in self.corpora:
            sf_dir = os.path.join(ctx.work, corpus)
            manifest = gen.write_corpus(sf_dir, self.sf or sf, ctx.seed, files, only)
            log(f"{corpus}: {manifest['files']} files, {manifest['bytes']} bytes; "
                + ", ".join(f"{t}={m['files']}" for t, m in manifest["tables"].items() if m["files"] > 1))
            oracle = Oracle(sf_dir)
            wants = oracle_fingerprints(ctx, oracle, ops)
            oracle.close()
            for name, rows in cold_pass(ctx, stats, sf_dir, wants).items():
                self.expected[name] = (sf_dir, rows)
            self.tables += [(sf_dir, t) for t in (only or ("events", "lineitem"))]

    def round(self, ctx: Context, stats: Stats, i: int) -> None:
        for name in np.random.default_rng([ctx.seed, self.salt, i]).permutation(sorted(self.expected)):
            sf_dir, rows = self.expected[str(name)]
            timed_query(ctx, stats, str(name), sf_dir, rows, str(name) in STREAM_OPS)


_SRC_CSV_COLUMNS = (
    "{'event_id': 'BIGINT', 'ts': 'TIMESTAMP', 'user_id': 'BIGINT', "
    "'event_type': 'VARCHAR', 'value': 'DOUBLE', 'props': 'VARCHAR'}"
)


class IngestBuild:
    """The reference's data-prep half with writes beside reads: each round
    converts and compacts fresh source batches, reads the output back
    through registered queries, and makes cold first calls of
    artifact-building queries, each on a fresh corpus path and a fresh
    artifact directory."""

    name = "ingest_build"
    # nominal seconds of timed ops per round on 4 cores; the round's own
    # input generation and checks add about half as much again
    round_s = 5.0
    # a fixture builder (mapInPandas encoder) and an index builder (trained
    # centroids), of similar cost
    cold_ops = ["mm_decode_png", "sim_ivf_topk"]
    read_ops = [
        "ref_total_count", "ref_time_filter_count", "ref_filter_count",
        "ref_min_max", "ref_max_by", "ref_distinct",
    ]
    salt = 31
    # source files per batch and rows per file: fixed, so every seed does
    # the same amount of work
    batch_files, batch_rows = 9, 2000

    def __init__(self, sf: float | None = None) -> None:
        self.sf = sf or 0.01

    def setup(self, ctx: Context, stats: Stats) -> None:
        from parquet_storage_query_spark.catalog import SCHEMAS

        self.schema = SCHEMAS["events"]
        self.root = os.path.join(ctx.work, self.name)
        self.tables = []
        self.calls = 0
        # untimed warm-up round; every timed op is fully checked as it runs
        self.round(ctx, stats, -1)
        stats.clear()
        for k in stats.prep:
            stats.prep[k] = 0

    def _prep_op(self, ctx: Context, stats: Stats, key: str, fn):
        """One timed prep call; returns its result, or None if it raised."""
        stats.attempted += 1
        with ctx.tracer.span("op", op=f"prep.{key}"), ctx.tracer.span(f"prep.{key}"):
            t0, c0 = ctx.clock()
            try:
                out = fn()
            except Exception as e:  # noqa: BLE001
                stats.fail(f"prep.{key}", f"raised {e!r}")
                return None
            t1, c1 = ctx.clock()
            dt = t1 - t0
        stats.timed(f"prep.{key}", dt, c1 - c0)
        stats.prep[f"{key}_s"] += dt
        return out

    def _check_rewrite(self, stats: Stats, what: str, folder: str, src: dict) -> list[str]:
        """Re-read a prep output and compare rows and the event_id sum
        with the source batch it was made from."""
        from parquet_storage_query_spark.sources.prep import list_data_files

        files = [p for p, _ in list_data_files(folder, suffix=".parquet")]
        if not files:
            stats.fail(what, "no output files")
            return files
        t = pq.read_table(files)
        ids = pc.sum(t.column("event_id")).as_py() if t.column("event_id").null_count == 0 else None
        if t.num_rows != src["rows"] or ids != src["id_sum"]:
            stats.fail(what, f"re-read {t.num_rows} rows / id sum {ids}, source {src['rows']} / {src['id_sum']}")
        return files

    @staticmethod
    def _account(stats: Stats, src: dict, written: list[str], compacted: list[str]) -> None:
        p = stats.prep
        p["files_in"] += len(src["paths"])
        p["files_out"] += len(compacted)
        p["source_bytes"] += src["bytes"]
        p["bytes_written"] += sum(os.path.getsize(f) for f in written)
        p["compacted_bytes"] += sum(os.path.getsize(f) for f in compacted)
        p["compacted_source_bytes"] += src["bytes"]

    def round(self, ctx: Context, stats: Stats, i: int) -> None:
        from parquet_storage_query_spark.sources import prep

        spark = ctx.spark
        rng = np.random.default_rng([ctx.seed, self.salt, i + 1])
        # a replayed round (traced runs) gets the same inputs at new paths
        self.calls += 1
        d = os.path.join(self.root, f"r{i + 1}-{self.calls}")
        src_csv = gen.write_source_batch(os.path.join(d, "src_csv"), "csv.gz", self.batch_files,
                                         self.batch_rows, seed=int(rng.integers(1 << 30)))
        src_pq = gen.write_source_batch(os.path.join(d, "src_pq"), "parquet", self.batch_files,
                                        self.batch_rows, seed=int(rng.integers(1 << 30)))
        land = os.path.join(d, "landing")
        sf_csv, sf_pq = os.path.join(d, "sf_csv"), os.path.join(d, "sf_pq")
        out_csv, out_pq = os.path.join(sf_csv, "events.parquet"), os.path.join(sf_pq, "events.parquet")

        # csv.gz -> parquet, then compaction of the landed files
        if self._prep_op(ctx, stats, "convert", lambda: prep.convert(
                spark, src_csv["paths"], land, self.schema, src_format="csv") or True):
            landed = self._check_rewrite(stats, "prep.convert", land, src_csv)
            counts = self._prep_op(ctx, stats, "compact", lambda: prep.compact(spark, land, out_csv, target_mb=1))
            if counts:
                if counts["in_files"] != len(landed):
                    stats.fail("prep.compact", f"in_files {counts['in_files']} != {len(landed)}")
                out = self._check_rewrite(stats, "prep.compact", out_csv, src_csv)
                self._account(stats, src_csv, landed + out, out)
        # small parquet files -> grouped compaction, one file per group
        maps = self._prep_op(ctx, stats, "compact_grouped", lambda: prep.compact_grouped(
            spark, os.path.join(d, "src_pq"), out_pq, target_mb=1))
        if maps is not None:
            out = self._check_rewrite(stats, "prep.compact_grouped", out_pq, src_pq)
            if len(out) != len(maps):
                stats.fail("prep.compact_grouped", f"{len(out)} files for {len(maps)} groups")
            self._account(stats, src_pq, out, out)

        # read-after-write: registered queries over the compacted output,
        # checked against DuckDB over the SOURCE batches
        for sf_dir, src_sql in (
            (sf_csv, f"read_csv('{d}/src_csv/*.csv.gz', header=false, columns={_SRC_CSV_COLUMNS})"),
            (sf_pq, f"read_parquet('{d}/src_pq/*.parquet')"),
        ):
            if not os.path.isdir(os.path.join(sf_dir, "events.parquet")):
                continue
            oracle = Oracle(sf_dir, tables={"events": src_sql})
            wants = oracle_fingerprints(ctx, oracle, self.read_ops)
            oracle.close()
            for name, want in wants.items():
                checked_query(ctx, stats, name, sf_dir, want)

        # cold first calls: a fresh sampled corpus, one hard-linked copy per
        # call, and a fresh artifact directory per call
        base = os.path.join(d, "corpus")
        gen.write_corpus(base, self.sf, int(rng.integers(1 << 30)))
        oracle = Oracle(base)
        wants = oracle_fingerprints(ctx, oracle, [str(n) for n in rng.permutation(self.cold_ops)])
        oracle.close()
        for name, want in wants.items():
            sf_dir = os.path.join(d, f"corpus_{name}")
            shutil.copytree(base, sf_dir, copy_function=os.link)
            os.environ["SPARK_GRAFT_INDEX_DIR"] = os.path.join(d, f"idx_{name}")
            checked_query(ctx, stats, name, sf_dir, want, cold=True)
        if not self.tables:
            self.tables = [(base, "events"), (base, "documents")]


WORKLOADS = {w.name: w for w in (ServeMix, IngestBuild)}
