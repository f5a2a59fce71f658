"""Data-prep tests (SURVEY.md §7 M3): conversion + compaction preserve
rows exactly (DuckDB count+hash oracle per the property test spec)."""

from __future__ import annotations

import os

import duckdb
import pytest
from pyspark.sql import functions as F

from parquet_storage_query_spark.catalog import SCHEMAS, load
from parquet_storage_query_spark.sources import prep

from .conftest import SF_SMOKE


@pytest.mark.slow
def test_schema_evolution_merge(spark, tmp_path):
    """Folder with files written under two schema versions (a column added
    later) reads as the union schema with mergeSchema; old rows surface
    NULL for the new column — the append-only evolution story a long-lived
    100 TB table needs."""
    folder = str(tmp_path / "evolving")
    v1 = load(spark, SF_SMOKE, "nation").select("n_nationkey", "n_name")
    v2 = load(spark, SF_SMOKE, "nation").withColumn("added_col", F.lit("v2")).select(
        "n_nationkey", "n_name", "added_col"
    )
    v1.write.parquet(folder + "/batch=1")
    v2.write.parquet(folder + "/batch=2")

    merged = spark.read.option("mergeSchema", "true").parquet(folder)
    assert "added_col" in merged.columns
    assert merged.count() == 50
    assert merged.filter(F.col("added_col").isNull()).count() == 25


def test_binpack_plan_properties(spark):
    """Property test (hypothesis): for arbitrary file-size lists, greedy
    packing (D2, DP:88-143) covers every file exactly once, preserves
    listing order, keeps every multi-file group within the target (flush
    happens BEFORE the overflowing file, DP:119-132), and never splits a
    group that could have absorbed the next file."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    @settings(max_examples=200, deadline=None)
    @given(
        sizes=st.lists(st.integers(min_value=1, max_value=10 * 1024 * 1024), max_size=40),
        target_mb=st.integers(min_value=1, max_value=8),
    )
    def check(sizes, target_mb):
        files = [(f"f{i}", s) for i, s in enumerate(sizes)]
        groups = prep.plan_packing(files, "/dest", target_mb)
        flat = [p for g in groups for p in g.original_paths]
        assert flat == [p for p, _ in files]  # complete, ordered, no dupes
        target = target_mb * 1024 * 1024
        by_path = dict(files)
        totals = [sum(by_path[p] for p in g.original_paths) for g in groups]
        for g, acc in zip(groups, totals):
            # ≤ target unless a single oversized file forms its own group
            assert acc <= target or len(g.original_paths) == 1
        for i in range(1, len(groups)):
            # greedy maximality: the next group's first file wouldn't fit
            first_next = by_path[groups[i].original_paths[0]]
            assert totals[i - 1] + first_next > target

    check()


def test_convert_csv_roundtrip(spark, tmp_path):
    """CSV.gz → parquet conversion (D3) keeps every row and value."""
    src_csv = str(tmp_path / "csv_in")
    dest = str(tmp_path / "parquet_out")
    nation = load(spark, SF_SMOKE, "nation")
    nation.write.option("compression", "gzip").csv(src_csv)
    assert any(f.endswith(".csv.gz") for f in os.listdir(src_csv))

    prep.convert(spark, src_csv, dest, SCHEMAS["nation"], src_format="csv")

    out = spark.read.parquet(dest)
    assert sorted(map(tuple, out.collect())) == sorted(map(tuple, nation.collect()))


def test_compact_preserves_rows(spark, tmp_path):
    """Compaction (D2): many small files → few files, same rows (DuckDB
    oracle on both sides)."""
    src = str(tmp_path / "small_files")
    dest = str(tmp_path / "compacted")
    li = load(spark, SF_SMOKE, "lineitem")
    li.repartition(16).write.parquet(src)  # fragment into 16 small files

    stats = prep.compact(spark, src, dest, target_mb=64)

    assert stats["in_files"] == 16
    assert stats["out_files"] < stats["in_files"]
    con = duckdb.connect()
    before = con.execute(
        f"SELECT count(*), sum(hash(l_orderkey, l_linenumber)) FROM read_parquet('{src}/*.parquet')"
    ).fetchone()
    after = con.execute(
        f"SELECT count(*), sum(hash(l_orderkey, l_linenumber)) FROM read_parquet('{dest}/*.parquet')"
    ).fetchone()
    assert before == after


def test_compact_grouped_reference_mode(spark, tmp_path):
    """Reference-faithful greedy grouping (DP:88-143): every source file
    lands in exactly one group, order preserved, sizes accumulate to the
    target."""
    src = str(tmp_path / "grouped_src")
    dest = str(tmp_path / "grouped_out")
    load(spark, SF_SMOKE, "orders").repartition(8).write.parquet(src)

    mappings = prep.compact_grouped(spark, src, dest, target_mb=1)
    all_inputs = [p for m in mappings for p in m.original_paths]
    assert sorted(all_inputs) == sorted(p for p, _ in prep.list_data_files(src, ".parquet"))

    out = spark.read.parquet(*[m.destination_path for m in mappings])
    assert out.count() == load(spark, SF_SMOKE, "orders").count()


def test_plan_packing_greedy():
    files = [(f"f{i}", 40 * 1024 * 1024) for i in range(5)]  # 5 × 40 MiB
    groups = prep.plan_packing(files, "/dest", target_mb=100)
    # reference semantics (DP:119-132): flush BEFORE overflow, so groups
    # stay ≤ 100 MiB → [f0,f1], [f2,f3], [f4]
    assert [len(g.original_paths) for g in groups] == [2, 2, 1]
    # a single file larger than the target still forms its own group
    big = prep.plan_packing([("big", 300 * 1024 * 1024)], "/dest", target_mb=100)
    assert [len(g.original_paths) for g in big] == [1]
    one_to_one = prep.plan_packing(files, "/dest", target_mb=None)
    assert len(one_to_one) == 5


def test_with_retry_bounded():
    calls = []

    def flaky():
        calls.append(1)
        raise RuntimeError("transient")

    with pytest.raises(RuntimeError):
        prep.with_retry(flaky, max_attempts=3, base_delay_s=0.01)
    assert len(calls) == 3


def test_jsonl_roundtrip(spark, tmp_path):
    """documents → gzip JSONL → (convert) parquet must preserve every row:
    the corpus-interchange egest/ingest pair is lossless."""
    from pyspark.sql import functions as F

    from parquet_storage_query_spark.catalog import load
    from parquet_storage_query_spark.sources.prep import convert, export_jsonl

    docs = load(spark, SF_SMOKE, "documents")
    jl = str(tmp_path / "docs_jsonl")
    pq = str(tmp_path / "docs_pq")
    export_jsonl(docs, jl)
    assert any(f.endswith(".json.gz") for f in os.listdir(jl)), os.listdir(jl)
    convert(spark, jl, pq, docs.schema, src_format="json")
    back = spark.read.parquet(pq)
    orig = {tuple(r) for r in docs.collect()}
    assert {tuple(r) for r in back.collect()} == orig
    assert back.count() == len(orig)


@pytest.mark.slow
def test_jsonl_writer_hidden_files_and_orphan_sweep(spark, tmp_path):
    """Exactly-once hardening of the custom jsonl_corpus sink (ADVICE r8
    medium): (a) the READER must skip '_'/'.'-prefixed basenames (Hadoop
    hidden-file convention) so staged/metadata files are never surfaced
    as rows — even a torn-gzip orphan must be invisible; (b) COMMIT must
    sweep orphaned '_staged_*' files in EVERY mode (a failed-then-retried
    task in append mode, or a crashed prior driver, leaves them behind —
    only commit knows the winning attempt set)."""
    import glob
    import gzip

    from parquet_storage_query_spark.catalog import load
    from parquet_storage_query_spark.sources import jsonl_source

    jsonl_source.register(spark)
    docs = load(spark, SF_SMOKE, "documents").select(
        "doc_id", "text", "lang", "source", "n_chars"
    )
    n = docs.count()
    dest = str(tmp_path / "sink")
    docs.write.format("jsonl_corpus").option("path", dest).mode("append").save()

    # plant an orphaned staged file (duplicate rows + torn gzip) and a
    # dot-file; the reader must see neither
    orphan = os.path.join(dest, "_staged_99999_deadbeef.json.gz")
    with gzip.open(orphan, "wt", encoding="utf-8") as fh:
        fh.write('{"doc_id": -1, "text": "dup", "lang": "xx", "source": "s", "n_chars": 3}\n')
    with open(os.path.join(dest, ".hidden.json"), "w") as fh:
        fh.write('{"doc_id": -2}\n')
    back = spark.read.format("jsonl_corpus").option("path", dest).load()
    assert back.count() == n
    assert back.filter("doc_id < 0").count() == 0

    # a second APPEND commit must sweep the orphan (not only overwrite)
    docs.limit(1).write.format("jsonl_corpus").option("path", dest).mode("append").save()
    assert not glob.glob(os.path.join(dest, "_staged_*")), "orphan survived commit"
    assert (
        spark.read.format("jsonl_corpus").option("path", dest).load().count() == n + 1
    )


@pytest.mark.slow
def test_jsonl_codec_matrix_roundtrip(spark, tmp_path):
    """The jsonl_corpus source/sink codec matrix (round 9): xz and bz2
    shards (stdlib lzma/bz2) round-trip exactly like gzip through the
    same two-phase commit protocol; the reader dispatches on suffix and
    a MIXED directory (one shard set per codec) reads as the union; an
    unknown codec option fails loudly."""
    import pytest as _pytest

    from parquet_storage_query_spark.catalog import load
    from parquet_storage_query_spark.sources import jsonl_source

    jsonl_source.register(spark)
    docs = load(spark, SF_SMOKE, "documents").select(
        "doc_id", "text", "lang", "source", "n_chars"
    )
    n = docs.count()
    orig = {tuple(r) for r in docs.collect()}
    mixed = str(tmp_path / "mixed")
    for codec, sfx in (("xz", ".json.xz"), ("bz2", ".json.bz2")):
        dest = str(tmp_path / codec)
        docs.write.format("jsonl_corpus").option("path", dest).option(
            "codec", codec
        ).mode("append").save()
        assert any(f.endswith(sfx) for f in os.listdir(dest)), os.listdir(dest)
        back = spark.read.format("jsonl_corpus").option("path", dest).load()
        assert {tuple(r) for r in back.collect()} == orig
        # third of the rows into the mixed dir per codec
        docs.filter(f"doc_id % 3 = {1 if codec == 'xz' else 2}").write.format(
            "jsonl_corpus"
        ).option("path", mixed).option("codec", codec).mode("append").save()
    docs.filter("doc_id % 3 = 0").write.format("jsonl_corpus").option(
        "path", mixed
    ).mode("append").save()  # default gzip
    back = spark.read.format("jsonl_corpus").option("path", mixed).load()
    assert back.count() == n
    assert {tuple(r) for r in back.collect()} == orig
    with _pytest.raises(Exception, match="unknown codec"):
        docs.limit(1).write.format("jsonl_corpus").option("path", str(tmp_path / "z")).option(
            "codec", "zstd"
        ).mode("append").save()


def test_orc_roundtrip(spark, tmp_path):
    """events → ORC → parquet preserves all rows (dest_format extension)."""
    from parquet_storage_query_spark.catalog import load

    ev = load(spark, SF_SMOKE, "events").select("event_id", "user_id", "event_type")
    orc = str(tmp_path / "ev_orc")
    prep.convert(spark, SF_SMOKE + "/events.parquet", orc, ev.schema, src_format="parquet")
    # parquet → orc → read back
    orc2 = str(tmp_path / "ev_orc2")
    df = spark.read.parquet(orc)
    prep.convert(spark, orc, orc2, df.schema, src_format="parquet", dest_format="orc")
    back = spark.read.schema(df.schema).orc(orc2)
    assert back.count() == ev.count()


def test_zorder_rewrite_clusters_both_dims(spark, tmp_path):
    """Physical z-order rewrite: after clustering events on
    interleave(user_id, hour-bucket), a point predicate on EITHER dimension
    must be satisfiable by a strict minority of output files (footer-stat
    pruning) — the property single-column sorting only gives its leading
    column."""
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from parquet_storage_query_spark.operators.advanced import _z_value

    dest = str(tmp_path / "ev_z")
    # scale both dims to the 8-bit interleave width (user_id spans only
    # 0-14 at this SF — unscaled, the time dim would own every high bit
    # and the curve degenerates to a time sort; see rewrite_zorder docs)
    x = (F.col("user_id") * 16).cast("long")
    y = F.floor(((F.dayofmonth("ts") - 1) * 24 + F.hour("ts")) / 3.0).cast("long")
    ev = load(spark, SF_SMOKE, "events")  # read-time nanos fix lives in load
    out = prep.rewrite_zorder(spark, ev, dest, _z_value(x, y), n_files=8)
    assert out["out_files"] >= 4
    files = [p for p, _s in prep.list_data_files(dest, suffix=".parquet")]

    def files_containing(col, val):
        n = 0
        for p in files:
            md = pq.ParquetFile(p).metadata
            idx = md.schema.names.index(col)
            for rg in range(md.num_row_groups):
                st = md.row_group(rg).column(idx).statistics
                if st is None or (st.min <= val <= st.max):
                    n += 1
                    break
        return n

    # NOTE: rewrite keeps original columns; prune test uses user_id directly
    assert files_containing("user_id", 3) <= len(files) // 2, (
        files_containing("user_id", 3),
        len(files),
    )


@pytest.mark.slow
def test_z_value_matches_python_morton(spark):
    """Property: the JVM bit-interleave agrees with a pure-Python Morton
    reference on arbitrary 8-bit coordinates, and is monotone-decodable
    (x, y recoverable from z) — the invariant footer-stat pruning rests on."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from parquet_storage_query_spark.operators.advanced import _Z_BITS, _z_value

    def py_morton(x, y):
        z = 0
        for i in range(_Z_BITS):
            z |= ((x >> i) & 1) << (2 * i + 1) | ((y >> i) & 1) << (2 * i)
        return z

    @given(
        st.lists(
            st.tuples(st.integers(0, 255), st.integers(0, 255)),
            min_size=1,
            max_size=20,
        )
    )
    @settings(max_examples=10, deadline=None)
    def check(pairs):
        df = spark.createDataFrame(pairs, "x long, y long")
        got = {
            (r["x"], r["y"]): r["z"]
            for r in df.select("x", "y", _z_value(F.col("x"), F.col("y")).alias("z")).collect()
        }
        for (x, y), z in got.items():
            assert z == py_morton(x, y), (x, y, z)

    check()


def test_table_stats_match_duckdb_footers(spark):
    """The distributed footer scan must agree with DuckDB's
    parquet_file_metadata on every table's row and row-group counts."""
    import duckdb

    from parquet_storage_query_spark.catalog import TABLES, table_path
    from parquet_storage_query_spark.operators.multimodal import prep_table_stats

    got = {
        r["table_name"]: (r["n_rows"], r["n_row_groups"])
        for r in prep_table_stats(spark, SF_SMOKE).collect()
    }
    con = duckdb.connect()
    for t in TABLES:
        n_rows, n_rgs = con.execute(
            f"SELECT num_rows, num_row_groups FROM parquet_file_metadata('{table_path(SF_SMOKE, t)}')"
        ).fetchone()
        assert got[t] == (n_rows, n_rgs), (t, got[t], (n_rows, n_rgs))


@pytest.mark.slow
def test_training_shard_writer_matches_manifest(spark, tmp_path):
    """The executable shard writer's on-disk manifest must equal the
    queryable planner's manifest exactly — what lands in
    dest/split=*/... is what pipeline_training_shard promised."""
    from parquet_storage_query_spark.operators.training import (
        pipeline_training_shard,
        write_training_shards,
    )

    dest = str(tmp_path / "shards")
    written = write_training_shards(spark, SF_SMOKE, dest)
    got = sorted(map(tuple, written.collect()))
    want = sorted(map(tuple, pipeline_training_shard(spark, SF_SMOKE).collect()))
    assert got == want
    assert any(d.startswith("split=") for d in os.listdir(dest)), os.listdir(dest)


def test_schema_evolution_roundtrip_null_fills_both_directions(spark, tmp_path):
    """Two-schema ingest (VERDICT r4 'Next round' #6): a column ADDED
    mid-corpus must null-fill older rows on the merged read, and a late
    shard MISSING a column must null-fill its own rows — evolution in
    either direction, nothing rewritten."""
    from parquet_storage_query_spark.sources.prep import append_evolving, read_evolving

    dest = str(tmp_path / "evolving")
    old = spark.createDataFrame([(1, "en"), (2, "fr")], "doc_id long, lang string")
    new = spark.createDataFrame(
        [(3, "en", 120), (4, "de", 80)], "doc_id long, lang string, n_chars long"
    )
    short = spark.createDataFrame([(5,)], "doc_id long")  # missing lang AND n_chars
    append_evolving(old, dest)
    append_evolving(new, dest)
    append_evolving(short, dest)

    merged = read_evolving(spark, dest)
    assert set(merged.columns) == {"doc_id", "lang", "n_chars"}
    rows = {r["doc_id"]: (r["lang"], r["n_chars"]) for r in merged.collect()}
    assert rows == {
        1: ("en", None),
        2: ("fr", None),
        3: ("en", 120),
        4: ("de", 80),
        5: (None, None),
    }


def test_read_ignoring_corrupt_files_skips_garbage_blob(spark, tmp_path):
    """D5 per-blob error channel under an actually-corrupt blob: a folder
    holding valid parquet plus a garbage .parquet file must (a) fail a
    plain read and (b) return exactly the valid rows through the tolerant
    reader — continue-on-blob-error at file granularity, the reference's
    ErrorHandler behavior (QueryOrchestration.cs:470-475)."""
    import pytest

    from parquet_storage_query_spark.catalog import load
    from parquet_storage_query_spark.sources.prep import read_ignoring_corrupt_files

    folder = str(tmp_path / "mixed")
    nations = load(spark, SF_SMOKE, "nation")
    nations.write.parquet(folder)
    n_valid = nations.count()
    with open(f"{folder}/part-99999-garbage.parquet", "wb") as fh:
        fh.write(b"PAR1 this is not a parquet file at all \x00\x01\x02")

    with pytest.raises(Exception):
        spark.read.parquet(folder).count()

    got = read_ignoring_corrupt_files(spark, folder)
    assert got.count() == n_valid


def test_png_palette_adam7_roundtrip():
    """PNG indexed color (PLTE, type 3) and Adam7 interlace (round 11):
    random images round-trip through all four variant combinations, with
    non-multiple-of-8 dimensions so every Adam7 pass geometry (incl. the
    pass-4/6 y0=0 offsets, the classic transcription trap) is exercised;
    interlace must be decode-invisible (same pixels, different wire);
    palette-index overflow and missing PLTE fail loudly."""
    import numpy as np
    import pytest as _pytest

    from parquet_storage_query_spark.operators.multimodal import (
        _decode_png,
        encode_png_ext,
    )

    rng = np.random.default_rng(23)
    for _ in range(10):
        w, h = int(rng.integers(1, 18)), int(rng.integers(1, 15))
        for ch in (1, 3):
            px = rng.integers(0, 256, w * h * ch).astype(np.uint8).tobytes()
            assert _decode_png(encode_png_ext(w, h, ch, px, interlace=1)) == (
                w, h, ch, px,
            )
        npal = int(rng.integers(2, 256))
        pal = rng.integers(0, 256, npal * 3).astype(np.uint8).tobytes()
        idx = rng.integers(0, npal, w * h).astype(np.uint8).tobytes()
        want = b"".join(pal[3 * i : 3 * i + 3] for i in idx)
        seq = _decode_png(encode_png_ext(w, h, 1, idx, palette=pal, interlace=0))
        il = _decode_png(encode_png_ext(w, h, 1, idx, palette=pal, interlace=1))
        assert seq == il == (w, h, 3, want)  # interlace decode-invisible
    # loud failures: index past the palette; type 3 without PLTE
    with _pytest.raises(ValueError):
        _decode_png(encode_png_ext(2, 2, 1, bytes([0, 1, 2, 3]), palette=bytes(6)))
    import re as _re

    blob = bytearray(encode_png_ext(2, 2, 1, bytes(4), palette=bytes(12)))
    i = bytes(blob).find(b"PLTE") - 4
    ln = int.from_bytes(blob[i : i + 4], "big")
    del blob[i : i + 12 + ln]  # strip the PLTE chunk
    with _pytest.raises(ValueError):
        _decode_png(bytes(blob))


def test_png_codec_roundtrip_all_filters():
    """The pure-stdlib PNG decoder must invert every scanline filter type
    (None/Sub/Up/Average/Paeth), not just the filter-0 rows our own
    encoder emits: this test FORWARD-filters raw scanlines independently
    (per the PNG spec) into a hand-assembled PNG and asserts decode_image
    recovers the original pixels bit-for-bit, per filter type and for
    both grayscale and RGB."""
    import struct
    import zlib

    from parquet_storage_query_spark.operators.multimodal import (
        decode_image,
        encode_png,
    )

    def forward_filter(ftype, line, prev, ch):
        out = bytearray(len(line))
        for i in range(len(line)):
            a = line[i - ch] if i >= ch else 0
            b = prev[i]
            c = prev[i - ch] if i >= ch else 0
            if ftype == 0:
                pred = 0
            elif ftype == 1:
                pred = a
            elif ftype == 2:
                pred = b
            elif ftype == 3:
                pred = (a + b) >> 1
            else:
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if pa <= pb and pa <= pc else (b if pb <= pc else c)
            out[i] = (line[i] - pred) & 0xFF
        return out

    def assemble(w, h, ch, pixels, ftypes):
        def chunk(ctype, body):
            return (
                struct.pack(">I", len(body))
                + ctype
                + body
                + struct.pack(">I", zlib.crc32(ctype + body) & 0xFFFFFFFF)
            )

        stride = w * ch
        prev = bytearray(stride)
        raw = bytearray()
        for y in range(h):
            line = bytearray(pixels[y * stride : (y + 1) * stride])
            raw += bytes([ftypes[y]]) + forward_filter(ftypes[y], line, prev, ch)
            prev = line
        ihdr = struct.pack(">IIBBBBB", w, h, 8, {1: 0, 3: 2}[ch], 0, 0, 0)
        return (
            b"\x89PNG\r\n\x1a\n"
            + chunk(b"IHDR", ihdr)
            + chunk(b"IDAT", zlib.compress(bytes(raw)))
            + chunk(b"IEND", b"")
        )

    for ch in (1, 3):
        w, h = 7, 10
        pixels = bytes((i * 37 + ch * 11) % 256 for i in range(w * h * ch))
        # every row gets a different filter, covering all five + repeats
        ftypes = [y % 5 for y in range(h)]
        got = decode_image(assemble(w, h, ch, pixels, ftypes))
        assert got == (w, h, ch, pixels), f"filter roundtrip failed ch={ch}"
        # our own encoder (filter 0) must round-trip too
        assert decode_image(encode_png(w, h, ch, pixels)) == (w, h, ch, pixels)
    # PPM P6 path
    w, h = 5, 4
    px = bytes(range(w * h * 3))
    ppm = b"P6\n%d %d\n255\n" % (w, h) + px
    assert decode_image(ppm) == (w, h, 3, px)


def test_jpeg_codec_roundtrip():
    """The pure-stdlib baseline-JPEG (SOF0) decoder, three ways:
    (1) DC-only fixture images round-trip BIT-EXACTLY (constant 8x8
        blocks + DC quant step 8 — the lossless-roundtrip construction
        mm_decode_jpeg's oracle relies on), across the full 0..255 value
        range and both DPCM signs;
    (2) sparse random AC coefficients (runs, ZRL, category 1..4, byte
        stuffing) pushed through the entropy layer must decode to exactly
        the independent dequant+IDCT replay of the same coefficients —
        pins the AC path the DC-only fixtures never reach;
    (3) unsupported shapes (arithmetic-PROGRESSIVE SOF10, missing SOI)
        fail loudly, and decode_image dispatches on the 0xFFD8 magic
        (progressive SOF2 and arithmetic-sequential SOF9 each moved from
        this loud-failure list to real decode paths in round 9 —
        test_jpeg_progressive_roundtrip / test_jpeg_arith_roundtrip)."""
    import numpy as np

    from parquet_storage_query_spark.operators.jpeg import (
        FIX_QUANT,
        ZIGZAG,
        _encode_coeff_blocks,
        decode_jpeg,
        encode_jpeg_blocks,
        idct_8x8,
    )
    from parquet_storage_query_spark.operators.multimodal import decode_image

    rng = np.random.default_rng(8)
    # (1) DC-only exactness, incl. extreme values 0 and 255 (max DPCM)
    for vals in ([0, 255, 0, 255], rng.integers(0, 256, 12).tolist()):
        bw, bh = 2, len(vals) // 2
        data = encode_jpeg_blocks(bw, bh, vals)
        w, h, ch, px = decode_image(data)  # dispatch via magic
        assert (w, h, ch) == (bw * 8, bh * 8, 1)
        arr = np.frombuffer(px, dtype=np.uint8).reshape(h, w)
        for b, v in enumerate(vals):
            by, bx = divmod(b, bw)
            assert (arr[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8] == v).all()
    # (2) sparse-AC round trip vs independent replay
    for _ in range(10):
        blocks = []
        for _b in range(4):
            blk = np.zeros((8, 8), dtype=np.int64)
            blk[0, 0] = int(rng.integers(-100, 100))
            for _c in range(int(rng.integers(1, 6))):
                pos = int(rng.integers(1, 64))
                blk.reshape(64)[ZIGZAG[pos]] = int(rng.integers(1, 16)) * int(
                    rng.choice([-1, 1])
                )
            blocks.append(blk)
        w, h, ch, px = decode_jpeg(_encode_coeff_blocks(blocks, 2, 2))
        arr = np.frombuffer(px, dtype=np.uint8).reshape(h, w).astype(np.float64)
        for b, blk in enumerate(blocks):
            by, bx = divmod(b, 2)
            deq = (blk * FIX_QUANT.reshape(8, 8)).astype(np.float64)
            want = np.clip(np.round(idct_8x8(deq) + 128), 0, 255)
            assert (arr[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8] == want).all()
    # (3) loud failures
    import pytest as _pytest

    good = encode_jpeg_blocks(1, 1, [42])
    # a differential frame with no DHP context is ILLEGAL (not merely
    # unimplemented) now that every T.81 frame type decodes — r11
    differential = good.replace(b"\xff\xc0", b"\xff\xc5", 1)
    with _pytest.raises(ValueError):
        decode_jpeg(differential)
    with _pytest.raises(ValueError):
        decode_jpeg(b"\x00\x00" + good[2:])
    # SOF1 (extended sequential Huffman) is baseline at 8-bit precision
    assert decode_jpeg(good.replace(b"\xff\xc0", b"\xff\xc1", 1)) == decode_jpeg(good)


def test_jpeg_arith_roundtrip():
    """Arithmetic-coded sequential (SOF9) decode via the pure-stdlib QM
    coder (operators/jpeg_arith.py), three ways:
    (1) DC-only constant-block fixtures round-trip BIT-EXACTLY across
        the full value range (the construction mm_decode_jpeg_arith's
        closed-form oracle replays), with and without restart intervals
        — restarts reset the QM state, adaptive statistics, and DC
        predictors/contexts;
    (2) dense RANDOM coefficient blocks (magnitude ladders into the
        X2 banks, carry-over 0xFF stacking, byte stuffing) decode to
        exactly the independent dequant+IDCT replay — the adaptive
        entropy layer must be lossless everywhere;
    (3) the DAC conditioning segment parses (the fixture declares
        default L=0/U=1/Kx=5 explicitly)."""
    import numpy as np

    from parquet_storage_query_spark.operators.jpeg import (
        FIX_QUANT,
        ZIGZAG,
        decode_jpeg,
        idct_8x8,
    )
    from parquet_storage_query_spark.operators.jpeg_arith import (
        _encode_arith_coeff_blocks,
        encode_jpeg_arith_blocks,
    )
    from parquet_storage_query_spark.operators.multimodal import decode_image

    rng = np.random.default_rng(9)
    # (1) DC-only exactness incl. extremes, plain + restart streams
    for dri in (0, 1, 2):
        vals = [0, 255, 0, 255] + rng.integers(0, 256, 8).tolist()
        data = encode_jpeg_arith_blocks(2, 6, vals, restart_interval=dri)
        assert b"\xff\xcc" in data  # DAC segment present
        if dri:
            assert any(
                data[i] == 0xFF and 0xD0 <= data[i + 1] <= 0xD7
                for i in range(len(data) - 1)
            ), "stream must actually contain RST markers"
        w, h, ch, px = decode_image(data)  # dispatch via magic
        assert (w, h, ch) == (16, 48, 1)
        arr = np.frombuffer(px, dtype=np.uint8).reshape(h, w)
        for b, v in enumerate(vals):
            by, bx = divmod(b, 2)
            assert (arr[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8] == v).all(), (
                dri,
                b,
            )
    # (2) dense random coefficients vs independent replay
    for _ in range(10):
        blocks = []
        for _b in range(4):
            blk = np.zeros(64, dtype=np.int64)
            blk[0] = int(rng.integers(-1000, 1000))
            nnz = int(rng.integers(0, 40))
            pos = rng.choice(np.arange(1, 64), size=nnz, replace=False)
            for p in pos:
                blk[ZIGZAG[int(p)]] = int(rng.integers(1, 1000)) * int(
                    rng.choice([-1, 1])
                )
            blocks.append(blk.reshape(8, 8))
        dri = int(rng.choice([0, 1, 2]))
        w, h, ch, px = decode_jpeg(
            _encode_arith_coeff_blocks(blocks, 2, 2, restart_interval=dri)
        )
        arr = np.frombuffer(px, dtype=np.uint8).reshape(h, w).astype(np.float64)
        for b, blk in enumerate(blocks):
            by, bx = divmod(b, 2)
            deq = (np.asarray(blk) * FIX_QUANT.reshape(8, 8)).astype(np.float64)
            want = np.clip(np.round(idct_8x8(deq) + 128), 0, 255)
            assert (arr[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8] == want).all(), (
                dri,
                b,
            )


def test_jpeg_restart_markers_roundtrip():
    """DRI/RSTn resync path (untested by the DC-only fixtures, which
    declare no restart interval): a stream with RST markers every 2 MCUs
    — byte-aligned, cycling D0.., DC predictor reset per interval — must
    decode bit-exactly, across value patterns that force both mid-byte
    alignment padding and the 0xFF-pad-then-stuff edge."""
    import numpy as np

    from parquet_storage_query_spark.operators.jpeg import (
        decode_jpeg,
        encode_jpeg_blocks,
    )

    rng = np.random.default_rng(81)
    for dri in (1, 2, 3):
        vals = rng.integers(0, 256, 12).tolist()
        data = encode_jpeg_blocks(2, 3, vals, restart_interval=dri)
        assert any(
            data[i] == 0xFF and 0xD0 <= data[i + 1] <= 0xD7
            for i in range(len(data) - 1)
        ), "stream must actually contain RST markers"
        w, h, ch, px = decode_jpeg(data)
        arr = np.frombuffer(px, dtype=np.uint8).reshape(h, w)
        for b, v in enumerate(vals):
            by, bx = divmod(b, 2)
            assert (arr[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8] == v).all(), (
                dri,
                b,
            )


def test_jpeg_color_444_decode():
    """3-component 4:4:4 color path (no fixture exercises it): a
    hand-assembled YCbCr stream — per-MCU interleave Y,Cb,Cr with
    per-component DC predictors — must decode through the YCbCr->RGB
    conversion to the independently computed BT.601 expectation."""
    import struct

    import numpy as np

    from parquet_storage_query_spark.operators.jpeg import (
        FIX_AC_BITS,
        FIX_AC_VALS,
        FIX_DC_BITS,
        FIX_DC_VALS,
        FIX_QUANT,
        ZIGZAG,
        _BitWriter,
        _build_encode_table,
        _category,
        _mag_bits,
        _seg,
        decode_jpeg,
    )

    def headers_3c(width, height):
        dqt = bytes([0x00]) + bytes(int(FIX_QUANT[ZIGZAG[z]]) for z in range(64))
        sof = struct.pack(">BHHB", 8, height, width, 3) + bytes(
            [1, 0x11, 0, 2, 0x11, 0, 3, 0x11, 0]
        )
        dht_dc = bytes([0x00]) + bytes(FIX_DC_BITS) + bytes(FIX_DC_VALS)
        dht_ac = bytes([0x10]) + bytes(FIX_AC_BITS) + bytes(FIX_AC_VALS)
        sos = bytes([3, 1, 0x00, 2, 0x00, 3, 0x00, 0, 63, 0])
        return (
            b"\xff\xd8"
            + _seg(0xDB, dqt)
            + _seg(0xC0, sof)
            + _seg(0xC4, dht_dc)
            + _seg(0xC4, dht_ac)
            + _seg(0xDA, sos)
        )

    dc_enc = _build_encode_table(FIX_DC_BITS, FIX_DC_VALS)
    ac_enc = _build_encode_table(FIX_AC_BITS, FIX_AC_VALS)
    # 2x1 MCUs, each MCU = constant (Y, Cb, Cr) triplet per 8x8 block
    mcus = [(90, 100, 180), (200, 140, 96)]
    w = _BitWriter()
    pred = [0, 0, 0]
    for y, cb, cr in mcus:
        for ci, v in enumerate((y, cb, cr)):
            dc = v - 128
            diff = dc - pred[ci]
            pred[ci] = dc
            size = _category(diff)
            code, length = dc_enc[size]
            w.write(code, length)
            w.write(_mag_bits(diff, size), size)
            code, length = ac_enc[0x00]
            w.write(code, length)
    data = headers_3c(16, 8) + w.flush() + b"\xff\xd9"

    width, height, ch, px = decode_jpeg(data)
    assert (width, height, ch) == (16, 8, 3)
    rgb = np.frombuffer(px, dtype=np.uint8).reshape(8, 16, 3)
    for m, (y, cb, cr) in enumerate(mcus):
        # independent BT.601 expectation (T.871 full-range)
        r = min(255, max(0, round(y + 1.402 * (cr - 128))))
        g = min(255, max(0, round(y - 0.344136 * (cb - 128) - 0.714136 * (cr - 128))))
        b = min(255, max(0, round(y + 1.772 * (cb - 128))))
        blk = rgb[:, m * 8 : m * 8 + 8, :]
        assert (blk == np.array([r, g, b], dtype=np.uint8)).all(), (m, blk[0, 0])


def test_jpeg_420_subsampled_roundtrip():
    """4:2:0 chroma-subsampled decode (VERDICT r8 #3 — the last simulated
    multimodal edge): encode_jpeg_color's constant-macroblock fixtures
    must decode bit-exactly through the MCU-interleaved scan (Y,Y,Y,Y,
    Cb,Cr per 16x16 MCU), per-component DC predictors, native-resolution
    chroma planes, and the 2x2 replication upsample — both on the
    components=True surface (what mm_decode_jpeg_420's oracle checks) and
    through the float BT.601 RGB matrix vs an independent replay. Restart
    markers reset all three predictors. A non-integral sampling ratio
    still fails loudly."""
    import numpy as np
    import pytest as _pytest

    from parquet_storage_query_spark.operators.jpeg import (
        decode_jpeg,
        encode_jpeg_color,
    )

    rng = np.random.default_rng(94)
    for sub, mw, mh in [("420", 3, 2), ("444", 2, 2)]:
        trip = [tuple(int(x) for x in rng.integers(0, 256, 3)) for _ in range(mw * mh)]
        data = encode_jpeg_color(mw, mh, trip, subsample=sub)
        s = 16 if sub == "420" else 8
        w, h, nc, planes = decode_jpeg(data, components=True)
        assert (w, h, nc) == (mw * s, mh * s, 3)
        for m, ycc in enumerate(trip):
            my, mx = divmod(m, mw)
            for pi, v in enumerate(ycc):
                assert (planes[pi][my * s : (my + 1) * s, mx * s : (mx + 1) * s] == v).all()
        # full RGB path vs independent BT.601 (T.871 full-range) replay
        w2, h2, c2, px = decode_jpeg(data)
        rgb = np.frombuffer(px, dtype=np.uint8).reshape(h2, w2, 3)
        for m, (y, cb, cr) in enumerate(trip):
            my, mx = divmod(m, mw)
            r = min(255, max(0, round(y + 1.402 * (cr - 128))))
            g = min(255, max(0, round(y - 0.344136 * (cb - 128) - 0.714136 * (cr - 128))))
            b = min(255, max(0, round(y + 1.772 * (cb - 128))))
            blk = rgb[my * s : (my + 1) * s, mx * s : (mx + 1) * s]
            assert (blk == np.array([r, g, b], dtype=np.uint8)).all(), (sub, m)
    # restart markers reset Y/Cb/Cr predictors mid-stream
    trip = [tuple(int(x) for x in rng.integers(0, 256, 3)) for _ in range(6)]
    data = encode_jpeg_color(3, 2, trip, subsample="420", restart_interval=2)
    assert any(
        data[i] == 0xFF and 0xD0 <= data[i + 1] <= 0xD7 for i in range(len(data) - 1)
    ), "stream must actually contain RST markers"
    w, h, nc, planes = decode_jpeg(data, components=True)
    for m, ycc in enumerate(trip):
        my, mx = divmod(m, 3)
        for pi, v in enumerate(ycc):
            assert (planes[pi][my * 16 : (my + 1) * 16, mx * 16 : (mx + 1) * 16] == v).all()
    # non-integral sampling ratio must stay a loud hook: patch the SOF so
    # Y is 3x1 and Cb 2x1 (hmax 3 is not a multiple of 2)
    arr = bytearray(encode_jpeg_color(2, 2, [(1, 2, 3)] * 4, subsample="420"))
    sof_at = arr.index(b"\xff\xc0")
    # SOF0 body: FF C0 len(2) prec H(2) W(2) ncomp then [cid samp qid]*3
    arr[sof_at + 11] = 0x31  # comp 1 (Y):  h=3, v=1
    arr[sof_at + 14] = 0x21  # comp 2 (Cb): h=2, v=1
    with _pytest.raises(NotImplementedError):
        decode_jpeg(bytes(arr))


def test_jpeg_progressive_roundtrip():
    """Progressive (SOF2) decode — the Annex-G multi-scan path (round 9):
    (1) grayscale three-scan fixtures (DC split into first+refinement
        bits, all-zero AC band as one EOB-run) decode bit-exactly across
        the full value range including both DPCM signs;
    (2) random sparse coefficients through the FOUR-scan script (DC
        first/refine + AC first at Al=1 + AC REFINE at Al=0: newly
        significant placement, ZRL crossing with embedded correction
        bits, EOB-run correction phases) must equal the independent
        dequant+IDCT replay — the refinement algebra has no slack;
    (3) progressive + 4:2:0 color with INTERLEAVED DC scans and
        per-component AC band scans decodes exactly (components surface);
    (4) arithmetic-coded frames stay a loud NotImplementedError."""
    import numpy as np
    import pytest as _pytest

    from parquet_storage_query_spark.operators.jpeg import (
        FIX_QUANT,
        ZIGZAG,
        _encode_progressive_coeff_blocks,
        decode_jpeg,
        encode_jpeg_progressive,
        encode_jpeg_progressive_color,
        idct_8x8,
    )
    from parquet_storage_query_spark.operators.multimodal import decode_image

    rng = np.random.default_rng(92)
    # (1) constant-block grayscale fixtures (dispatch via 0xFFD8 magic)
    for vals in ([0, 255, 1, 254], rng.integers(0, 256, 12).tolist()):
        bw, bh = 2, len(vals) // 2
        w, h, ch, px = decode_image(encode_jpeg_progressive(bw, bh, vals))
        assert (w, h, ch) == (bw * 8, bh * 8, 1)
        arr = np.frombuffer(px, dtype=np.uint8).reshape(h, w)
        for b, v in enumerate(vals):
            by, bx = divmod(b, bw)
            assert (arr[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8] == v).all()
    # (2) sparse random coefficients, 4-scan successive approximation
    for _ in range(10):
        blocks = []
        for _b in range(6):
            blk = np.zeros((8, 8), dtype=np.int64)
            blk[0, 0] = int(rng.integers(-31, 32))
            for _c in range(int(rng.integers(0, 8))):
                pos = int(rng.integers(1, 64))
                blk.reshape(64)[ZIGZAG[pos]] = int(rng.integers(1, 32)) * int(
                    rng.choice([-1, 1])
                )
            blocks.append(blk)
        w, h, ch, px = decode_jpeg(_encode_progressive_coeff_blocks(blocks, 2, 3))
        arr = np.frombuffer(px, dtype=np.uint8).reshape(h, w).astype(np.float64)
        for b, blk in enumerate(blocks):
            by, bx = divmod(b, 2)
            deq = (blk * FIX_QUANT.reshape(8, 8)).astype(np.float64)
            want = np.clip(np.round(idct_8x8(deq) + 128), 0, 255)
            assert (arr[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8] == want).all(), b
    # (3) progressive + 4:2:0 + interleaved DC
    trip = [tuple(int(x) for x in rng.integers(0, 256, 3)) for _ in range(6)]
    w, h, nc, planes = decode_jpeg(
        encode_jpeg_progressive_color(3, 2, trip), components=True
    )
    assert (w, h, nc) == (48, 32, 3)
    for m, ycc in enumerate(trip):
        my, mx = divmod(m, 3)
        for pi, v in enumerate(ycc):
            assert (planes[pi][my * 16 : (my + 1) * 16, mx * 16 : (mx + 1) * 16] == v).all()
    # (4) hierarchical (SOF5) stays a loud hook; SOF10 became a real
    # decode path in round 10 (test_jpeg_arith_progressive_roundtrip) —
    # every T.81 frame TYPE decodes as of r11, so there is no
    # NotImplementedError frame hook left to pin; a differential frame
    # outside a hierarchical process is the remaining loud-failure path
    good = encode_jpeg_progressive(1, 1, [42])
    with _pytest.raises(ValueError):
        decode_jpeg(good.replace(b"\xff\xc2", b"\xff\xc5", 1))


def test_gif_codec_roundtrip():
    """The pure-stdlib GIF/LZW codec (operators/gif.py), four ways:
    (1) fixture-shaped ramp images round-trip exactly, plain and
        INTERLACED (4-pass row permutation inverted), on both the index
        surface (the oracle's) and the palette-expanded RGB surface;
    (2) random and repetitive pixel streams force genuine dictionary
        growth through the 512/1024/2048 width bumps, the KwKwK
        self-reference, and (on a large repetitive image) the 12-bit
        cap + clear/reset path;
    (3) non-256 palettes and min-code sizes work (local 16-entry);
    (4) decode_image dispatches on the GIF magic, and corrupt streams
        fail loudly."""
    import numpy as np
    import pytest as _pytest

    from parquet_storage_query_spark.operators.gif import decode_gif, encode_gif
    from parquet_storage_query_spark.operators.multimodal import decode_image

    rng = np.random.default_rng(92)
    # (1) ramps, plain + interlaced, both surfaces
    for interlace in (False, True):
        w, h = 24, 16
        idx = ((5 * 17 + 11 * np.arange(w * h, dtype=np.int64)) % 256).astype(np.uint8)
        data = encode_gif(w, h, idx, interlace=interlace)
        wi, hi, ci, got = decode_gif(data, indices=True)
        assert (wi, hi, ci) == (w, h, 1) and (got == idx).all()
        ww, hh, ch, rgb = decode_image(data)  # dispatch via magic
        assert (ww, hh, ch) == (w, h, 3)
        arr = np.frombuffer(rgb, dtype=np.uint8).reshape(h, w, 3)
        assert (arr[:, :, 0].reshape(-1) == idx).all()
        assert (arr[:, :, 2].reshape(-1) == idx).all()
    # (2) dictionary stress
    for t in range(6):
        w = int(rng.integers(5, 120))
        h = int(rng.integers(5, 120))
        idx = (
            rng.integers(0, 256, w * h)
            if t % 2
            else (np.arange(w * h) % 7)  # repetitive -> deep dictionary
        ).astype(np.uint8)
        data = encode_gif(w, h, idx, interlace=bool(t % 2))
        assert (decode_gif(data, indices=True)[3] == idx).all(), t
    big = (np.arange(600 * 400) % 3).astype(np.uint8)  # forces 4096-clear
    data = encode_gif(600, 400, big)
    assert len(data) < 5000, "LZW must actually compress"
    assert (decode_gif(data, indices=True)[3] == big).all()
    # (3) small palette
    pal = np.stack([np.arange(16) * 16] * 3, axis=1).astype(np.uint8)
    idx = rng.integers(0, 16, 40 * 30).astype(np.uint8)
    data = encode_gif(40, 30, idx, palette=pal, min_code_size=4)
    _, _, _, rgb = decode_gif(data)
    assert (np.frombuffer(rgb, dtype=np.uint8).reshape(-1, 3)[:, 1] == idx * 16).all()
    # (4) loud failures
    with _pytest.raises(ValueError):
        decode_gif(b"GIF89a" + b"\x00" * 20)
    good = encode_gif(8, 8, np.zeros(64, dtype=np.uint8))
    with _pytest.raises(ValueError):
        decode_gif(good[:-10])  # truncated LZW/sub-blocks
    # (5) animation: every frame + its GCE delay round-trips; the
    # single-frame decode_gif still reads frame 0 of an animated stream
    from parquet_storage_query_spark.operators.gif import (
        decode_gif_frames,
        encode_gif_animation,
    )

    w, h = 20, 14
    frames = [
        ((9 * 13 + 11 * np.arange(w * h, dtype=np.int64) + 5 * f) % 256).astype(
            np.uint8
        )
        for f in range(4)
    ]
    data = encode_gif_animation(w, h, frames, delay_cs=7, interlace=True)
    got = decode_gif_frames(data)
    assert len(got) == 4
    for f, (ww, hh, gidx, delay) in enumerate(got):
        assert (ww, hh, delay) == (w, h, 7)
        assert (gidx == frames[f]).all(), f
    assert (decode_gif(data, indices=True)[3] == frames[0]).all()


def test_flac_codec_roundtrip():
    """The pure-stdlib FLAC subset codec (operators/flac.py), five ways:
    (1) the fixture path (mono, fixed-order-2, auto rice k — mostly the
        vectorized k=0 partitions) round-trips LOSSLESSLY across block
        counts, incl. the short-tail frame;
    (2) every subframe strategy round-trips random 16-bit signals:
        CONSTANT, VERBATIM, FIXED orders 0-4, unit-coefficient LPC,
        rice partition orders > 0, explicit k, and escape (raw) parts;
    (3) all four stereo channel assignments reconstruct exactly
        (independent, left/side, right/side, mid/side — side carries
        the +1 bit depth);
    (4) CRC tampering anywhere in a frame fails loudly (CRC-16), as
        does a corrupted header (CRC-8);
    (5) decode_audio_np dispatches FLAC on the fLaC magic, so the
        mm_audio_* pipeline kernels accept compressed clips unchanged."""
    import numpy as np
    import pytest as _pytest

    from parquet_storage_query_spark.operators.flac import (
        decode_flac,
        encode_flac,
        encode_flac_stereo,
    )
    from parquet_storage_query_spark.operators.multimodal import decode_audio_np

    rng = np.random.default_rng(91)
    # (1) fixture-shaped ramps (wrap spikes exercise the mixed-k path)
    for n in (50, 256, 999, 1024):
        s = ((7 * 13 + 5 * np.arange(n, dtype=np.int64)) % 4001) - 2000
        rate, nch, bits, out = decode_flac(encode_flac(12000, s))
        assert (rate, nch, bits) == (12000, 1, 16)
        assert out.size == n and (out == s).all()
    # (2) every subframe strategy on random signals
    plans = [
        ("verbatim",),
        ("fixed0", None),
        ("fixed2", None),
        ("fixed4", None),
        ("fixed2", 7),
        ("fixed3", None, 3),
        ("fixed2", 0, 0, 20),
        ("fixed2", 0, 2, 20),
        ("lpc", 2, 3),
    ]
    for plan in plans:
        s = rng.integers(-30000, 30000, 1024).astype(np.int64)
        data = encode_flac(44100, s, blocksize=256, frame_plan=lambda f, blk: plan)
        assert (decode_flac(data)[3] == s).all(), plan
    s_const = np.full(512, -123, dtype=np.int64)
    data = encode_flac(8000, s_const, frame_plan=lambda f, blk: ("constant",))
    assert (decode_flac(data)[3] == s_const).all()
    # (3) stereo decorrelation modes
    for mode in ("independent", "left_side", "right_side", "mid_side"):
        n = int(rng.integers(100, 900))
        left = rng.integers(-30000, 30000, n).astype(np.int64)
        right = (left + rng.integers(-999, 999, n)).clip(-32768, 32767)
        rate, nch, bits, out = decode_flac(
            encode_flac_stereo(22050, left, right, mode=mode)
        )
        assert nch == 2
        assert (out[0::2] == left).all() and (out[1::2] == right).all(), mode
    # (4) loud CRC failures
    good = encode_flac(8000, rng.integers(-100, 100, 300).astype(np.int64))
    bad = bytearray(good)
    bad[len(good) // 2] ^= 0x01
    with _pytest.raises(ValueError):
        decode_flac(bytes(bad))
    # (5) decode_audio_np dispatch
    s = ((91 + 5 * np.arange(400, dtype=np.int64)) % 4001) - 2000
    rate, nch, samples = decode_audio_np(encode_flac(16000, s))
    assert (rate, nch) == (16000, 1) and (samples == s).all()


def test_g711_decode_matches_reference_formula():
    """G.711 companded WAV decode (round 9): the table expansions must
    equal an independent per-byte evaluation of the canonical
    CCITT/Sun formulas for all 256 codes in both laws, the RIFF format-6/7
    path must decode a real container end-to-end, and a non-PCM,
    non-G.711 format code stays a loud NotImplementedError."""
    import numpy as np
    import pytest as _pytest

    from parquet_storage_query_spark.operators.multimodal import (
        decode_audio_np,
        encode_wav_g711,
    )

    def ulaw_ref(b):  # independent scalar reference (G.711 / Sun ulaw2linear)
        u = ~b & 0xFF
        t = (((u & 0x0F) << 3) + 0x84) << ((u & 0x70) >> 4)
        return (0x84 - t) if (u & 0x80) else (t - 0x84)

    def alaw_ref(b):
        u = b ^ 0x55
        t = (u & 0x0F) << 4
        seg = (u & 0x70) >> 4
        if seg == 0:
            t += 8
        elif seg == 1:
            t += 0x108
        else:
            t = (t + 0x108) << (seg - 1)
        return t if (u & 0x80) else -t

    all_bytes = bytes(range(256))
    rate, ch, mu = decode_audio_np(encode_wav_g711(8000, 1, all_bytes, 7))
    assert (rate, ch) == (8000, 1)
    assert [int(x) for x in mu] == [ulaw_ref(b) for b in range(256)]
    _r, _c, al = decode_audio_np(encode_wav_g711(8000, 1, all_bytes, 6))
    assert [int(x) for x in al] == [alaw_ref(b) for b in range(256)]
    # μ-law full range present: ±(0x84<<7 − 0x84) = ±32124
    assert int(np.abs(np.asarray(mu, dtype=np.int64)).max()) == 32124
    with _pytest.raises(NotImplementedError):  # IMA ADPCM = format 0x11
        decode_audio_np(encode_wav_g711(8000, 1, all_bytes, 0x11))


def test_wav_codec_roundtrip():
    """The RIFF/PCM16 decoder must invert encode_wav bit-for-bit, survive
    an extra (ignored) chunk with odd length (word-alignment path), and
    reject non-PCM payloads with the documented NotImplementedError."""
    import struct

    import pytest as _pytest

    from parquet_storage_query_spark.operators.multimodal import (
        decode_audio,
        encode_wav,
    )

    samples = [0, 1, -1, 32767, -32768, 1234, -4321]
    data = encode_wav(16000, 1, samples)
    assert decode_audio(data) == (16000, 1, samples)

    # splice an odd-length LIST chunk between fmt and data: the chunk walk
    # must skip it via word alignment and still find the samples
    fmt_end = data.index(b"data")
    extra = b"LIST" + struct.pack("<I", 3) + b"abc" + b"\x00"
    spliced = data[:fmt_end] + extra + data[fmt_end:]
    spliced = spliced[:4] + struct.pack("<I", len(spliced) - 8) + spliced[8:]
    assert decode_audio(spliced) == (16000, 1, samples)

    with _pytest.raises(NotImplementedError):
        decode_audio(b"ID3\x03" + b"\x00" * 64)  # mp3-ish payload


def test_bmp_indexed_roundtrip():
    """8-bit palette + BI_RLE8 BMP (round 11): random and runs-heavy
    index grids round-trip through both orientations (palette) and the
    RLE encoder (runs, absolute mode with word padding, EOL/EOB); a
    hand-built stream exercises the DELTA escape (skipped cells keep
    index 0); RLE8 top-down is rejected; the RLE genuinely compresses
    on runs-heavy content."""
    import struct

    import numpy as np
    import pytest as _pytest

    from parquet_storage_query_spark.operators.multimodal import (
        _decode_bmp,
        _rle8_encode,
        encode_bmp_indexed,
    )

    rng = np.random.default_rng(31)
    for trial in range(10):
        w, h = int(rng.integers(1, 20)), int(rng.integers(1, 14))
        npal = int(rng.integers(2, 256))
        pal = rng.integers(0, 256, npal * 3).astype(np.uint8).tobytes()
        if trial % 2 == 0:
            idx = rng.integers(0, npal, w * h).astype(np.uint8).tobytes()
        else:
            idx = np.resize(
                np.repeat(rng.integers(0, npal, max(1, w * h // 6)), 6), w * h
            ).astype(np.uint8).tobytes()
        want = b"".join(pal[3 * k : 3 * k + 3] for k in idx)
        for rle in (False, True):
            for td in ((False, True) if not rle else (False,)):
                got = _decode_bmp(
                    encode_bmp_indexed(w, h, idx, pal, rle=rle, top_down=td)
                )
                assert got == (w, h, 3, want), (trial, rle, td)
    # RLE compresses runs-heavy content
    flat = bytes(np.repeat(np.arange(20, dtype=np.uint8), 30))
    assert len(_rle8_encode(flat, 60, 10)) < len(flat) // 5
    with _pytest.raises(ValueError):
        encode_bmp_indexed(4, 2, bytes(8), bytes(6), rle=True, top_down=True)
    # hand-built DELTA escape: run of palette[1], delta (2,1), EOB —
    # every skipped cell must read palette[0]
    stream = bytes([2, 1, 0, 2, 2, 1, 0, 1])
    quads = bytes([7, 8, 9, 0, 30, 20, 10, 0])
    info = struct.pack(
        "<IiiHHIIiiII", 40, 4, 2, 1, 8, 1, len(stream), 2835, 2835, 2, 0
    )
    off = 14 + 40 + len(quads)
    blob = (
        struct.pack("<2sIHHI", b"BM", off + len(stream), 0, 0, off)
        + info + quads + stream
    )
    w, h, c, px = _decode_bmp(blob)
    a = np.frombuffer(px, np.uint8).reshape(2, 4, 3)
    assert a[1, 0].tolist() == [10, 20, 30] and a[1, 1].tolist() == [10, 20, 30]
    assert a[0, 0].tolist() == [9, 8, 7]


def test_bmp_codec_roundtrip():
    """24-bit BI_RGB BMP: both row orientations (positive biHeight =
    bottom-up, negative = top-down) must decode to identical RGB pixels,
    across every 4-byte row-padding residue (w mod 4 in 0..3); palette /
    compressed BMPs raise the documented NotImplementedError hook."""
    import struct

    import numpy as np
    import pytest as _pytest

    from parquet_storage_query_spark.operators.multimodal import (
        decode_image,
        encode_bmp,
    )

    rng = np.random.RandomState(11)
    for w, h in ((5, 4), (6, 3), (7, 2), (8, 5), (1, 1)):
        px = rng.randint(0, 256, size=w * h * 3).astype(np.uint8).tobytes()
        for td in (False, True):
            assert decode_image(encode_bmp(w, h, px, top_down=td)) == (w, h, 3, px)

    # swizzle sensitivity: a solid-red image must decode with R first
    red = bytes([200, 10, 30]) * 12
    _, _, _, out = decode_image(encode_bmp(4, 3, red))
    assert out[:3] == bytes([200, 10, 30])

    # 8-bit palette and RLE8 are REAL paths as of r11 (see
    # test_bmp_indexed_roundtrip); the remaining documented hooks are
    # the other depths/compressions — and a truncated palette is loud
    blob = bytearray(encode_bmp(4, 3, bytes(36)))
    blob[28:30] = struct.pack("<H", 4)  # biBitCount = 4 (RLE4 family)
    with _pytest.raises(NotImplementedError):
        decode_image(bytes(blob))
    blob = bytearray(encode_bmp(4, 3, bytes(36)))
    blob[30:34] = struct.pack("<I", 2)  # biCompression = BI_RLE4
    with _pytest.raises(NotImplementedError):
        decode_image(bytes(blob))
    blob = bytearray(encode_bmp(4, 3, bytes(36)))
    blob[28:30] = struct.pack("<H", 8)  # 8-bit but no palette bytes
    with _pytest.raises(ValueError):
        decode_image(bytes(blob))


def test_adpcm_codec_matches_scalar_reference():
    """IMA-ADPCM: the vectorized block-matrix decoder must match an
    independent scalar implementation of the IMA reference recurrence
    (bit-serial vpdiff, per-nibble step adaption, clamps) nibble for
    nibble — the same recurrence the registered query's recursive-CTE
    oracle replays in SQL. Stereo / wrong-bit-depth ADPCM raises the
    documented hook."""
    import struct

    import pytest as _pytest

    from parquet_storage_query_spark.operators.multimodal import (
        ADPCM_ALIGN,
        IMA_INDEX_ADJ,
        IMA_STEPS,
        _adpcm_fixture,
        decode_audio,
        encode_wav_adpcm,
    )

    def ref(blob):
        # scalar state machine straight from the IMA recommended practice
        pos, align, body = 12, None, None
        while pos + 8 <= len(blob):
            ctype = blob[pos : pos + 4]
            (length,) = struct.unpack("<I", blob[pos + 4 : pos + 8])
            if ctype == b"fmt ":
                align = struct.unpack("<H", blob[pos + 20 : pos + 22])[0]
            elif ctype == b"data":
                body = blob[pos + 8 : pos + 8 + length]
            pos += 8 + length + (length & 1)
        out = []
        for s in range(len(body) // align):
            blk = body[s * align : (s + 1) * align]
            pred = struct.unpack("<h", blk[:2])[0]
            idx = blk[2]
            out.append(pred)
            for t in range((align - 4) * 2):
                byte = blk[4 + t // 2]
                nib = byte & 15 if t % 2 == 0 else byte >> 4
                step = IMA_STEPS[idx]
                vp = (step >> 3)
                if nib & 4:
                    vp += step
                if nib & 2:
                    vp += step >> 1
                if nib & 1:
                    vp += step >> 2
                pred = max(-32768, min(32767, pred - vp if nib & 8 else pred + vp))
                idx = max(0, min(88, idx + IMA_INDEX_ADJ[nib]))
                out.append(pred)
        return out

    for d in (0, 1, 5, 88, 497):
        blob = _adpcm_fixture(d)
        rate, ch, samples = decode_audio(blob)
        assert (rate, ch) == (8000, 1)
        assert samples == ref(blob), f"doc {d}"

    # fixture geometry sanity: 65 samples per 36-byte block
    assert len(decode_audio(_adpcm_fixture(7))[2]) % ((ADPCM_ALIGN - 4) * 2 + 1) == 0

    # documented hook: stereo ADPCM is unsupported
    bad = bytearray(encode_wav_adpcm(8000, ADPCM_ALIGN, bytes(ADPCM_ALIGN)))
    bad[22:24] = struct.pack("<H", 2)  # nChannels = 2
    with _pytest.raises(NotImplementedError):
        decode_audio(bytes(bad))


def test_tiff_codec_roundtrip_matrix():
    """TIFF: the full option grid (LZW/uncompressed x horizontal-
    predictor/none x II/MM byte order x strip sizes) must round-trip
    bit-for-bit; the TIFF LZW dialect must differ from GIF's on the wire
    (MSB-first + EarlyChange vs LSB-first); unsupported shapes raise the
    documented hooks."""
    import numpy as np
    import pytest as _pytest

    from parquet_storage_query_spark.operators import gif as gif_mod
    from parquet_storage_query_spark.operators.multimodal import decode_image
    from parquet_storage_query_spark.operators.tiff import (
        _lzw_decode,
        _lzw_encode,
        decode_tiff,
        encode_tiff,
    )

    rng = np.random.RandomState(9)
    for w, h in ((6, 5), (11, 3), (1, 1)):
        px = bytes(rng.randint(0, 256, size=w * h * 3, dtype=np.uint8))
        for comp in (1, 5, 32773):  # + PackBits, round 11
            for pred in (1, 2):
                for be in (False, True):
                    for rps in (2, 64):
                        blob = encode_tiff(w, h, px, comp, pred, be, rps)
                        assert decode_tiff(blob) == (w, h, 3, px)
                        # decode_image dispatches on the TIFF magic too
                        assert decode_image(blob) == (w, h, 3, px)
    # PackBits specifics: replicate-run-heavy rows (the RLE win case),
    # the 128 no-op byte, and truncation loudness
    from parquet_storage_query_spark.operators.tiff import (
        _packbits_decode,
        _packbits_encode,
    )

    flat = bytes(np.repeat(rng.randint(0, 256, 60), 11).astype(np.uint8))[:600]
    blob = encode_tiff(10, 20, flat, 32773, 1, False, 4)
    assert decode_tiff(blob) == (10, 20, 3, flat)
    assert len(_packbits_encode(flat, 30)) < len(flat) // 3  # RLE actually wins
    assert _packbits_decode(bytes([0x80])) == b""  # spec no-op
    with _pytest.raises(ValueError):
        _packbits_decode(bytes([0x05, 0x01]))  # truncated literal
    with _pytest.raises(ValueError):
        _packbits_decode(bytes([0xFE]))  # truncated replicate

    # LZW stress: 12-bit widths + table-full CLEAR (needs >4k entries)
    big = bytes(rng.randint(0, 256, size=50_000, dtype=np.uint8))
    assert _lzw_decode(_lzw_encode(big)) == big
    runs = bytes(np.repeat(rng.randint(0, 256, 4000), 13).astype(np.uint8))
    assert _lzw_decode(_lzw_encode(runs)) == runs

    # dialect pin: the SAME byte payload compresses to DIFFERENT wire
    # bytes under TIFF LZW (MSB-first, EarlyChange) and GIF LZW
    # (LSB-first, sub-block framing stripped for comparison)
    payload = np.frombuffer((b"spark" * 40), dtype=np.uint8)
    tiff_wire = _lzw_encode(payload.tobytes())
    gif_wire = gif_mod._lzw_encode(payload.astype(np.int64), 8)
    assert tiff_wire != gif_wire

    # documented hooks
    base = encode_tiff(4, 3, bytes(36), compression=1)
    tiled = bytearray(base)
    # rewrite tag 256 (first IFD entry) to 322 TileWidth to fake a tiled file
    import struct as _s

    off = 8 + 2
    tiled[off : off + 2] = _s.pack("<H", 322)
    with _pytest.raises(NotImplementedError):
        decode_tiff(bytes(tiled))
    with _pytest.raises(ValueError):
        decode_tiff(b"XX\x00\x00garbage")


def test_jsonl_stream_reader_offset_protocol(tmp_path):
    """JsonlCorpusStreamReader unit contract: name-ordered offsets
    advance at most BATCH_FILES shards per read, readBetweenOffsets
    replays exactly the [start, end) file range (the post-crash replay
    path), hidden/staged files stay invisible, and the returned iterator
    is copyable (the runner's prefetch cache requires it)."""
    import copy
    import gzip
    import json

    from parquet_storage_query_spark.sources.jsonl_source import (
        JsonlCorpusStreamReader,
    )

    def shard(name, ids):
        with gzip.open(tmp_path / name, "wt", encoding="utf-8") as fh:
            for i in ids:
                fh.write(json.dumps({
                    "doc_id": i, "text": f"t{i}", "lang": "en",
                    "source": "s", "n_chars": 2,
                }) + "\n")

    for k in range(6):  # 6 shards of 2 docs
        shard(f"shard-{k:04d}.json.gz", [2 * k, 2 * k + 1])
    shard("_staged_x.json.gz", [999])  # must stay invisible
    (tmp_path / ".hidden.json").write_text("{}")

    r = JsonlCorpusStreamReader({"path": str(tmp_path)})
    off0 = r.initialOffset()
    assert off0 == {"n": 0, "last": ""}
    it1, off1 = r.read(off0)
    rows1 = list(copy.copy(it1))  # prefetch-cache copyability
    assert off1 == {"n": 4, "last": "shard-0003.json.gz"}  # BATCH_FILES cap
    assert [t[0] for t in rows1] == list(range(8))
    it2, off2 = r.read(off1)
    assert off2 == {"n": 6, "last": "shard-0005.json.gz"}
    assert [t[0] for t in it2] == [8, 9, 10, 11]
    # drained: offset stable, no rows
    it3, off3 = r.read(off2)
    assert off3 == off2 and list(it3) == []
    # replay: exact [start, end) range (named + legacy index-only offsets)
    again = [
        t[0]
        for t in r.readBetweenOffsets(
            {"n": 2, "last": "shard-0001.json.gz"},
            {"n": 5, "last": "shard-0004.json.gz"},
        )
    ]
    assert again == [4, 5, 6, 7, 8, 9]
    assert all(t != 999 for t in again)
    legacy = [t[0] for t in r.readBetweenOffsets({"n": 2}, {"n": 5})]
    assert legacy == again  # pre-r10 checkpoints still replay

    # CONTRACT ENFORCEMENT (ADVICE r9): a shard appearing BEFORE the
    # consumed cursor breaks the name-monotonic-growth contract — the
    # reader must fail loudly, not silently shift the [start, end) map
    shard("shard-0000a.json.gz", [100, 101])  # sorts between 0000 and 0001
    import pytest as _pt

    with _pt.raises(RuntimeError, match="name-monotonic-growth"):
        r.read(off1)
    with _pt.raises(RuntimeError, match="name-monotonic-growth"):
        r.readBetweenOffsets(
            {"n": 2, "last": "shard-0001.json.gz"},
            {"n": 5, "last": "shard-0004.json.gz"},
        )


def test_jsonl_stream_writer_epoch_replay_idempotent(tmp_path):
    """JsonlCorpusStreamWriter unit contract: committing the SAME epoch
    twice (post-crash replay) replaces that epoch's shards instead of
    duplicating them; orphaned staged files OF THIS RUN are swept at
    commit while a concurrent run's staged files survive untouched
    (ADVICE r9 — the sweep is run-token-scoped so a zombie or second
    query writing to the same directory is never clobbered); a
    different epoch's output is untouched."""
    import gzip
    import os

    from parquet_storage_query_spark.sources.jsonl_source import (
        JsonlCorpusStreamWriter,
        StreamShardCommit,
    )

    w = JsonlCorpusStreamWriter({"path": str(tmp_path)})
    run = w.run_token

    def stage(name, payload):
        p = tmp_path / name
        with gzip.open(p, "wt", encoding="utf-8") as fh:
            fh.write(payload + "\n")
        return str(p)

    # epoch 3, attempt 1: two tasks + one orphaned (lost-attempt) stage
    # of THIS run + one in-flight stage of a CONCURRENT run
    m0 = StreamShardCommit(stage(f"_staged_s{run}_00000_aaa.json.gz", "a0"), 0, 1)
    m1 = StreamShardCommit(stage(f"_staged_s{run}_00001_bbb.json.gz", "b0"), 1, 1)
    stage(f"_staged_s{run}_00001_lost.json.gz", "zz")  # this run's orphan
    stage("_staged_sdeadbeef0000_00000_qqq.json.gz", "other")  # foreign run
    w.commit([m0, m1], 3)
    names = sorted(os.listdir(tmp_path))
    assert names == [
        "_staged_sdeadbeef0000_00000_qqq.json.gz",  # foreign stage survives
        "part-e000003-00000.json.gz",
        "part-e000003-00001.json.gz",
    ]

    # unrelated epoch 4 publishes one shard
    m4 = StreamShardCommit(stage(f"_staged_s{run}_00000_ccc.json.gz", "c0"), 0, 1)
    w.commit([m4], 4)

    # epoch 3 REPLAYED with different attempt tokens: must replace its
    # own two shards, leave epoch 4 alone, end with no staged files
    r0 = StreamShardCommit(stage(f"_staged_s{run}_00000_ddd.json.gz", "a1"), 0, 1)
    r1 = StreamShardCommit(stage(f"_staged_s{run}_00001_eee.json.gz", "b1"), 1, 1)
    w.commit([r0, r1], 3)
    names = sorted(os.listdir(tmp_path))
    assert names == [
        "_staged_sdeadbeef0000_00000_qqq.json.gz",
        "part-e000003-00000.json.gz",
        "part-e000003-00001.json.gz",
        "part-e000004-00000.json.gz",
    ]
    with gzip.open(tmp_path / "part-e000003-00000.json.gz", "rt") as fh:
        assert fh.read().strip() == "a1"  # the replayed content won

    # abort removes whatever the failed attempt staged
    bad = StreamShardCommit(stage(f"_staged_s{run}_00002_fff.json.gz", "x"), 2, 1)
    w.abort([bad, None], 5)
    left = [n for n in os.listdir(tmp_path) if n.startswith("_staged_")]
    assert left == ["_staged_sdeadbeef0000_00000_qqq.json.gz"]


def test_jpeg_arith_progressive_roundtrip():
    """Arithmetic-coded PROGRESSIVE (SOF10) decode — the round-10
    composition of the QM coder with the Annex-G scan kinds, pinned
    three ways:
    (1) constant-block fixtures decode BIT-IDENTICALLY to the baseline
        (SOF0) encoding of the same values across the full value range
        and restart intervals 0/1/2 (per-scan QM resync) — the
        construction mm_decode_jpeg_arith_prog's closed-form oracle
        replays, covering the split-DC two's-complement reassembly for
        both DPCM signs;
    (2) sparse RANDOM coefficient blocks through the four-scan script
        (DC first Al=1, DC refine, AC first Al=1, AC refine Ah=1 Al=0 —
        newly-significant decisions, fixed-bin signs, correction bits,
        EOBx gating) decode to exactly the HUFFMAN progressive (SOF2)
        decode of the same blocks — two independent entropy layers, one
        coefficient truth;
    (3) the frame dispatches: SOF10 marker + DAC segment present."""
    import numpy as np

    from parquet_storage_query_spark.operators.jpeg import (
        _encode_progressive_coeff_blocks,
        decode_jpeg,
        encode_jpeg_blocks,
    )
    from parquet_storage_query_spark.operators.jpeg_arith import (
        _encode_arith_prog_coeff_blocks,
        encode_jpeg_arith_progressive,
    )
    from parquet_storage_query_spark.operators.multimodal import decode_image

    rng = np.random.default_rng(10)
    # (1) constant blocks == baseline decode, across restart intervals
    for dri in (0, 1, 2):
        vals = [0, 255, 1, 254, 128, 127] + rng.integers(0, 256, 6).tolist()
        data = encode_jpeg_arith_progressive(3, 4, vals, restart_interval=dri)
        assert b"\xff\xca" in data and b"\xff\xcc" in data  # SOF10 + DAC
        if dri:
            assert any(
                data[i] == 0xFF and 0xD0 <= data[i + 1] <= 0xD7
                for i in range(len(data) - 1)
            ), "stream must actually contain RST markers"
        got = decode_image(data)  # dispatch via magic
        ref = decode_jpeg(encode_jpeg_blocks(3, 4, vals))
        assert got == ref, f"dri={dri}"
    # (2) sparse random coefficients: SOF10 decode == SOF2 decode
    for _ in range(8):
        blocks = []
        for _b in range(6):
            blk = np.zeros((8, 8), dtype=np.int64)
            blk[0, 0] = int(rng.integers(-31, 32))
            nnz = int(rng.integers(0, 14))
            for _k in range(nnz):
                blk[int(rng.integers(0, 8)), int(rng.integers(0, 8))] = int(
                    rng.integers(-31, 32)
                )
            blocks.append(blk)
        out_ar = decode_jpeg(_encode_arith_prog_coeff_blocks(blocks, 3, 2))
        out_hu = decode_jpeg(_encode_progressive_coeff_blocks(blocks, 3, 2))
        assert out_ar == out_hu


def test_jpeg_lossless_roundtrip():
    """Lossless (SOF3) decode — T.81 Annex H predictive DPCM (round 10):
    (1) random 8-bit images round-trip BIT-EXACTLY through every one of
        the seven Table-H.1 predictors, with and without line-aligned
        restart intervals (which reset prediction to first-line rules);
    (2) extreme values (0/255 checkerboard) survive predictor 4's
        out-of-range intermediate predictions via mod-2^16 wrap;
    (3) decode_image dispatches; multi-line restart contract and bad
        predictors fail loudly."""
    import numpy as np
    import pytest as _pytest

    from parquet_storage_query_spark.operators.jpeg import (
        decode_jpeg,
        encode_jpeg_lossless,
    )
    from parquet_storage_query_spark.operators.multimodal import decode_image

    rng = np.random.default_rng(11)
    for pred in range(1, 8):
        for dri_rows in (0, 1, 2):
            w, h = int(rng.integers(3, 14)), int(rng.integers(3, 11))
            pix = rng.integers(0, 256, w * h).tolist()
            data = encode_jpeg_lossless(
                w, h, pix, predictor=pred, restart_interval=dri_rows * w
            )
            assert b"\xff\xc3" in data
            gw, gh, gc, gpx = decode_image(data)
            assert (gw, gh, gc) == (w, h, 1)
            assert list(gpx) == pix, (pred, dri_rows)
    # (2) extremes through the widest-range predictor
    board = [0 if (r + c) % 2 == 0 else 255 for r in range(6) for c in range(5)]
    _, _, _, gpx = decode_jpeg(encode_jpeg_lossless(5, 6, board, predictor=4))
    assert list(gpx) == board
    # (3) loud failures
    with _pytest.raises(ValueError):
        encode_jpeg_lossless(4, 2, [0] * 8, predictor=9)
    with _pytest.raises(ValueError):
        encode_jpeg_lossless(4, 2, [0] * 8, restart_interval=3)  # mid-line
    # (4) a stream truncated exactly mid-restart-marker must raise the
    # parser's uniform ValueError, never IndexError (ADVICE r10 #4)
    full = encode_jpeg_lossless(4, 3, list(range(12)), restart_interval=4)
    rst = full.index(b"\xff\xd0", 2)
    with _pytest.raises(ValueError):
        decode_jpeg(full[: rst + 1])


def test_jpeg_lossless_arith_roundtrip():
    """Lossless ARITHMETIC (SOF11) decode — the Annex-H predictive scan
    through the QM coder with the §H.1.2.2 two-dimensional conditioning
    (25 (Da, Db) contexts + dual magnitude banks): random 8-bit images
    round-trip BIT-EXACTLY through all seven predictors with 0/1/2-row
    restart intervals (restarts reset the QM state, the 158-bin
    statistics, the conditioning diffs, and prediction); extremes
    survive via mod-2^16 wrap; bad predictors and mid-line restarts
    fail loudly like the Huffman twin."""
    import numpy as np
    import pytest as _pytest

    from parquet_storage_query_spark.operators.jpeg import decode_jpeg
    from parquet_storage_query_spark.operators.jpeg_arith import (
        encode_jpeg_lossless_arith,
    )

    rng = np.random.default_rng(13)
    for pred in range(1, 8):
        for dri_rows in (0, 1, 2):
            w, h = int(rng.integers(3, 14)), int(rng.integers(3, 11))
            pix = rng.integers(0, 256, w * h).tolist()
            data = encode_jpeg_lossless_arith(
                w, h, pix, predictor=pred, restart_interval=dri_rows * w
            )
            assert b"\xff\xcb" in data and b"\xff\xcc" in data
            gw, gh, gc, gpx = decode_jpeg(data)
            assert (gw, gh, gc) == (w, h, 1)
            assert list(gpx) == pix, (pred, dri_rows)
    board = [0 if (r + c) % 2 == 0 else 255 for r in range(6) for c in range(5)]
    _, _, _, gpx = decode_jpeg(encode_jpeg_lossless_arith(5, 6, board, predictor=4))
    assert list(gpx) == board
    with _pytest.raises(ValueError):
        encode_jpeg_lossless_arith(4, 2, [0] * 8, predictor=9)
    with _pytest.raises(ValueError):
        encode_jpeg_lossless_arith(4, 2, [0] * 8, restart_interval=3)


def test_jpeg_lossless_high_precision_roundtrip():
    """T.81 lossless at P > 8 (the DICOM 12/16-bit shape): random images
    round-trip bit-exactly through BOTH entropy layers — Huffman SOF3
    needs the 17-symbol SSSS table (a 16-bit DPCM diff reaches category
    16, the no-magnitude-bits 32768 escape) and arithmetic SOF11's
    magnitude ladder peaks at X15 — with uint16 output planes, the
    midpoint default 2^(P-1), and mod-2^16 wrap at full range. DCT
    modes accept 8/12 only (12-bit DCT has its own roundtrip test):
    baseline SOF0 at 12 bits is a loud ValueError (illegal per T.81
    Table B.2) and 16-bit DCT a loud NotImplementedError."""
    import numpy as np
    import pytest as _pytest

    from parquet_storage_query_spark.operators.jpeg import (
        decode_jpeg,
        encode_jpeg_blocks,
        encode_jpeg_lossless,
    )
    from parquet_storage_query_spark.operators.jpeg_arith import (
        encode_jpeg_lossless_arith,
    )

    rng = np.random.default_rng(29)
    for prec in (12, 16):
        for pred in (1, 4, 7):
            w, h = int(rng.integers(3, 12)), int(rng.integers(3, 9))
            pix = rng.integers(0, 1 << prec, w * h).tolist()
            for enc in (encode_jpeg_lossless, encode_jpeg_lossless_arith):
                gw, gh, gc, px = decode_jpeg(
                    enc(w, h, pix, predictor=pred, precision=prec)
                )
                assert (gw, gh, gc) == (w, h, 1)
                assert np.frombuffer(px, dtype=np.uint16).tolist() == pix, (
                    prec, pred, enc.__name__,
                )
    # full-range 16-bit checkerboard through the widest predictor (wrap
    # stress: intermediates overflow int16 on both sides of zero)
    board = [0 if (r + c) % 2 == 0 else 65535 for r in range(6) for c in range(5)]
    for enc in (encode_jpeg_lossless, encode_jpeg_lossless_arith):
        _, _, _, px = decode_jpeg(enc(5, 6, board, predictor=4, precision=16))
        assert np.frombuffer(px, dtype=np.uint16).tolist() == board
    # DCT precision contract: baseline SOF0 is 8-bit BY DEFINITION
    # (byte-patching 12 into a SOF0 header is an illegal stream ->
    # ValueError), and precisions outside {8, 12} stay loud hooks
    dct12_sof0 = encode_jpeg_blocks(1, 1, [42]).replace(
        b"\xff\xc0\x00\x0b\x08", b"\xff\xc0\x00\x0b\x0c", 1
    )
    with _pytest.raises(ValueError, match="baseline"):
        decode_jpeg(dct12_sof0)
    dct16 = encode_jpeg_blocks(1, 1, [42], precision=12).replace(
        b"\xff\xc1\x00\x0b\x0c", b"\xff\xc1\x00\x0b\x10", 1
    )
    with _pytest.raises(NotImplementedError, match="8 or 12"):
        decode_jpeg(dct16)
    with _pytest.raises(ValueError):
        encode_jpeg_lossless(4, 2, [0] * 8, precision=17)


def test_jpeg12_dct_roundtrip():
    """12-bit DCT modes (T.81 extended precision, VERDICT r10's last
    documented DCT boundary): constant-block fixtures round-trip exactly
    through SOF1 extended-sequential (restart layouts 0/1/2, DC
    categories up to SSSS 12) and SOF2 progressive (split DC + EOB-run
    AC at 12 bits), via the Pq=1 16-bit DQT wire format — the fixture's
    AC steps exceed 255 so an 8-bit table parse cannot pass — with
    uint16 planes clamped to 4095 and level shift 2048 — and (round 11
    third session) through SOF9/SOF10, the ARITHMETIC twins, closing
    the last in-container T.81 boundary."""
    import numpy as np
    import pytest as _pytest

    from parquet_storage_query_spark.operators.jpeg import (
        decode_jpeg,
        encode_jpeg_blocks,
        encode_jpeg_progressive,
    )

    rng = np.random.default_rng(31)
    for trial in range(3):
        bw, bh = int(rng.integers(1, 4)), int(rng.integers(1, 4))
        vals = rng.integers(0, 4096, bw * bh).tolist()
        # extremes: full range and the level-shift midpoint
        vals[0] = [0, 4095, 2048][trial]
        streams = [encode_jpeg_progressive(bw, bh, vals, precision=12)] + [
            encode_jpeg_blocks(bw, bh, vals, restart_interval=ri, precision=12)
            for ri in (0, 1, 2)
        ]
        for data in streams:
            w, h, n, planes = decode_jpeg(data, components=True)
            assert (w, h, n) == (bw * 8, bh * 8, 1)
            assert planes[0].dtype == np.uint16
            for i, v in enumerate(vals):
                by, bx = divmod(i, bw)
                blk = planes[0][by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8]
                assert (blk == v).all(), (trial, i, v)
    # 12-bit ARITHMETIC DCT (the gate this test used to pin as a loud
    # hook, closed now that the QM fixture encoders are
    # precision-parameterized): the same extremes sweep through SOF9
    # extended-sequential (restart layouts 0/1/2) and SOF10 progressive
    from parquet_storage_query_spark.operators.jpeg_arith import (
        encode_jpeg_arith_blocks,
        encode_jpeg_arith_progressive,
    )

    for trial in range(3):
        bw, bh = int(rng.integers(1, 4)), int(rng.integers(1, 4))
        vals = rng.integers(0, 4096, bw * bh).tolist()
        vals[0] = [0, 4095, 2048][trial]
        streams = [encode_jpeg_arith_progressive(bw, bh, vals, precision=12)] + [
            encode_jpeg_arith_blocks(bw, bh, vals, restart_interval=ri, precision=12)
            for ri in (0, 1, 2)
        ]
        for data in streams:
            w, h, n, planes = decode_jpeg(data, components=True)
            assert (w, h, n) == (bw * 8, bh * 8, 1)
            assert planes[0].dtype == np.uint16
            for i, v in enumerate(vals):
                by, bx = divmod(i, bw)
                blk = planes[0][by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8]
                assert (blk == v).all(), ("arith", trial, i, v)


def test_jpeg_hierarchical_all_differential_kinds():
    """All six T.81 differential frame types reconstruct the identical
    closed form v0 + r(b) inside the same DHP/EXP hierarchical walk:
    SOF5/6/7 (Huffman sequential / progressive / lossless) and
    SOF13/14/15 (their arithmetic twins). The progressive kinds
    genuinely span two scans (DC then AC) and finalize at the EOI frame
    boundary; the lossless kinds code per-SAMPLE residuals mod 2^16.
    This closes the last frame-type hooks (VERDICT r10 missing #3)."""
    import numpy as np

    from parquet_storage_query_spark.operators.jpeg import (
        decode_jpeg,
        encode_jpeg_hierarchical,
    )

    bw, bh = 2, 2
    v0 = 103
    res = [((i * 29 + 5) % 121) - 60 for i in range(4 * bw * bh)]
    want = np.zeros((16 * bh, 16 * bw), dtype=np.int64)
    for b, r in enumerate(res):
        by, bx = divmod(b, 2 * bw)
        want[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8] = v0 + r
    want = np.clip(want, 0, 255)
    markers = {
        "sof5": b"\xff\xc5", "sof6": b"\xff\xc6", "sof7": b"\xff\xc7",
        "sof13": b"\xff\xcd", "sof14": b"\xff\xce", "sof15": b"\xff\xcf",
    }
    for kind, mk in markers.items():
        data = encode_jpeg_hierarchical(bw, bh, v0, res, kind=kind)
        assert mk in data, kind
        gw, gh, _gc, gpx = decode_jpeg(data)
        got = np.frombuffer(gpx, dtype=np.uint8).reshape(gh, gw).astype(np.int64)
        assert np.array_equal(got, want), kind
        # the progressive kinds must really carry TWO scans in the frame
        if kind in ("sof6", "sof14"):
            assert data.count(b"\xff\xda") == 3, kind  # initial + DC + AC


def test_jpeg_hierarchical_roundtrip():
    """Hierarchical decode (T.81 Annex J, round 10) — three surfaces:
    (1) the J.8 expansion filter equals a LOOP-WRITTEN replay (even
        positions copy, odd positions neighbor-mean with +1 rounding,
        edge replication) on random images including 1-wide/1-tall;
    (2) constant-reference fixtures decode to exactly v0 + residual per
        full-res block (the registered oracle's closed form), with DHP /
        EXP / SOF5 markers genuinely present;
    (3) NON-constant blocky references compose expansion averaging with
        the differential frame: decode equals expand(reference) +
        residual grid, clamped — the path the registered fixture's
        constant reference cannot reach;
    (4) loud failures: EXP before any frame, differential frame whose
        dims don't match the reference."""
    import numpy as np
    import pytest as _pytest

    from parquet_storage_query_spark.operators.jpeg import (
        _exp_expand,
        decode_jpeg,
        encode_jpeg_hierarchical,
    )

    rng = np.random.default_rng(12)
    # (1) expansion vs loop replay
    for _ in range(6):
        h, w = int(rng.integers(1, 9)), int(rng.integers(1, 9))
        a = rng.integers(0, 256, (h, w)).astype(np.int64)
        got = _exp_expand(a, 1, 1)
        eh = np.empty((h, 2 * w), dtype=np.int64)
        for r in range(h):
            for c in range(w):
                eh[r, 2 * c] = a[r, c]
                eh[r, 2 * c + 1] = (
                    (a[r, c] + a[r, c + 1] + 1) // 2 if c < w - 1 else a[r, c]
                )
        want = np.empty((2 * h, 2 * w), dtype=np.int64)
        for c in range(2 * w):
            for r in range(h):
                want[2 * r, c] = eh[r, c]
                want[2 * r + 1, c] = (
                    (eh[r, c] + eh[r + 1, c] + 1) // 2 if r < h - 1 else eh[r, c]
                )
        assert (got == want).all()
    # (2) constant-reference fixture
    data = encode_jpeg_hierarchical(2, 1, 100, [-60, 0, 33, 60, -1, 7, 12, 25])
    assert b"\xff\xde" in data and b"\xff\xdf" in data and b"\xff\xc5" in data
    w, h, c, px = decode_jpeg(data)
    assert (w, h, c) == (32, 16, 1)
    arr = np.frombuffer(px, dtype=np.uint8).reshape(h, w)
    for b, r in enumerate([-60, 0, 33, 60, -1, 7, 12, 25]):
        by, bx = divmod(b, 4)
        assert (arr[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8] == 100 + r).all()
    # (3) blocky reference + residuals, vs the (1)-verified expansion
    for _ in range(4):
        bw, bh = int(rng.integers(1, 4)), int(rng.integers(1, 4))
        v0s = rng.integers(70, 186, bh * bw).tolist()
        res = rng.integers(-60, 61, 4 * bh * bw).tolist()
        gw, gh, _, gpx = decode_jpeg(encode_jpeg_hierarchical(bw, bh, v0s, res))
        got = np.frombuffer(gpx, dtype=np.uint8).reshape(gh, gw).astype(np.int64)
        low = np.zeros((8 * bh, 8 * bw), dtype=np.int64)
        for b, v in enumerate(v0s):
            by, bx = divmod(b, bw)
            low[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8] = v
        want = _exp_expand(low, 1, 1).astype(np.float64)
        for b, r in enumerate(res):
            by, bx = divmod(b, 2 * bw)
            want[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8] += r
        assert (got == np.clip(np.round(want), 0, 255).astype(np.int64)).all()
    # (4) loud failures
    good = encode_jpeg_hierarchical(1, 1, 100, [0, 0, 0, 0])
    exp_at = good.index(b"\xff\xdf")
    no_init = good[:2] + good[exp_at:]  # SOI straight to EXP
    with _pytest.raises(ValueError):
        decode_jpeg(no_init)
    with _pytest.raises(ValueError):
        # drop the EXP: differential dims no longer match the reference
        decode_jpeg(good[:exp_at] + good[exp_at + 5 :])


def test_shapley_attribution_efficiency_axiom(spark):
    """Σ_c φ_c = v(full) − v(∅) must hold EXACTLY on the ×24 lattice —
    the Shapley efficiency axiom is the structural invariant that
    catches a wrong coalition weight or a miscounted marginal term
    (both would still produce plausible-looking per-channel numbers)."""
    from parquet_storage_query_spark.operators.events import (
        events_attribution_shapley,
    )
    from .conftest import SF_SMOKE
    import pyspark.sql.functions as F

    from parquet_storage_query_spark.catalog import load

    rows = events_attribution_shapley(spark, SF_SMOKE).collect()
    total = sum(r.phi_e24 for r in rows)
    ev = load(spark, SF_SMOKE, "events").select(
        "user_id", "event_type", F.unix_micros("ts").alias("us")
    )
    fp = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.min("us").alias("fp_us"))
    )
    v_full = (
        fp.join(
            ev.filter(F.col("event_type") != "purchase").withColumnRenamed(
                "user_id", "uid"
            ),
            (F.col("uid") == F.col("user_id")) & (F.col("us") < F.col("fp_us")),
            "left",
        )
        .groupBy("user_id")
        .agg(F.count("uid").alias("n"))
        .filter(F.col("n") > 0)
        .count()
    )
    assert total == 24 * v_full
    assert {r.channel for r in rows} == {"click", "view", "signup", "error"}


def test_geohash_matches_classic_algorithm(spark):
    """ORACLE-INDEPENDENT pin for scalar_geohash: the integer
    quantize-and-interleave formula must reproduce the classic
    binary-search geohash (Niemeyer's reference refinement loop) for
    every row the query emits — the DuckDB oracle shares the integer
    formula, so without this test a shared transcription error would be
    invisible to the differential gate."""
    from parquet_storage_query_spark.functions.scalar import GH_ALPHA, scalar_geohash

    def classic(lat: float, lon: float, length: int = 8) -> str:
        lat_r, lon_r = [-90.0, 90.0], [-180.0, 180.0]
        bits, out, even, b = 0, [], True, 0
        while len(out) < length:
            rng = lon_r if even else lat_r
            mid = (rng[0] + rng[1]) / 2
            v = lon if even else lat
            if v >= mid:
                b = b * 2 + 1
                rng[0] = mid
            else:
                b = b * 2
                rng[1] = mid
            even = not even
            bits += 1
            if bits == 5:
                out.append(GH_ALPHA[b])
                bits = b = 0
        return "".join(out)

    rows = scalar_geohash(spark, "/root/testdata/sf0.001").collect()
    assert len(rows) >= 100
    for r in rows:
        assert r.rt_ok == 1, r.id
        want = classic(r.lat_e6 / 1e6, r.lon_e6 / 1e6)
        assert r.geohash8 == want, (r.id, r.geohash8, want)
        assert r.cell4 == want[:4]


def test_avi_mjpeg_roundtrip_and_loud_failures():
    """AVI/MJPEG container codec: mux real JPEG frames, demux, decode —
    frame ORDER, dims, header/idx1 consistency all pinned; truncated
    and non-AVI streams fail with the parser's uniform ValueError, an
    audio stream with the documented NotImplementedError."""
    import struct

    import numpy as np
    import pytest as _pytest

    from parquet_storage_query_spark.operators.avi import (
        decode_avi_mjpeg,
        encode_avi_mjpeg,
    )
    from parquet_storage_query_spark.operators.jpeg import (
        decode_jpeg,
        encode_jpeg_blocks,
    )

    rng = np.random.default_rng(17)
    for _ in range(3):
        bw, bh = int(rng.integers(1, 4)), int(rng.integers(1, 3))
        nf = int(rng.integers(2, 7))
        vals = [
            [int(v) for v in rng.integers(0, 256, bw * bh)] for _ in range(nf)
        ]
        frames = [encode_jpeg_blocks(bw, bh, v) for v in vals]
        avi = encode_avi_mjpeg(bw * 8, bh * 8, frames)
        d = decode_avi_mjpeg(avi)
        assert d["hdr_n_frames"] == len(d["frames"]) == d["n_idx1"] == nf
        assert (d["hdr_w"], d["hdr_h"]) == (d["bmp_w"], d["bmp_h"]) == (bw * 8, bh * 8)
        for f, jf in enumerate(d["frames"]):
            w, h, _n, planes = decode_jpeg(jf, components=True)
            for b, v in enumerate(vals[f]):
                by, bx = divmod(b, bw)
                blk = planes[0][by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8]
                assert (blk == v).all(), (f, b)

    with _pytest.raises(ValueError, match="not an AVI"):
        decode_avi_mjpeg(b"RIFF\x04\x00\x00\x00WAVE")
    with _pytest.raises(ValueError, match="truncated"):
        decode_avi_mjpeg(avi[:4] + struct.pack("<I", len(avi) * 2) + avi[8:])
    # a stream whose strh declares a non-MJPG vids handler must raise
    # the documented loud hook
    bad = avi.replace(b"vidsMJPG", b"vidsH264", 1)
    with _pytest.raises(NotImplementedError, match="MJPG"):
        decode_avi_mjpeg(bad)


def test_footer_count_on_converted_micros_folder(spark, tmp_path):
    """ref_total_count_meta reads with the schema `load` would use: on an
    events folder written by prep.convert (micros `ts`, not the corpus's
    TIMESTAMP(NANOS)) that is SCHEMAS, and the footer count is the
    folder's row count."""
    from parquet_storage_query_spark.operators.reference import ref_total_count_meta

    src_csv = str(tmp_path / "events_csv")
    sf = tmp_path / "sf"
    events = load(spark, SF_SMOKE, "events")
    events.write.csv(src_csv)
    prep.convert(spark, src_csv, str(sf / "events.parquet"), SCHEMAS["events"])
    n = spark.read.parquet(str(sf / "events.parquet")).count()
    assert n == events.count() > 0
    assert ref_total_count_meta(spark, str(sf)).collect()[0]["cnt"] == n
