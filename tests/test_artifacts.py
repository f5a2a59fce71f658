"""The committed-artifact protocol (cache.ensure_artifact): the hardening
VERDICT r5 asked for — rollup/partitioned/egest artifacts must be
staleness-proof (content-addressed), torn-write-proof (marker-last +
atomic rename), race-proof (threads and colliding sessions), and must
SERVE ACROSS SESSION RESTARTS without rebuilding (the materialized-view
contract the dedup signature index already had)."""

from __future__ import annotations

import os
import threading
import time

import pytest

from parquet_storage_query_spark import cache
from parquet_storage_query_spark.cache import COMMIT_MARKER, ensure_artifact

from .conftest import SF_SMOKE


@pytest.fixture()
def art_env(tmp_path, monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_INDEX_DIR", str(tmp_path / "idx"))
    src = tmp_path / "src"
    src.mkdir()
    (src / "a.parquet").write_bytes(b"data-v1")
    return src


def _clear_memo():
    """Emulate a fresh process/session: the in-memory memo is gone, only
    the filesystem protocol remains."""
    with cache._MEMO_GUARD:
        cache._MEMO.clear()
        cache._KEY_LOCKS.clear()


def test_artifact_commit_reuse_stale_and_torn(spark, art_env):
    src = art_env
    calls: list[str] = []

    def build(dest: str) -> None:
        calls.append(dest)
        os.makedirs(dest, exist_ok=True)
        with open(os.path.join(dest, "part.txt"), "w") as fh:
            fh.write("artifact")

    args = (spark, str(src), "t", "v1", [str(src)])
    p1 = ensure_artifact(*args, build)
    assert os.path.exists(os.path.join(p1, COMMIT_MARKER))
    assert len(calls) == 1

    # restart: a fresh session finds the committed dir and does NOT rebuild
    _clear_memo()
    assert ensure_artifact(*args, build) == p1
    assert len(calls) == 1

    # stale source (driver regenerates the corpus at the same path):
    # digest changes → different dir → rebuilt, old artifact unreachable
    time.sleep(0.01)
    (src / "a.parquet").write_bytes(b"data-v2-regenerated")
    _clear_memo()
    p2 = ensure_artifact(*args, build)
    assert p2 != p1
    assert len(calls) == 2

    # torn write (crash before marker): dir without marker is replaced
    os.remove(os.path.join(p2, COMMIT_MARKER))
    _clear_memo()
    p3 = ensure_artifact(*args, build)
    assert p3 == p2
    assert len(calls) == 3
    assert os.path.exists(os.path.join(p3, COMMIT_MARKER))

    # builder-version bump: new dir too (changed logic never reads old data)
    _clear_memo()
    p4 = ensure_artifact(spark, str(src), "t", "v2", [str(src)], build)
    assert p4 not in (p1, p2)
    assert len(calls) == 4


def test_artifact_concurrent_builders_single_winner(spark, art_env):
    """Eight threads race the same artifact: exactly one build runs in
    process (per-key lock), and whatever interleaving occurs, every
    thread gets the same COMMITTED path — the CORRECTNESS_r05 corruption
    mode (two overwriting writers, mixed output files) is impossible."""
    src = art_env
    built = []

    def build(dest: str) -> None:
        os.makedirs(dest, exist_ok=True)
        time.sleep(0.05)  # widen the race window
        with open(os.path.join(dest, "part.txt"), "w") as fh:
            fh.write("x")
        built.append(dest)

    results: list[str] = []

    def worker():
        results.append(
            ensure_artifact(spark, str(src), "race", "v1", [str(src)], build)
        )

    threads = [threading.Thread(target=worker) for _ in range(8)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert len(set(results)) == 1
    assert len(built) == 1
    assert os.path.exists(os.path.join(results[0], COMMIT_MARKER))


def test_rollup_and_partition_serve_across_restart(spark, tmp_path, monkeypatch):
    """agg_incremental_rollup / prep_partitioned_serve restart contract:
    after a simulated process restart the standing tables serve with NO
    rewrite (any write attempt trips the patched writer) and identical
    fingerprints — the promoted commit-marker protocol in action."""
    import pyspark.sql.readwriter as rw

    from parquet_storage_query_spark.fingerprint import result_fingerprint
    from parquet_storage_query_spark.operators.advanced import (
        agg_incremental_rollup,
        prep_partitioned_serve,
    )

    monkeypatch.setenv("SPARK_GRAFT_INDEX_DIR", str(tmp_path / "idx"))

    def fp(df):
        return result_fingerprint(df.columns, [tuple(r) for r in df.collect()])

    first = {
        "rollup": fp(agg_incremental_rollup(spark, SF_SMOKE)),
        "serve": fp(prep_partitioned_serve(spark, SF_SMOKE)),
    }

    _clear_memo()
    real_parquet = rw.DataFrameWriter.parquet

    def no_write(self, *a, **kw):  # noqa: ANN001
        raise AssertionError("restart serving must not rebuild the artifact")

    monkeypatch.setattr(rw.DataFrameWriter, "parquet", no_write)
    try:
        second = {
            "rollup": fp(agg_incremental_rollup(spark, SF_SMOKE)),
            "serve": fp(prep_partitioned_serve(spark, SF_SMOKE)),
        }
    finally:
        monkeypatch.setattr(rw.DataFrameWriter, "parquet", real_parquet)
    assert second == first


def test_marker_commit_order_survives_migration_and_copies(tmp_path):
    """Commit order from marker names: legacy (un-prefixed, mtime-ordered)
    markers sort BEFORE seq-prefixed ones appended after migration, and
    rewriting every mtime (a restore/rsync) must not reorder the
    seq-prefixed history (review finding + ADVICE r5)."""
    import os
    import time

    from parquet_storage_query_spark.operators.dedup import committed_versions

    dest = tmp_path / "idx"
    d = dest / "_committed"
    d.mkdir(parents=True)
    (d / "bbb").touch()  # legacy marker, committed first
    time.sleep(0.01)
    (d / "aaa").touch()  # legacy marker, committed second (later mtime)
    (d / "000003-ccc").touch()  # post-migration appends
    (d / "000004-ddd").touch()
    assert committed_versions(str(dest)) == ["bbb", "aaa", "ccc", "ddd"]

    # "restore": set every mtime to the same instant — order must hold
    # for the seq-prefixed tail regardless
    now = time.time()
    for n in os.listdir(d):
        os.utime(d / n, (now, now))
    assert committed_versions(str(dest))[2:] == ["ccc", "ddd"]


def _data_file_count(path: str) -> int:
    """Count data files (non-hidden, non-marker) under an artifact dir."""
    import os

    n = 0
    for root, _dirs, names in os.walk(path):
        for name in names:
            if not name.startswith(("_", ".")) and not name.endswith(".crc"):
                n += 1
    return n


@pytest.mark.slow
def test_fixture_artifacts_are_sharded(spark, tmp_path, monkeypatch):
    """Shard-count regression guard (VERDICT r8 next-round #5): the 30x
    probe twice caught 1-2-file fixture tables serializing an entire
    decode family (decode parallelism is pinned to the file count — the
    one-mapper trap). Every entry of the binary fixture table must build
    at least the 8-file floor of `_fixture_shards`, so a future builder
    edit that drops the repartition fails HERE instead of in a 10x bench.
    The builds go to a fresh index dir with the memo cleared (it is keyed
    by tag and digest, not by dir), so the builder runs instead of a
    committed copy being served. A deliberately unsharded artifact is the
    red-path control."""
    from parquet_storage_query_spark.operators.multimodal import (
        _FIXTURES,
        _binary_fixture,
    )

    idx = tmp_path / "idx"
    monkeypatch.setenv("SPARK_GRAFT_INDEX_DIR", str(idx))
    _clear_memo()
    try:
        assert len(_FIXTURES) >= 26
        for tag in _FIXTURES:
            dest = _binary_fixture(spark, SF_SMOKE, tag)
            assert dest.startswith(str(idx)), f"{tag}: served {dest}, not built"
            n = _data_file_count(dest)
            assert n >= 8, f"{tag}: only {n} data files (one-mapper trap)"

        # red-path control: an unsharded artifact must FAIL the predicate
        def build_unsharded(dest: str) -> None:
            spark.range(10).coalesce(1).write.mode("overwrite").parquet(dest)

        dest = cache.ensure_artifact(
            spark, SF_SMOKE, "unsharded_control", "v1", [], build_unsharded
        )
        assert _data_file_count(dest) < 8, "control should be unsharded"
    finally:
        # later tests must not be served paths under this test's tmp dir
        _clear_memo()


def test_session_table_gc_drops_and_prunes(spark, tmp_path):
    """Managed-table lifecycle (ADVICE r7: per-applicationId saveAsTable
    names leaked one warehouse copy per session): registering a table
    (a) arms an atexit DROP for THIS session's tables, exercised here by
    calling the hook directly — the table and its warehouse files are
    gone after; (b) prunes same-stem warehouse directories from DEAD
    applications (older than a day), while fresh siblings survive; (c)
    a stale-MTIME dir whose `_graft_owner.pid` heartbeat names a LIVE
    process is NOT swept — the >24h-uptime live-session case of ADVICE
    r8 (session_memo builds once, so mtime alone is not liveness)."""
    import os
    import time
    from urllib.parse import urlparse

    from parquet_storage_query_spark import cache

    wh = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path
    os.makedirs(wh, exist_ok=True)
    # a stale dead-app sibling (old mtime) and a fresh one
    stale = os.path.join(wh, "gc_test_t_deadapp")
    fresh = os.path.join(wh, "gc_test_t_liveapp")
    # stale mtime BUT live owner pid (this very process) — must survive
    longlived = os.path.join(wh, "gc_test_t_longlived")
    # stale mtime, dead owner pid — must be swept like the no-pid case
    deadpid = os.path.join(wh, "gc_test_t_deadpid")
    for p in (stale, fresh, longlived, deadpid):
        os.makedirs(p, exist_ok=True)
    with open(os.path.join(longlived, "_graft_owner.pid"), "w") as fh:
        fh.write(str(os.getpid()))
    with open(os.path.join(deadpid, "_graft_owner.pid"), "w") as fh:
        fh.write("999999999")  # above any real pid_max
    old = time.time() - 48 * 3600
    for p in (stale, longlived, deadpid):
        os.utime(p, (old, old))

    spark.range(5).write.mode("overwrite").saveAsTable("gc_test_t_mine")
    cache.register_session_table(spark, "gc_test_t_mine", "gc_test_t_")

    assert not os.path.isdir(stale), "dead-app sibling must be pruned"
    assert not os.path.isdir(deadpid), "dead-pid sibling must be pruned"
    assert os.path.isdir(fresh), "fresh sibling must survive"
    assert os.path.isdir(longlived), "live-pid stale-mtime sibling must survive"
    # registration dropped a heartbeat into this session's own table dir
    own_pid = os.path.join(wh, "gc_test_t_mine", "_graft_owner.pid")
    assert os.path.isfile(own_pid) and open(own_pid).read() == str(os.getpid())
    assert spark.catalog.tableExists("gc_test_t_mine")
    import shutil

    shutil.rmtree(longlived)

    cache._drop_session_tables()  # what atexit runs at interpreter exit
    assert not spark.catalog.tableExists("gc_test_t_mine")
    assert not os.path.isdir(os.path.join(wh, "gc_test_t_mine"))
    os.rmdir(fresh)


def test_asof_reader_under_live_writer(spark, tmp_path):
    """Read-committed under CONCURRENT append (VERDICT r8 next-round #8 —
    the live twin of read_signature_index_asof): (1) a reader pinned at
    version 1 before any append must return the SAME rows when collected
    during an in-flight (torn) append and again after the append commits
    — pinned history is immutable; (2) the torn state (data files, no
    marker) is invisible to committed_versions AND unreachable as a
    version; (3) a genuinely concurrent writer thread appending while the
    main thread re-reads the committed view: every observed signature
    count is one of the valid committed-state counts, never a torn
    intermediate."""
    import threading

    from pyspark.sql import functions as F

    from parquet_storage_query_spark.catalog import load
    from parquet_storage_query_spark.operators.dedup import (
        append_signature_index,
        committed_versions,
        minhash_band_keys,
        minhash_signatures,
        read_signature_index,
        read_signature_index_asof,
        write_signature_index,
    )

    docs = load(spark, SF_SMOKE, "documents").select("doc_id", "text")
    base = docs.filter(F.col("doc_id") % 3 == 0)
    shard2 = docs.filter(F.col("doc_id") % 3 == 1)
    shard3 = docs.filter(F.col("doc_id") % 3 == 2)
    dest = str(tmp_path / "live_index")

    # version 1 committed; reader pins it
    write_signature_index(base, dest)
    sigs_v1, _ = read_signature_index_asof(spark, dest, 1)
    v1_ids = {r["doc_id"] for r in sigs_v1.select("doc_id").collect()}
    assert v1_ids == {r["doc_id"] for r in base.select("doc_id").collect()}

    # (2) writer mid-append: shard2's data files land, marker not yet
    sig2 = minhash_signatures(shard2).localCheckpoint(eager=True)
    sig2.write.parquet(f"{dest}/signatures/batch=inflight00002")
    minhash_band_keys(sig2).write.parquet(f"{dest}/bands/batch=inflight00002")
    assert len(committed_versions(dest)) == 1, "torn batch must not be a version"
    import pytest as _pytest

    with _pytest.raises(ValueError):
        read_signature_index_asof(spark, dest, 2)
    # pinned reader re-collected DURING the torn append: identical rows
    assert {r["doc_id"] for r in sigs_v1.select("doc_id").collect()} == v1_ids

    # writer finishes: marker lands (same protocol as write_signature_index)
    import os

    seq = len(os.listdir(f"{dest}/_committed")) + 1
    with open(f"{dest}/_committed/{seq:06d}-inflight00002", "w", encoding="utf-8"):
        pass
    assert len(committed_versions(dest)) == 2
    # (1) pinned v1 reader AFTER the commit: still exactly version 1
    fresh_v1, _ = read_signature_index_asof(spark, dest, 1)
    assert {r["doc_id"] for r in fresh_v1.select("doc_id").collect()} == v1_ids
    n_v2 = read_signature_index_asof(spark, dest, 2)[0].count()
    assert n_v2 == len(v1_ids) + shard2.count()

    # (3) live concurrent writer: every committed-view read during the
    # append sees a VALID state (v2 count or v3 count), never a torn one
    err: list[BaseException] = []

    def appender() -> None:
        try:
            append_signature_index(shard3, dest)
        except BaseException as e:  # noqa: BLE001 — surface in main thread
            err.append(e)

    t = threading.Thread(target=appender)
    t.start()
    valid = {n_v2, n_v2 + shard3.count()}
    while t.is_alive():
        n = read_signature_index(spark, dest)[0].count()
        assert n in valid, f"torn intermediate visible: {n} not in {valid}"
    t.join()
    assert not err, err
    assert read_signature_index(spark, dest)[0].count() == n_v2 + shard3.count()
    assert len(committed_versions(dest)) == 3
