"""Session-scoped memoization for expensive per-(session, sf_dir) artifacts:
materialized intermediates (``session_frame``, the one way a session keeps
a DataFrame), trained centroid models (IVF), prepared query plans
(``prepared``), temp-view registration (SQL builders), and committed
on-disk artifacts (``ensure_artifact``), keyed by their input files and
the package's source digest.

Keyed on ``SparkContext.applicationId`` — unique per context for the life of
the process — NOT ``id(SparkSession)``: a new session can be allocated at a
garbage-collected session's address and would inherit a stale persisted
DataFrame bound to the dead context. Entries from any other application are
swept (and their persisted DataFrames unpinned) the first time a new
application touches the memo, so restarting the session in one process does
not leak executor storage.
"""

from __future__ import annotations

import threading
from typing import Any, Callable

from pyspark.sql import DataFrame, SparkSession

_MEMO: dict[tuple[str, str, str], Any] = {}
_MEMO_GUARD = threading.Lock()
_KEY_LOCKS: dict[tuple[str, str, str], threading.Lock] = {}


def session_memo(spark: SparkSession, sf_dir: str, tag: str, build: Callable[[], Any]) -> Any:
    """Return the memoized artifact for (this session, sf_dir, tag),
    building it once via ``build()``.

    THREAD-SAFE: a harness that fans registered queries across threads of
    one session (the driver's correctness gate may) must never run the
    same ``build()`` twice — for on-disk artifacts two concurrent
    ``mode("overwrite")`` writes to one destination interleave their
    commits and the surviving directory mixes files from both jobs (row
    counts preserved per group, sums corrupted — exactly the
    CORRECTNESS_r05 signature of the artifact-backed queries). Per-key
    locks serialize the first build; unrelated artifacts still build in
    parallel."""
    app = spark.sparkContext.applicationId
    key = (app, sf_dir, tag)
    with _MEMO_GUARD:
        if key in _MEMO:
            return _MEMO[key]
        for k in [k for k in _MEMO if k[0] != app]:
            stale = _MEMO.pop(k)
            _KEY_LOCKS.pop(k, None)
            if isinstance(stale, DataFrame):
                try:
                    stale.unpersist()
                except Exception:
                    pass  # context already gone — nothing is pinned
        lock = _KEY_LOCKS.setdefault(key, threading.Lock())
    with lock:
        with _MEMO_GUARD:
            if key in _MEMO:
                return _MEMO[key]
        value = build()
        with _MEMO_GUARD:
            _MEMO[key] = value
        return value


def session_frame(
    spark: SparkSession, sf_dir: str, tag: str, build: Callable[[], DataFrame]
) -> DataFrame:
    """The session-held frame for (this session, sf_dir, tag). ``build()``
    returns an unmaterialized plan; it is materialized once and memoized
    through ``session_memo``, under the same per-key lock, so concurrent
    callers still build once. The materialization policy lives in this
    one function: an eager ``localCheckpoint``, which computes the frame
    now and cuts its lineage to a scan of the cached blocks. Checkpoints
    that serve a single query stay direct Spark calls.

    No memo build checkpoints directly, nor does a helper defined beside
    it (``tests/test_session_frames.py`` checks both). Two module-level
    helpers that take an arbitrary frame, so have no (sf_dir, tag) key,
    still do, and a memoized plan keeps their result for the session:
    ``dedup.connected_components`` (last round's labels, kept by
    ``dedup_clusters``) and ``dedup.incremental_pairs`` (the new batch's
    signatures, kept by ``dedup_incremental``)."""
    return session_memo(spark, sf_dir, tag, lambda: build().localCheckpoint(eager=True))


def derived_session(spark: SparkSession, confs: dict[str, str]) -> SparkSession:
    """A session on ``spark``'s SparkContext whose own SQLConf carries
    ``confs``, for queries whose confs must not leak into the shared
    session. One per (application, conf set): a fresh ``newSession()``
    per call starts from empty session state, and its first plan paid up
    to 45 ms more than a reused one (footer count at sf0.01). The session
    is memoized, never a DataFrame read through it: a memoized read would
    freeze its file listing."""

    def build() -> SparkSession:
        ns = spark.newSession()
        for k, v in confs.items():
            ns.conf.set(k, v)
        return ns

    return session_memo(spark, "", f"derived_session:{sorted(confs.items())}", build)


COMMIT_MARKER = "_COMMITTED"


def _input_digest(sf_dir: str, inputs: list[str]) -> str:
    """Content key of an artifact: md5 over the package's source digest
    (``pkgship.source_digest``, the code that builds it) and every input
    parquet file's (name, size, mtime_ns). Cheap — a stat per file, no data
    read — and any regeneration of the corpus (new driver round, different
    seed, same path) or edit to the package changes it, so a stale artifact
    can never be read: it lives under a different directory name entirely."""
    import hashlib
    import os

    from .pkgship import source_digest

    h = hashlib.md5()
    h.update(sf_dir.encode())
    h.update(source_digest().encode())
    for path in sorted(inputs):
        files = []
        if os.path.isdir(path):
            for root, _dirs, names in os.walk(path):
                files.extend(os.path.join(root, n) for n in names if not n.startswith("_"))
        elif os.path.exists(path):
            files.append(path)
        for f in sorted(files):
            st = os.stat(f)
            h.update(f"{os.path.basename(f)}|{st.st_size}|{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def ensure_artifact(
    spark: SparkSession,
    sf_dir: str,
    tag: str,
    inputs: list[str],
    build: Callable[[str], None],
) -> str:
    """Build-once-serve-forever protocol for on-disk artifacts (standing
    rollups, partitioned layouts, corpus egests, binary fixtures): returns
    a COMMITTED directory whose name embeds a digest of the source data and
    the package source.

    Guarantees, in order of the failure they close:
    - **Staleness-proof**: the digest covers every input file's size and
      mtime and the digest of the package's source, so regenerated source
      data or any edit to the code maps to a NEW path — a leftover
      artifact from older data or an older builder is unreachable, not
      silently served. No builder carries a version to bump.
    - **Crash/torn-write-proof**: the artifact is built in a unique temp
      dir, the commit marker is written LAST inside it, and the temp dir
      is renamed into place atomically. A reader either sees a fully
      committed artifact or none (same marker-last pattern as the dedup
      signature index, dedup.py:1385+ — promoted here per VERDICT r5 #5).
    - **Race-proof across threads AND processes**: concurrent builders
      (driver threads; two local sessions whose `local-<ms>` application
      ids collide) each build privately; the first rename wins, losers
      verify the winner's marker and discard their copy. Content is
      deterministic per digest, so either copy is correct.
    - **Restart-serving**: a NEW session finds the committed dir by digest
      and serves without rebuilding (pytest pins this), which is what a
      materialized view means outside one process.
    """
    import os
    import shutil
    import time
    import uuid

    digest = _input_digest(sf_dir, inputs)

    def ensure() -> str:
        base = _artifact_base()
        dest = os.path.join(base, f"{tag}_{digest[:16]}")
        marker = os.path.join(dest, COMMIT_MARKER)
        if _marker_ok(marker, digest):
            return dest
        # prune siblings of this tag (other digests) and orphaned temp
        # dirs from crashed builders, older than a day
        cutoff = time.time() - 24 * 3600
        for d in os.listdir(base):
            p = os.path.join(base, d)
            stale_sibling = d.startswith(f"{tag}_") and d != f"{tag}_{digest[:16]}"
            orphan_tmp = d.startswith(f"_tmp_{tag}_")
            if (
                (stale_sibling or orphan_tmp)
                and os.path.isdir(p)
                and os.path.getmtime(p) < cutoff
            ):
                shutil.rmtree(p, ignore_errors=True)
        tmp = os.path.join(base, f"_tmp_{tag}_{uuid.uuid4().hex}")
        build(tmp)
        with open(os.path.join(tmp, COMMIT_MARKER), "w") as fh:
            fh.write(digest)
        try:
            os.rename(tmp, dest)
        except OSError:
            # a concurrent builder committed first — verify and reuse
            if _marker_ok(marker, digest):
                shutil.rmtree(tmp, ignore_errors=True)
                return dest
            # dest exists WITHOUT a valid marker: a legacy/torn dir —
            # replace it and retry; if ANOTHER replacer wins the retry
            # race, fall back to verify-and-reuse once more (two
            # processes can both reach this branch; either one's rename
            # produces a valid committed dir)
            shutil.rmtree(dest, ignore_errors=True)
            try:
                os.rename(tmp, dest)
            except OSError:
                if _marker_ok(marker, digest):
                    shutil.rmtree(tmp, ignore_errors=True)
                    return dest
                raise
        return dest

    return session_memo(spark, sf_dir, f"artifact:{tag}:{digest}", ensure)


def _artifact_base() -> str:
    import os
    import tempfile

    base = os.environ.get("SPARK_GRAFT_INDEX_DIR") or os.path.join(
        tempfile.gettempdir(), "spark_graft_indexes"
    )
    os.makedirs(base, exist_ok=True)
    return base


def _marker_ok(marker_path: str, digest: str) -> bool:
    try:
        with open(marker_path) as fh:
            return fh.read().strip() == digest
    except OSError:
        return False


_SESSION_TABLES: list[tuple[SparkSession, str]] = []
_TABLES_GUARD = threading.Lock()
_ATEXIT_ARMED = False


def register_session_table(spark: SparkSession, name: str, stem: str) -> None:
    """Lifecycle for per-(applicationId) managed tables (bucketed join
    copies, ANALYZE stats tables): without it every session leaks one
    warehouse copy per table per run — nontrivial disk growth across
    bench rounds at sf1 (ADVICE r7).

    Two complementary sweeps:
    - atexit: DROP TABLE IF EXISTS for every table THIS session created
      (removes both the in-memory catalog entry and the warehouse files)
      — the normal path.
    - on registration: prune warehouse directories of the same `stem`
      left by DEAD applications (crashed/killed sessions never reach
      atexit), identified by prefix, an mtime older than a day, AND a
      dead-or-absent owner pid. The pid guard exists because mtime alone
      is not a liveness signal: session_memo builds a table ONCE, so a
      live session running >24h never refreshes its table dir's mtime
      and would be swept out from under itself (ADVICE r8). Each
      registration drops an `_graft_owner.pid` heartbeat file into its
      table dir; the sweeper skips any dir whose recorded pid is still
      alive on this host (tables are per-host warehouse dirs, so a local
      kill(pid, 0) probe is the right liveness oracle)."""
    import atexit
    import os
    import shutil
    import time
    from urllib.parse import urlparse

    global _ATEXIT_ARMED
    with _TABLES_GUARD:
        _SESSION_TABLES.append((spark, name))
        if not _ATEXIT_ARMED:
            _ATEXIT_ARMED = True
            atexit.register(_drop_session_tables)
    try:
        wh = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path
        own = os.path.join(wh, name.lower())
        if os.path.isdir(own):
            with open(os.path.join(own, "_graft_owner.pid"), "w") as fh:
                fh.write(str(os.getpid()))
        if os.path.isdir(wh):
            cutoff = time.time() - 24 * 3600
            for d in os.listdir(wh):
                p = os.path.join(wh, d)
                if (
                    d.startswith(stem)
                    and d != name.lower()
                    and d != name
                    and os.path.isdir(p)
                    and os.path.getmtime(p) < cutoff
                    and not _owner_alive(os.path.join(p, "_graft_owner.pid"))
                ):
                    shutil.rmtree(p, ignore_errors=True)
    except Exception:
        pass  # best-effort GC; never fail the query over warehouse hygiene


def _owner_alive(pid_path: str) -> bool:
    """True iff the pid recorded at `pid_path` is a live process on this
    host. Absent/unreadable file -> not alive (legacy dirs predating the
    heartbeat stay sweepable); a reused pid occasionally spares a dead
    dir for one more day — best-effort GC errs toward keeping."""
    import os

    try:
        with open(pid_path) as fh:
            pid = int(fh.read().strip())
    except (OSError, ValueError):
        return False
    try:
        os.kill(pid, 0)
        return True
    except ProcessLookupError:
        return False
    except PermissionError:
        return True  # alive, owned by another uid
    except OSError:
        return False


def _drop_session_tables() -> None:
    with _TABLES_GUARD:
        entries, _SESSION_TABLES[:] = list(_SESSION_TABLES), []
    for spark, name in entries:
        try:
            spark.sql(f"DROP TABLE IF EXISTS {name}")
        except Exception:
            pass  # JVM gateway already down at interpreter shutdown


def prepared(tag: str):
    """Decorator for (spark, sf_dir) -> DataFrame builders whose PLAN is
    expensive to construct (inlined model literals, long hash pipelines):
    memoizes the built DataFrame per (session, sf_dir) like a prepared
    statement. Every action on the memoized frame still re-executes the
    plan — only re-analysis and codegen are skipped. Profiled on the
    similarity/dedup serving queries: 0.9-16s of per-call planning against
    0.03-0.16s of execution."""
    import functools

    def deco(fn: Callable[[SparkSession, str], DataFrame]):
        @functools.wraps(fn)
        def wrapper(spark: SparkSession, sf_dir: str) -> DataFrame:
            return session_memo(spark, sf_dir, tag, lambda: fn(spark, sf_dir))

        return wrapper

    return deco
