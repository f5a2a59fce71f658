"""Shared machinery of the workloads: the Spark session, one op call
through the program's public functions, DuckDB oracle fingerprints and
the memory sampler."""

from __future__ import annotations

import os
import sys
import threading
import time
from dataclasses import dataclass, field

from .tracing import Tracer


def process_age_s() -> float:
    """Seconds since this process started, from /proc (10 ms ticks)."""
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    with open("/proc/self/stat") as fh:
        start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def _stat(path: str) -> list[str]:
    """Fields of a /proc stat file after the command name: index 1 is the
    parent pid, 11-14 the user and system ticks of the task itself and of
    the children it has reaped."""
    with open(f"/proc/{path}/stat") as fh:
        return fh.read().rsplit(")", 1)[1].split()


class EngineCpu:
    """CPU seconds the engine has used, user plus system: the driver JVM,
    every process under it (the Python workers of pandas UDFs, and what
    they have reaped) and this Python process. Unlike wall time this
    leaves out the time the host steals from a virtual machine's cores,
    which on a shared host changes by tens of percent from minute to
    minute. The JVM's JIT compiler threads are left out too: they compile
    in the background, and how much of their warm-up lands among the timed
    ops varies from run to run by as much as the ops' own CPU time."""

    COMPILERS = ("C1 CompilerThre", "C2 CompilerThre")

    def __init__(self, jvm_pid: int) -> None:
        self.jvm_pid = jvm_pid
        self.compilers = []
        for tid in os.listdir(f"/proc/{jvm_pid}/task"):
            with open(f"/proc/{jvm_pid}/task/{tid}/comm") as fh:
                if fh.read().startswith(self.COMPILERS):
                    self.compilers.append(tid)

    def __call__(self) -> float:
        stats = {}
        for pid in os.listdir("/proc"):
            if pid.isdigit():
                try:
                    stats[int(pid)] = _stat(pid)
                except OSError:  # exited meanwhile
                    pass
        ticks = 0
        for pid, fields in stats.items():
            p = pid
            while p in stats and p != self.jvm_pid:
                p = int(stats[p][1])
            if p == self.jvm_pid:
                ticks += sum(int(f) for f in fields[11:15])
        for tid in self.compilers:
            fields = _stat(f"{self.jvm_pid}/task/{tid}")
            ticks -= int(fields[11]) + int(fields[12])
        return ticks / os.sysconf("SC_CLK_TCK") + time.process_time()


def log(msg: str) -> None:
    print(f"# {msg}", file=sys.stderr, flush=True)


def start_session(work: str, cpus: int):
    """The program's own session factory, with every scratch location
    (Spark local dirs, JVM temp dir, warehouse) inside ``work``."""
    from parquet_storage_query_spark.session import get_spark

    local = os.path.join(work, "spark-local")
    tmp = os.path.join(work, "tmp")
    for d in (local, tmp):
        os.makedirs(d, exist_ok=True)
    return get_spark(
        "perfbench",
        master=f"local[{cpus}]",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": local,
            # a fixed set of JIT compiler threads, which EngineCpu leaves out
            "spark.driver.extraJavaOptions": (f"-Djava.io.tmpdir={tmp} -Xms1g -XX:+AlwaysPreTouch "
                                              "-XX:-UseDynamicNumberOfCompilerThreads"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        },
    )


def stop_session(spark) -> None:
    """Stop the context, then the JVM, and wait until it has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    try:
        gateway.shutdown()
    except Exception:  # noqa: BLE001 — already closing
        pass
    if proc is not None:
        try:
            proc.stdin.close()
        except Exception:  # noqa: BLE001
            pass
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001
            proc.kill()
            proc.wait()


class RssSampler:
    """Peak resident memory of the driver JVM plus this Python process,
    sampled every 20 ms while running."""

    def __init__(self, jvm_pid: int) -> None:
        self.pids = [os.getpid(), jvm_pid]
        self.peak_kb = 0
        self.peak_each_kb = [0, 0]
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    @staticmethod
    def _rss_kb(pid: int) -> int:
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmRSS:"):
                        return int(line.split()[1])
        except OSError:
            pass
        return 0

    def _run(self) -> None:
        while not self._stop.is_set():
            each = [self._rss_kb(p) for p in self.pids]
            self.peak_each_kb = [max(a, b) for a, b in zip(self.peak_each_kb, each)]
            self.peak_kb = max(self.peak_kb, sum(each))
            self._stop.wait(0.02)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()


class Oracle:
    """DuckDB oracle over one corpus directory. Views read file globs, so a
    table that is a folder of many files reads the same as a single file.
    A table given in ``tables`` as a source expression is read once into
    DuckDB, as a view over CSV would parse the files again per query."""

    def __init__(self, sf_dir: str, tables: dict[str, str] | None = None) -> None:
        import duckdb

        from parquet_storage_query_spark.catalog import TABLES, table_path

        self.sf_dir = sf_dir
        self.con = duckdb.connect()
        self.folders = []
        for t in TABLES:
            if tables and t in tables:
                self.con.execute(f"CREATE TABLE {t} AS SELECT * FROM {tables[t]}")
                continue
            path = table_path(sf_dir, t)
            if os.path.isdir(path):
                self.folders.append(t)
                path = os.path.join(path, "*.parquet")
            elif not os.path.exists(path):
                continue
            self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")

    def fingerprint(self, sql: str):
        from parquet_storage_query_spark.fingerprint import result_fingerprint
        from parquet_storage_query_spark.registry import resolve_oracle

        for t in self.folders:
            sql = sql.replace(f"{{sf_dir}}/{t}.parquet'", f"{{sf_dir}}/{t}.parquet/*.parquet'")
        cur = self.con.execute(resolve_oracle(sql, self.sf_dir))
        return result_fingerprint([d[0] for d in cur.description], cur.fetchall())

    def close(self) -> None:
        self.con.close()


@dataclass
class Stats:
    """Everything one run measures."""

    # timed ops: name, wall seconds and engine CPU seconds of each
    ops: list[str] = field(default_factory=list)
    latencies: list[float] = field(default_factory=list)
    cpu: list[float] = field(default_factory=list)
    stream_latencies: list[float] = field(default_factory=list)
    # first calls, likewise
    cold_ops: list[str] = field(default_factory=list)
    cold_latencies: list[float] = field(default_factory=list)
    cold_cpu: list[float] = field(default_factory=list)
    attempted: int = 0
    failed: int = 0
    prep: dict[str, float] = field(default_factory=lambda: {
        "convert_s": 0.0, "compact_s": 0.0, "compact_grouped_s": 0.0,
        "files_in": 0, "files_out": 0, "bytes_written": 0, "source_bytes": 0,
        "compacted_bytes": 0, "compacted_source_bytes": 0,
    })

    def timed(self, name: str, dt: float, cpu: float) -> None:
        self.ops.append(name)
        self.latencies.append(dt)
        self.cpu.append(cpu)

    def first_call(self, name: str, dt: float, cpu: float) -> None:
        self.cold_ops.append(name)
        self.cold_latencies.append(dt)
        self.cold_cpu.append(cpu)

    def clear(self) -> None:
        """Forget every op and first call recorded so far."""
        for samples in (self.ops, self.latencies, self.cpu, self.stream_latencies,
                        self.cold_ops, self.cold_latencies, self.cold_cpu):
            samples.clear()

    def fail(self, what: str, why: str) -> None:
        self.failed += 1
        log(f"FAIL {what}: {why[:300]}")


class Context:
    def __init__(self, spark, tracer: Tracer, work: str, seed: int, jvm_pid: int) -> None:
        from parquet_storage_query_spark.registry import all_queries

        self.spark = spark
        self.engine_cpu = EngineCpu(jvm_pid)
        self.tracer = tracer
        self.work = work
        self.seed = seed
        self.qs = all_queries()

    def clock(self) -> tuple[float, float]:
        """Wall seconds and engine CPU seconds, now."""
        return time.perf_counter(), self.engine_cpu()

    def query(self, name: str, sf_dir: str, collect: bool = False):
        """One op: the registered builder, then the final action —
        ``toRdd().count()`` as the program's own bench does (``count()``
        would prune projection-only plans), or a driver collect when the
        rows are fingerprinted. Returns the row count or (columns, rows)."""
        tr = self.tracer
        with tr.span("op", op=name):
            tr.job_group(f"{name}#build")
            with tr.span("registry.builder"):
                df = self.qs[name].builder(self.spark, sf_dir)
            tr.job_group(f"{name}#exec")
            with tr.span("operators.action"):
                if collect:
                    out = (df.columns, [tuple(r) for r in df.collect()])
                else:
                    out = df._jdf.queryExecution().toRdd().count()
            tr.clear_job_group()
        return out


def checked_query(ctx: Context, stats: Stats, name: str, sf_dir: str, want,
                  timed: bool = True, cold: bool = False) -> int | None:
    """One op whose rows are fetched and fingerprinted against the oracle's
    fingerprint ``want``; its latency counts as a timed op, a first call
    (``cold``), or both.
    Returns the checked row count, or None if the op failed or disagreed."""
    from parquet_storage_query_spark.fingerprint import result_fingerprint

    stats.attempted += 1
    t0, c0 = ctx.clock()
    try:
        cols, rows = ctx.query(name, sf_dir, collect=True)
    except Exception as e:  # noqa: BLE001
        stats.fail(name, f"raised {e!r}")
        return None
    t1, c1 = ctx.clock()
    dt = t1 - t0
    ctx.tracer.read_jobs(name)
    got = result_fingerprint(cols, rows)
    if got != want:
        stats.fail(name, f"fingerprint {got[:2]} {got[2][:8]} != oracle {want[:2]} {want[2][:8]}")
        return None
    if timed:
        stats.timed(name, dt, c1 - c0)
    if cold:
        stats.first_call(name, dt, c1 - c0)
    log(f"ok {name}: {got[0]} rows in {dt:.3f}s")
    return got[0]


def oracle_fingerprints(ctx: Context, oracle: Oracle, names: list[str]) -> dict:
    """Oracle fingerprint per op. An op without an oracle, or whose oracle
    cannot read the generated inputs, is left out rather than run unchecked."""
    out = {}
    for name in names:
        sql = ctx.qs[name].oracle
        if sql is None:
            log(f"skip {name}: no oracle")
            continue
        try:
            out[name] = oracle.fingerprint(sql)
        except Exception as e:  # noqa: BLE001
            log(f"skip {name}: oracle cannot run on the generated inputs: {e!r}"[:300])
    return out


def cold_pass(ctx: Context, stats: Stats, sf_dir: str, wants: dict) -> dict[str, int]:
    """First call of every op on a corpus path, each checked against its
    oracle fingerprint. Returns the row count per op that passed."""
    expected = {}
    for name, want in wants.items():
        n = checked_query(ctx, stats, name, sf_dir, want, timed=False, cold=True)
        if n is not None:
            expected[name] = n
    return expected


def timed_query(ctx: Context, stats: Stats, name: str, sf_dir: str, expected_rows: int,
                stream: bool = False) -> None:
    """One timed op, checked by its row count against the oracle's."""
    stats.attempted += 1
    t0, c0 = ctx.clock()
    try:
        n = ctx.query(name, sf_dir)
    except Exception as e:  # noqa: BLE001
        stats.fail(name, f"raised {e!r}")
        return
    t1, c1 = ctx.clock()
    dt = t1 - t0
    ctx.tracer.read_jobs(name)
    if n != expected_rows:
        stats.fail(name, f"{n} rows, oracle has {expected_rows}")
        return
    stats.timed(name, dt, c1 - c0)
    if stream:
        stats.stream_latencies.append(dt)
