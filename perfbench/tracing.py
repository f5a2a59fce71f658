"""Tracing for the benchmark's traced run.

Spans are recorded in the benchmark's own code, around each call into a
layer of the program (registry builder, final action, catalog load, the
prep functions). A span is ``(id, name, start, end, parent, op)``; spans
stay in memory and are written out when the run ends. Spark work is
attributed through job groups the benchmark sets around each builder
(``<op>#build``) and action (``<op>#exec``), read back from the status
store after each op. Streaming micro-batches run on the stream's own
thread, outside any job group, so they are counted by a
``StreamingQueryListener`` instead.

With tracing off every hook is a no-op, so the untraced run pays nothing.
"""

from __future__ import annotations

import contextlib
import json
import threading
import time
from dataclasses import dataclass, field

from pyspark.sql.streaming import StreamingQueryListener


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    op: str


def self_times(spans: list[Span]) -> dict[str, float]:
    """Self time per span name: each span's duration minus the part of it
    that its children cover (children of one span never overlap here, as
    one client thread makes every call)."""
    covered: dict[int, float] = {}
    for s in spans:
        if s.parent is not None:
            covered[s.parent] = covered.get(s.parent, 0.0) + (s.end - s.start)
    out: dict[str, float] = {}
    for s in spans:
        out[s.name] = out.get(s.name, 0.0) + (s.end - s.start) - covered.get(s.id, 0.0)
    return out


class _StreamListener(StreamingQueryListener):
    def __init__(self) -> None:
        self.active = False
        self.lock = threading.Lock()
        self.batch_ms: list[float] = []
        self.add_batch_ms = 0.0
        self.commit_ms = 0.0

    def onQueryStarted(self, event) -> None:  # noqa: N802 — pyspark API
        pass

    def onQueryProgress(self, event) -> None:  # noqa: N802
        if not self.active:
            return
        p = event.progress
        d = p.durationMs
        with self.lock:
            self.batch_ms.append(float(d.get("triggerExecution", 0)))
            self.add_batch_ms += float(d.get("addBatch", 0))
            self.commit_ms += float(sum(o.commitTimeMs for o in p.stateOperators))

    def onQueryIdle(self, event) -> None:  # noqa: N802
        pass

    def onQueryTerminated(self, event) -> None:  # noqa: N802
        pass


@dataclass
class Counters:
    builder_jobs: int = 0
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    task_run_ms: float = 0.0
    input_bytes: int = 0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    gc_ms: float = 0.0
    seen_jobs: set = field(default_factory=set)


class Tracer:
    """``listen`` registers the streaming listener; ``set_enabled``
    switches recording on and off between rounds."""

    def __init__(self, spark, listen: bool = False) -> None:
        self.enabled = False
        self.spark = spark
        self.spans: list[Span] = []
        self.counters = Counters()
        self._stack: list[int] = []
        self._op = ""
        self.listener = None
        if listen:
            self.listener = _StreamListener()
            spark.streams.addListener(self.listener)

    def _drain(self) -> None:
        # the streaming listener bus hangs off the live listener bus, so
        # once that is empty every progress event has reached Python
        self.spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()

    def set_enabled(self, on: bool) -> None:
        if self.listener is not None:
            self._drain()
            self.listener.active = on
        self.enabled = on

    @contextlib.contextmanager
    def span(self, name: str, op: str | None = None):
        if not self.enabled:
            yield
            return
        if op is not None:
            self._op = op
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        s = Span(sid, name, time.perf_counter(), 0.0, parent, self._op)
        self.spans.append(s)
        self._stack.append(sid)
        try:
            yield
        finally:
            s.end = time.perf_counter()
            self._stack.pop()

    def job_group(self, group: str) -> None:
        if self.enabled:
            self.spark.sparkContext.setJobGroup(group, group, False)

    def clear_job_group(self) -> None:
        if self.enabled:
            self.spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
            self.spark.sparkContext.setLocalProperty("spark.job.description", None)

    def read_jobs(self, op: str) -> None:
        """Status-store read after one op: fold the new jobs of its build
        and exec groups into the counters. Waits for the listener bus to
        drain first, so the stage metrics of the op's last job are final."""
        if not self.enabled:
            return
        with self.span("trace.status_read"):
            sc = self.spark.sparkContext
            jsc = sc._jsc.sc()
            self._drain()
            tracker = sc.statusTracker()
            store = jsc.statusStore()
            c = self.counters
            new_build = [j for j in tracker.getJobIdsForGroup(f"{op}#build") if j not in c.seen_jobs]
            c.seen_jobs.update(new_build)
            c.builder_jobs += len(new_build)
            for j in tracker.getJobIdsForGroup(f"{op}#exec"):
                if j in c.seen_jobs:
                    continue
                c.seen_jobs.add(j)
                c.jobs += 1
                info = tracker.getJobInfo(j)
                for sid in info.stageIds if info else []:
                    attempts = store.stageData(sid, False, None, False, None)
                    if attempts.isEmpty():
                        continue
                    sd = attempts.head()
                    if sd.status().toString() != "COMPLETE":
                        continue  # skipped: its shuffle output was reused
                    c.stages += 1
                    c.tasks += sd.numCompleteTasks()
                    c.task_run_ms += sd.executorRunTime()
                    c.input_bytes += sd.inputBytes()
                    c.shuffle_read_bytes += sd.shuffleReadBytes()
                    c.shuffle_write_bytes += sd.shuffleWriteBytes()
                    c.spill_bytes += sd.diskBytesSpilled()
                    c.gc_ms += sd.jvmGcTime()

    def stream_metrics(self) -> dict[str, float]:
        if self.listener is None:
            return {"batches": 0, "batch_p50_ms": 0.0, "add_batch_ms": 0.0, "commit_ms": 0.0}
        self._drain()
        from .stats import median

        with self.listener.lock:
            b = list(self.listener.batch_ms)
            return {
                "batches": len(b),
                "batch_p50_ms": median(b) if b else 0.0,
                "add_batch_ms": self.listener.add_batch_ms,
                "commit_ms": self.listener.commit_ms,
            }

    def span_seconds(self, name: str) -> float:
        return sum(s.end - s.start for s in self.spans if s.name == name)

    def query_op_seconds(self) -> float:
        """Summed duration of the op spans that called a registry builder."""
        query_ops = {s.parent for s in self.spans if s.name == "registry.builder"}
        return sum(s.end - s.start for s in self.spans if s.id in query_ops)

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(s.__dict__) + "\n")

    def close(self) -> None:
        if self.listener is not None:
            with contextlib.suppress(Exception):
                self.spark.streams.removeListener(self.listener)
