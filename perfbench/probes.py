"""Measurement helpers that sit outside the program under test: spans
around layer calls, Spark job/stage/task counts per operation, JVM GC
time, peak resident memory, and a streaming progress listener.

Nothing here changes how the engine runs; everything is read through
public PySpark / JVM management interfaces or /proc.
"""

from __future__ import annotations

import json
import statistics
import threading
import time
from collections import defaultdict
from contextlib import contextmanager

from pyspark.sql.streaming import StreamingQueryListener


def median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def mix_ms(by_kind: dict[str, list[float]]) -> float:
    """Latency of an equal-weight mix of operation kinds: the geometric
    mean of each kind's median. A run holds a few samples per kind, so a
    plain median over all samples would move with the kinds a run happened
    to draw, and a median of the kind medians with whichever kind lands in
    the middle; this figure averages every kind."""
    meds = [median(v) for v in by_kind.values() if v]
    return statistics.geometric_mean(meds) if meds else 0.0


def tail(xs: list[float]) -> tuple[float, int]:
    """(value, percentile) for the highest whole percentile that still
    has at least ten samples above it; (0.0, 0) under 20 samples."""
    n = len(xs)
    if n < 20:
        return 0.0, 0
    pct = min(99, int(100 * (n - 10) / n))
    cut = statistics.quantiles(xs, n=100, method="inclusive")[pct - 1]
    return cut, pct


class Tracer:
    """In-memory spans: (name, start, end, parent index, request id,
    phase). ``phase`` is "setup" or "measure"; the per-layer figures
    use measure-phase spans only.

    Disabled, ``span`` is a bare ``yield`` so the untraced run pays one
    generator per layer call and records nothing."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.phase = "setup"
        self.spans: list[list] = []
        self._lock = threading.Lock()
        self._local = threading.local()

    @contextmanager
    def span(self, name: str, req: str | None = None):
        if not self.enabled:
            yield
            return
        stack = self._local.__dict__.setdefault("stack", [])
        parent = stack[-1] if stack else None
        if req is None and parent is not None:
            req = self.spans[parent][4]
        rec = [name, time.perf_counter(), None, parent, req, self.phase]
        with self._lock:
            idx = len(self.spans)
            self.spans.append(rec)
        stack.append(idx)
        try:
            yield
        finally:
            stack.pop()
            rec[2] = time.perf_counter()

    def _measured(self):
        return [
            (i, s) for i, s in enumerate(self.spans)
            if s[5] == "measure" and s[2] is not None
        ]

    def durations(self, name: str) -> list[float]:
        return [s[2] - s[1] for _, s in self._measured() if s[0] == name]

    def self_time_by_layer(self) -> dict[str, float]:
        """Seconds per layer (span name prefix before the first dot) not
        covered by that span's children. Children of one span run on the
        parent's thread, one after another, so their durations add."""
        measured = self._measured()
        child: dict[int, float] = defaultdict(float)
        for _, s in measured:
            if s[3] is not None:
                child[s[3]] += s[2] - s[1]
        out: dict[str, float] = defaultdict(float)
        for i, s in measured:
            out[s[0].split(".")[0]] += (s[2] - s[1]) - child[i]
        return dict(out)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for name, start, end, parent, req, phase in self.spans:
                f.write(json.dumps(
                    {"name": name, "start": start, "end": end,
                     "parent": parent, "req": req, "phase": phase}
                ) + "\n")


class SparkCounters:
    """Spark jobs, stages and tasks launched in a window, JVM GC time
    and peak RSS.

    Jobs are counted by job id from Spark's status store rather than by
    job group: the streaming maintainers and the dashboard's client
    threads launch jobs from threads that do not share one group."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.jvm = self.sc._jvm
        self.jvm_pid = int(self.jvm.java.lang.ProcessHandle.current().pid())

    def _jobs(self) -> list:
        to_java = self.jvm.scala.jdk.javaapi.CollectionConverters.asJava
        return list(to_java(self.sc._jsc.sc().statusStore().jobsList(None)))

    def job_mark(self) -> int:
        """Highest job id the status store knows so far (-1 if none)."""
        return max((j.jobId() for j in self._jobs()), default=-1)

    def jobs_since(self, mark: int) -> tuple[int, int, int]:
        """(jobs, stages run, tasks run) of jobs with id above ``mark``;
        stages and tasks that Spark skipped (reused shuffle output) are
        not counted."""
        time.sleep(0.5)  # the status store is fed by the async listener bus
        jobs = stages = tasks = 0
        to_java = self.jvm.scala.jdk.javaapi.CollectionConverters.asJava
        for j in self._jobs():
            if j.jobId() > mark:
                jobs += 1
                stages += len(list(to_java(j.stageIds()))) - j.numSkippedStages()
                tasks += j.numTasks() - j.numSkippedTasks()
        return jobs, stages, tasks

    def gc_ms(self) -> float:
        beans = self.jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
        return float(sum(max(0, b.getCollectionTime()) for b in beans))

    def jvm_peak_rss_mb(self) -> float:
        return _vm_hwm_kb(str(self.jvm_pid)) / 1024

    def python_peak_rss_mb(self) -> float:
        return _vm_hwm_kb("self") / 1024


def _vm_hwm_kb(pid: str) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    raise RuntimeError(f"no VmHWM for pid {pid}")


class BatchListener(StreamingQueryListener):
    """Collects every micro-batch's progress (phase durations, input
    rows) and counts terminated queries, so a drain can wait until its
    events have arrived on the asynchronous listener bus."""

    def __init__(self):
        self.batches: list[dict] = []
        self.terminated = 0
        self._cv = threading.Condition()

    def onQueryStarted(self, event):
        pass

    def onQueryProgress(self, event):
        p = event.progress
        with self._cv:
            self.batches.append({
                "rows": int(p.numInputRows),
                "ms": dict(p.durationMs),
                "source": p.sources[0].description if p.sources else "",
            })

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        with self._cv:
            self.terminated += 1
            self._cv.notify_all()

    def wait_terminated(self, n: int, timeout: float = 60.0) -> None:
        with self._cv:
            if not self._cv.wait_for(lambda: self.terminated >= n, timeout):
                raise TimeoutError("streaming listener missed a termination event")
