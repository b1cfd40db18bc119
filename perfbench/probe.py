"""Timing, job accounting and spans, all taken from outside the engine.

Every timed operation runs inside :meth:`Recorder.op`, which names its
Spark jobs with ``setJobDescription("<workload>:<op>")`` and records the
wall time. With tracing on it also records:

- jobs and tasks the op ran, from the DAG scheduler's job-id counter
  (not job groups: the engine runs some jobs from a thread pool whose
  threads do not inherit group properties), and the op's driver gap,
  the wall time outside the union of its jobs' intervals;
- spans (name, start, end, parent, op id) around each call into a
  layer's public function, kept in memory and written when the run
  ends;
- per-layer counters, appended by the workload under metric names.
"""

from __future__ import annotations

import json
import resource
import statistics
import time
from collections import defaultdict
from contextlib import contextmanager


def union_seconds(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


class Recorder:
    def __init__(self, spark, workload: str, trace: bool):
        self.sc = spark.sparkContext
        self.workload = workload
        self.trace = trace
        self.samples: dict[str, list[float]] = defaultdict(list)
        self.layer: dict[str, list[float]] = defaultdict(list)
        self.spans: list[dict] = []
        self.attempted = 0
        self.failed = 0
        self._stack: list[int] = []
        self._op_id = 0
        self._jsc = self.sc._jsc.sc()

    # -- end-to-end ----------------------------------------------------

    @contextmanager
    def op(self, name: str, record: bool = True):
        """Time one operation. ``record=False`` runs it untimed (warm-up)."""
        self.sc.setJobDescription(f"{self.workload}:{name}")
        self._op_id += 1
        j0 = self._jsc.dagScheduler().nextJobId() if self.trace else 0
        with self.span(f"op.{name}"):
            t0 = time.perf_counter()
            w0 = time.time()
            yield
            dt = time.perf_counter() - t0
        if record:
            self.attempted += 1
            self.samples[name].append(dt)
        if self.trace and record:
            self._account_jobs(name, j0, w0, dt)

    def check(self, ok: bool, what: str) -> None:
        """One output check against the reference; a mismatch counts as
        a failed operation."""
        self.attempted += 1
        if not ok:
            self.failed += 1
            print(f"CHECK FAILED: {what}", flush=True)

    def _account_jobs(self, name: str, j0: int, w0: float, wall: float):
        j1 = self._jsc.dagScheduler().nextJobId()
        self._jsc.listenerBus().waitUntilEmpty()
        store = self._jsc.statusStore()
        tasks, spans = 0, []
        for j in range(j0, j1):
            jd = store.job(j)
            tasks += jd.numTasks()
            sub, done = jd.submissionTime(), jd.completionTime()
            if sub.isDefined() and done.isDefined():
                spans.append(
                    (sub.get().getTime() / 1e3, done.get().getTime() / 1e3)
                )
        busy = union_seconds(
            [(max(a, w0), min(b, w0 + wall)) for a, b in spans if b > w0]
        )
        self.layer[f"session.jobs_per_op.{name}"].append(j1 - j0)
        self.layer[f"session.tasks_per_op.{name}"].append(tasks)
        self.layer[f"session.driver_gap_s.{name}"].append(max(0.0, wall - busy))

    # -- tracing ---------------------------------------------------------

    @contextmanager
    def span(self, name: str):
        if not self.trace:
            yield
            return
        idx = len(self.spans)
        rec = {
            "name": name,
            "start": time.perf_counter(),
            "end": None,
            "parent": self._stack[-1] if self._stack else None,
            "op": self._op_id,
        }
        self.spans.append(rec)
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def count(self, metric: str, value: float) -> None:
        if self.trace:
            self.layer[metric].append(value)

    def self_times(self) -> dict[str, float]:
        """Seconds each span name spent outside its child spans."""
        child: dict[int, float] = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = defaultdict(float)
        for i, s in enumerate(self.spans):
            out[s["name"]] += s["end"] - s["start"] - child[i]
        return dict(out)

    def write_spans(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")

    # -- results ---------------------------------------------------------

    def p50(self, name: str) -> float:
        return statistics.median(self.samples[name])


def driver_peak_rss_mb() -> float:
    return resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0


def jvm_peak_rss_mb(spark) -> float:
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM missing from /proc status")
