"""Per-layer tracing for the benchmark, recorded from outside the package.

Spans are opened around calls into each layer's public functions. A span's
Spark work is the set of jobs submitted while it was open: job ids are
handed out in submission order, so the ids between a span's start and end
belong to it (minus the ids its child spans claimed). The counters of
those jobs are read from the driver's status store once per operation,
after the listener bus has drained, so the store's retention limit
(``spark.ui.retainedJobs``) never drops them.
"""

from __future__ import annotations

import threading
import time
from collections import defaultdict
from contextlib import contextmanager, nullcontext

from py4j.protocol import Py4JJavaError
from pyspark.sql.streaming import StreamingQueryListener

#: counters every span records
SPAN_FIELDS = ("wall_s", "jobs", "stages", "tasks", "executor_run_s", "shuffle_bytes", "spill_bytes")


class _Frame:
    def __init__(self, name: str, t0: float, j0: int):
        self.name, self.t0, self.j0 = name, t0, j0
        self.child_wall = 0.0
        self.child_ranges: list[tuple[int, int]] = []


class Tracer:
    """Span stack for the driver thread plus Spark counters per span.

    Spans nest: a span's wall and jobs are its self share, its children's
    removed. Totals accumulate per span name across the run.
    """

    def __init__(self, spark):
        self._jsc = spark.sparkContext._jsc.sc()
        self._stack: list[_Frame] = []
        self._pending: list[tuple[str, float, list[int]]] = []
        self._seen_stages: set[int] = set()
        self.totals: dict[str, dict[str, float]] = defaultdict(
            lambda: dict.fromkeys(SPAN_FIELDS, 0.0)
        )
        self.executor_run_s = 0.0
        self.lost_jobs = 0

    def _next_job_id(self) -> int:
        return int(self._jsc.dagScheduler().numTotalJobs())

    def open(self, name: str) -> _Frame:
        frame = _Frame(name, time.perf_counter(), self._next_job_id())
        self._stack.append(frame)
        return frame

    def close(self, frame: _Frame) -> None:
        if not self._stack or self._stack[-1] is not frame:
            raise RuntimeError(f"span {frame.name} closed out of order")
        self._stack.pop()
        t1, j1 = time.perf_counter(), self._next_job_id()
        claimed: set[int] = set()
        for a, b in frame.child_ranges:
            claimed.update(range(a, b))
        jobs = [j for j in range(frame.j0, j1) if j not in claimed]
        self._pending.append((frame.name, (t1 - frame.t0) - frame.child_wall, jobs))
        if self._stack:
            parent = self._stack[-1]
            parent.child_wall += t1 - frame.t0
            parent.child_ranges.append((frame.j0, j1))

    @contextmanager
    def span(self, name: str):
        frame = self.open(name)
        try:
            yield
        finally:
            self.close(frame)

    def discard(self) -> None:
        """Drop spans closed so far (the warm-up's)."""
        self._drain()
        for _name, _wall, jobs in self._pending:
            self._mark_seen(jobs)
        self._pending.clear()

    def _drain(self) -> None:
        self._jsc.listenerBus().waitUntilEmpty()

    def _mark_seen(self, jobs: list[int]) -> None:
        store = self._jsc.statusStore()
        for jid in jobs:
            try:
                sids = store.job(jid).stageIds()
            except Py4JJavaError:  # evicted from the store: nothing to mark
                continue
            self._seen_stages.update(sids.apply(i) for i in range(sids.size()))

    def collect(self) -> None:
        """Resolve closed spans into counters; call between operations."""
        if not self._pending:
            return
        self._drain()
        store = self._jsc.statusStore()
        for name, wall, jobs in self._pending:
            tot = self.totals[name]
            tot["wall_s"] += wall
            for jid in jobs:
                try:
                    sids = store.job(jid).stageIds()
                except Py4JJavaError:  # evicted before it was read
                    self.lost_jobs += 1
                    continue
                tot["jobs"] += 1
                for i in range(sids.size()):
                    sid = sids.apply(i)
                    if sid in self._seen_stages:
                        continue  # ran (and was counted) in an earlier job
                    self._seen_stages.add(sid)
                    sd = store.lastStageAttempt(sid)
                    if sd.status().toString() == "SKIPPED":
                        continue
                    run_s = sd.executorRunTime() / 1000.0
                    tot["stages"] += 1
                    tot["tasks"] += sd.numTasks()
                    tot["executor_run_s"] += run_s
                    tot["shuffle_bytes"] += sd.shuffleWriteBytes()
                    tot["spill_bytes"] += sd.diskBytesSpilled()
                    self.executor_run_s += run_s
        self._pending.clear()


def span_of(tracer):
    """``tracer.span``, or a span that records nothing when untraced."""
    return tracer.span if tracer is not None else (lambda _name: nullcontext())


class Counters:
    """Thread-safe named sums for layers that run on callback threads."""

    def __init__(self):
        self._lock = threading.Lock()
        self.values: dict[str, float] = defaultdict(float)

    def clear(self) -> None:
        with self._lock:
            self.values.clear()

    def add(self, **deltas: float) -> None:
        with self._lock:
            for k, v in deltas.items():
                self.values[k] += v


class StreamingProgress(StreamingQueryListener):
    """Sums the micro-batch progress of the queries whose run id is in
    ``run_ids`` (the timed cycles' ingests) into ``counters``."""

    PHASES = {
        "addBatch": "addbatch_s",
        "queryPlanning": "queryplanning_s",
        "walCommit": "walcommit_s",
        "commitOffsets": "commitoffsets_s",
        "latestOffset": "latestoffset_s",
    }

    def __init__(self, counters: Counters, run_ids: set[str]):
        self.counters, self.run_ids = counters, run_ids
        self.terminated: set[str] = set()
        self._cv = threading.Condition()

    def onQueryStarted(self, event):  # noqa: N802 (Spark API)
        pass

    def onQueryProgress(self, event):  # noqa: N802
        p = event.progress
        if str(p.runId) not in self.run_ids:
            return
        rows = int(p.numInputRows)
        dur = p.durationMs or {}
        self.counters.add(
            batches=1,
            empty_batches=1 if rows == 0 else 0,
            input_rows=rows,
            **{v: dur.get(k, 0) / 1000.0 for k, v in self.PHASES.items()},
        )

    def onQueryIdle(self, event):  # noqa: N802
        pass

    def onQueryTerminated(self, event):  # noqa: N802
        with self._cv:
            self.terminated.add(str(event.runId))
            self._cv.notify_all()

    def wait_terminated(self, ids: set[str], timeout: float = 30.0) -> bool:
        """Progress events precede the termination event on the bus, so
        once every query has terminated its progress is counted."""
        deadline = time.monotonic() + timeout
        with self._cv:
            while not ids <= self.terminated:
                left = deadline - time.monotonic()
                if left <= 0:
                    return False
                self._cv.wait(left)
        return True
