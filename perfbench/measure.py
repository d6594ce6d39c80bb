"""Readers for Spark's status stores, the span tracer, and process memory.

Everything here reads state from outside ``scipi_spark``: the
``AppStatusStore`` (stages, jobs), each streaming query's progress
records, and ``/proc``. Stage and job ids grow monotonically within a
SparkContext and the benchmark runs one thing at a time, so the stages a
span created are exactly those that appeared (or grew) between its two
snapshots.
"""

from __future__ import annotations

import contextlib
import json
import time
from dataclasses import dataclass

MB = 1024.0 * 1024.0


@dataclass(frozen=True)
class StageRow:
    run_ms: int
    cpu_ns: int
    tasks: int
    shuffle_bytes: int
    spill_bytes: int
    shuffle_records: int


@dataclass
class Snapshot:
    stages: dict
    jobs: int
    t: float


@dataclass
class Usage:
    """Counters accumulated between two snapshots."""

    s: float = 0.0
    task_s: float = 0.0
    cpu_s: float = 0.0
    jobs: int = 0
    tasks: int = 0
    shuffle_mb: float = 0.0
    spill_mb: float = 0.0
    shuffle_records: int = 0


class StatusStore:
    """Incremental reader of the application status store. A completed
    stage never changes again, so it is read once and kept."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.jvm = self.sc._jvm
        self.store = self.sc._jsc.sc().statusStore()
        self._bus = self.sc._jsc.sc().listenerBus()
        self._done_stages: dict = {}

    def quiesce(self) -> None:
        """Wait until the listener bus has delivered every event posted so
        far, so the store holds the finished work's metrics."""
        self._bus.waitUntilEmpty(30_000)

    def _stages(self) -> dict:
        out = dict(self._done_stages)
        lst = self.store.stageList(
            self.jvm.java.util.ArrayList(), False, False,
            self.sc._gateway.new_array(self.jvm.double, 0), self.jvm.java.util.ArrayList(),
        )
        it = lst.iterator()
        while it.hasNext():
            s = it.next()
            key = (s.stageId(), s.attemptId())
            if key in self._done_stages:
                continue
            row = StageRow(
                s.executorRunTime(), s.executorCpuTime(), s.numCompleteTasks(),
                s.shuffleWriteBytes(), s.memoryBytesSpilled() + s.diskBytesSpilled(),
                s.shuffleWriteRecords(),
            )
            out[key] = row
            if s.status().toString() in ("COMPLETE", "FAILED", "SKIPPED"):
                self._done_stages[key] = row
        return out

    def _jobs(self) -> int:
        return self.store.jobsList(self.jvm.java.util.ArrayList()).size()

    def snapshot(self) -> Snapshot:
        self.quiesce()
        return Snapshot(self._stages(), self._jobs(), time.perf_counter())

    @staticmethod
    def usage(before: Snapshot, after: Snapshot) -> Usage:
        u = Usage(s=after.t - before.t)
        zero = StageRow(0, 0, 0, 0, 0, 0)
        for key, row in after.stages.items():
            b = before.stages.get(key, zero)
            u.task_s += max(row.run_ms - b.run_ms, 0) / 1e3
            u.cpu_s += max(row.cpu_ns - b.cpu_ns, 0) / 1e9
            u.tasks += max(row.tasks - b.tasks, 0)
            u.shuffle_mb += max(row.shuffle_bytes - b.shuffle_bytes, 0) / MB
            u.spill_mb += max(row.spill_bytes - b.spill_bytes, 0) / MB
            u.shuffle_records += max(row.shuffle_records - b.shuffle_records, 0)
        u.jobs = after.jobs - before.jobs
        return u


class Tracer:
    """Spans around calls into each layer. With ``enabled`` False a span
    only adds its wall time to ``walls`` and a boundary is a no-op, so
    untraced iterations pay nothing measurable.

    A span records name, start, end, parent span and run id, plus the
    status-store deltas of the work done inside it. Spans stay in memory
    until :meth:`dump`."""

    def __init__(self, store: StatusStore, run_id: str, cores: int, enabled: bool):
        self.store = store
        self.run_id = run_id
        self.cores = cores
        self.enabled = enabled
        self.spans: list[dict] = []
        self.walls: dict[str, float] = {}
        self._stack: list[int] = []
        self.iteration = 0

    @contextlib.contextmanager
    def span(self, name: str):
        extra: dict = {}
        if not self.enabled:
            t = time.perf_counter()
            try:
                yield extra
            finally:
                self.walls[name] = self.walls.get(name, 0.0) + time.perf_counter() - t
            return
        before = self.store.snapshot()
        sid = len(self.spans)
        rec = {"id": sid, "name": name, "run_id": self.run_id, "iteration": self.iteration,
               "parent": self._stack[-1] if self._stack else None, "start": before.t}
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield extra
        finally:
            self._stack.pop()
            after = self.store.snapshot()
            u = StatusStore.usage(before, after)
            rec.update(end=after.t, s=u.s, task_s=u.task_s, cpu_s=u.cpu_s,
                       idle_core_s=self.cores * u.s - u.task_s, jobs=u.jobs, tasks=u.tasks,
                       shuffle_mb=u.shuffle_mb, spill_mb=u.spill_mb,
                       shuffle_records=u.shuffle_records, **extra)

    def boundary(self, df):
        """Materialize a layer's output before the next layer reads it
        (traced runs only: it breaks operator fusion across layers)."""
        return df.localCheckpoint(eager=True) if self.enabled else df

    def self_times(self) -> None:
        """Self time = span duration minus the part covered by its children."""
        for rec in self.spans:
            kids = [c for c in self.spans if c["parent"] == rec["id"]]
            rec["self_s"] = rec["s"] - sum(c["s"] for c in kids)

    def dump(self, path: str) -> None:
        self.self_times()
        with open(path, "w") as f:
            for rec in self.spans:
                f.write(json.dumps(rec, sort_keys=True) + "\n")


def jvm_peak_rss_mb(spark) -> float:
    """VmHWM of the Spark JVM (the driver, which holds every executor
    thread in local mode)."""
    pid = spark.sparkContext._gateway.proc.pid
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM missing from /proc status")
