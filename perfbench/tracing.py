"""Per-op timing, spans and Spark counters, recorded from outside the library.

An op runs in phases (``build``, ``plan``, ``exec``). :class:`Tracer`
times each phase. With tracing on it also

- records a span per phase (name, start, end, parent, op id), kept in
  memory and written out once at the end of the run;
- runs each phase under its own Spark job group, ``<op id>:<op>:<phase>``,
  so every job, stage and shuffle byte can be attributed to the op;
- reads the jobs' counters from the status store after the op ends,
  once the listener bus that fills the store has drained and every job
  the op started has ended.

With tracing off it records only the op's phase times, so the timed
loop pays nothing for the bookkeeping.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

PHASES = ("build", "plan", "exec")
COUNTERS = ("build_jobs", "jobs", "stages", "shuffle_records",
            "shuffle_bytes", "cpu_ms")
JOB_ENDED = ("SUCCEEDED", "FAILED")
SETTLE_S = 60.0  # longest wait for an op's jobs to end once the op has returned


class CounterError(RuntimeError):
    """The status store does not hold a finished record of the op's work."""


@dataclass
class OpRecord:
    """One completed op: phase wall times (s) and, when traced, counters."""

    op_id: int
    name: str
    role: str
    start: float = 0.0
    end: float = 0.0
    phases: dict[str, float] = field(default_factory=dict)
    counters: dict[str, float] = field(default_factory=dict)

    @property
    def wall(self) -> float:
        return self.end - self.start


def _merged_length(intervals: list[tuple[float, float]]) -> float:
    total, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in sorted(intervals):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


class Tracer:
    def __init__(self, spark, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self.regions: dict[str, float] = {}  # set-up step -> seconds
        self.self_time = 0.0  # seconds spent in tracing bookkeeping
        self._sc = spark.sparkContext
        self._op: OpRecord | None = None

    # ---------------- spans ----------------
    def _span(self, name: str, start: float, end: float, parent: str | None,
              op_id: int | None) -> None:
        self.spans.append({"name": name, "start": start, "end": end,
                           "parent": parent, "op_id": op_id})

    @contextmanager
    def region(self, name: str):
        """A timed set-up step outside any op; a span when tracing."""
        t0 = time.time()
        try:
            yield
        finally:
            t1 = time.time()
            self.regions[name] = self.regions.get(name, 0.0) + (t1 - t0)
            if self.enabled:
                self._span(name, t0, t1, None, None)

    @contextmanager
    def op(self, op_id: int, name: str, role: str):
        rec = OpRecord(op_id, name, role, start=time.time())
        self._op = rec
        try:
            yield rec
        finally:
            rec.end = time.time()
            self._op = None
            if self.enabled:
                self._span(name, rec.start, rec.end, role, op_id)
                t0 = time.perf_counter()
                self._sc.setLocalProperty("spark.jobGroup.id", None)
                rec.counters = self._counters(rec)
                self.self_time += time.perf_counter() - t0

    @contextmanager
    def phase(self, phase: str):
        rec = self._op
        if self.enabled:
            t0 = time.perf_counter()
            self._sc.setJobGroup(self._group(rec, phase), phase)
            self.self_time += time.perf_counter() - t0
        start = time.time()
        try:
            yield
        finally:
            end = time.time()
            rec.phases[phase] = rec.phases.get(phase, 0.0) + (end - start)
            if self.enabled:
                self._span(f"{rec.name}.{phase}", start, end, rec.name,
                           rec.op_id)

    @staticmethod
    def _group(rec: OpRecord, phase: str) -> str:
        return f"{rec.op_id}:{rec.name}:{phase}"

    # ---------------- Spark counters ----------------
    def _ended_jobs(self, rec: OpRecord) -> list[tuple[str, int, object]]:
        """(phase, job id, store record) of every job the op's phases ran,
        once none of them is still running.

        The store is filled on the listener bus, which can lag behind the
        action's return, so the bus is drained before each read. A job can
        also outlive the action that started it: adaptive execution runs
        sibling query stages concurrently and does not wait for one whose
        output a re-optimised plan no longer reads. Such jobs are waited
        for, so the counts do not depend on when they are read."""
        bus = self._sc._jsc.sc().listenerBus()
        tracker = self._sc.statusTracker()
        store = self._sc._jsc.sc().statusStore()
        deadline = time.monotonic() + SETTLE_S
        while True:
            bus.waitUntilEmpty()
            jobs = [(phase, jid, store.job(jid)) for phase in PHASES
                    for jid in tracker.getJobIdsForGroup(self._group(rec, phase))]
            running = [jid for _, jid, job in jobs
                       if job.status().toString() not in JOB_ENDED]
            if not running:
                return jobs
            if time.monotonic() > deadline:
                raise CounterError(f"{rec.name}: jobs {running} did not end")
            time.sleep(0.01)

    def _counters(self, rec: OpRecord) -> dict[str, float]:
        """The op's job, stage and shuffle counters from the status store.

        Every job the op ran counts, including one Spark cancelled because
        its output was no longer needed (it ends ``FAILED`` while the op
        succeeds). Stages count when complete; a skipped stage reused
        earlier shuffle output, and a cancelled one did not finish. A stage
        in any other state fails the op rather than being undercounted."""
        store = self._sc._jsc.sc().statusStore()
        no_quantiles = self._sc._gateway.new_array(
            self._sc._gateway.jvm.double, 0)
        out = {k: 0.0 for k in COUNTERS}
        job_spans = []
        for phase, jid, job in self._ended_jobs(rec):
            out["jobs"] += 1
            if phase == "build":
                out["build_jobs"] += 1
            if job.submissionTime().isDefined() and job.completionTime().isDefined():
                job_spans.append((job.submissionTime().get().getTime() / 1e3,
                                  job.completionTime().get().getTime() / 1e3))
            cancelled = job.status().toString() == "FAILED"
            stage_ids = job.stageIds()
            for i in range(stage_ids.size()):
                attempts = store.stageData(stage_ids.apply(i), False, None,
                                           False, no_quantiles)
                for a in range(attempts.size()):
                    st = attempts.apply(a)
                    status = st.status().toString()
                    if status == "SKIPPED" or (cancelled and status != "COMPLETE"):
                        continue
                    if status != "COMPLETE":
                        raise CounterError(
                            f"{rec.name}: stage {st.stageId()} of job {jid} is {status}")
                    out["stages"] += 1
                    out["shuffle_records"] += st.shuffleWriteRecords()
                    out["shuffle_bytes"] += st.shuffleWriteBytes()
                    out["cpu_ms"] += st.executorCpuTime() / 1e6
        clipped = [(max(lo, rec.start), min(hi, rec.end)) for lo, hi in job_spans
                   if hi > rec.start and lo < rec.end]
        out["driver_ms"] = max(0.0, rec.wall - _merged_length(clipped)) * 1e3
        return out

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans}, f)
