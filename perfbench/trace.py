"""Spans around the benchmark's calls into the program, and the Spark
job, stage and task counts behind each of them.

Each timed operation (one endpoint request, one catalog query, one ANN
search batch, one prep job, one ingest or merge) is an *op*. Inside it
the workload marks child spans:

- ``construct``: from the public call to the returned DataFrame(s),
  including every eager job the call runs;
- ``plan``: Catalyst optimization and physical planning of the frame(s)
  the op executes (traced runs force it, so it can be timed apart);
- ``exec``: the action.

The rest of the op's wall time is the driver gap: benchmark-side Python
between the spans.

With tracing off an op records only its wall time. With tracing on the
spans are kept in memory and written as JSONL at exit; after each op the
Spark status store (it works with the UI off) gives the op's jobs,
stages and tasks. The status store is read between ops, outside their
wall time.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

# per-op quantities every layer reports (README.md defines each)
QUANTITIES = (
    "construct_s", "construct_jobs", "plan_s", "exec_s", "jobs", "stages",
    "tasks", "task_run_s", "task_cpu_s", "task_offcpu_s",
    "shuffle_write_bytes", "spill_bytes", "sched_gap_s",
)
LAYERS = ("normalize", "upsert", "yelp_queries", "catalog", "dedup", "ann_index")


@dataclass
class Op:
    op_id: int
    layer: str
    name: str
    start: float = 0.0
    end: float = 0.0
    spans: list = field(default_factory=list)
    frames: list = field(default_factory=list)
    counts: dict = field(default_factory=dict)
    rows_returned: int = 0

    @property
    def wall(self) -> float:
        return self.end - self.start


def _opt_ms(opt) -> float | None:
    """A Scala ``Option[java.util.Date]`` as epoch seconds."""
    return opt.get().getTime() / 1000.0 if opt.isDefined() else None


def _union_within(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    covered, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                covered += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        covered += cur_hi - cur_lo
    return covered


class Tracer:
    """Times ops; with ``enabled`` also records spans and Spark counts."""

    def __init__(self, spark, enabled: bool) -> None:
        self.enabled = enabled
        self.ops: list[Op] = []
        self.probe_s = 0.0  # time spent reading the status store
        self._cur: Op | None = None
        if enabled:
            jsc = spark.sparkContext._jsc.sc()
            self._jsc = jsc
            self._store = jsc.statusStore()
            jvm = spark.sparkContext._jvm
            self._no_status = jvm.java.util.ArrayList()
            self._no_quantiles = spark.sparkContext._gateway.new_array(jvm.double, 0)
            self._next_job = 0
            self._new_jobs()  # skip jobs run before the first op

    # ---- spans -------------------------------------------------------

    @contextmanager
    def op(self, layer: str, name: str):
        op = Op(len(self.ops), layer, name)
        self._cur = op
        op.start = time.time()
        try:
            yield op
        finally:
            op.end = time.time()
            self._cur = None
            self.ops.append(op)
            if self.enabled:
                t0 = time.time()
                self._attach_counts(op)
                self.probe_s += time.time() - t0

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        start = time.time()
        try:
            yield
        finally:
            self._cur.spans.append((name, start, time.time()))

    def plan(self, *frames) -> None:
        """Traced runs only: plan ``frames`` now, inside a ``plan`` span,
        and keep their Catalyst phase times. An action on the same frame
        reuses the plan; a write plans its command again inside ``exec``."""
        if not self.enabled:
            return
        with self.span("plan"):
            for df in frames:
                qe = df._jdf.queryExecution()
                qe.executedPlan()
                self._cur.frames.append(qe)

    # ---- Spark counts --------------------------------------------------

    def _new_jobs(self) -> list:
        from py4j.protocol import Py4JJavaError

        self._jsc.listenerBus().waitUntilEmpty()
        jobs = []
        while True:
            try:
                jobs.append(self._store.job(self._next_job))
            except Py4JJavaError as ex:
                if ex.java_exception.getClass().getName() != "java.util.NoSuchElementException":
                    raise
                return jobs  # no such job yet: every job so far is read
            self._next_job += 1

    def _attach_counts(self, op: Op) -> None:
        spans = {n: (a, b) for n, a, b in op.spans}
        c_lo, c_hi = spans.get("construct", (op.start, op.start))
        e_lo, e_hi = spans.get("exec", (op.end, op.end))
        c = dict.fromkeys(QUANTITIES, 0.0)
        c["construct_s"] = c_hi - c_lo
        c["exec_s"] = e_hi - e_lo
        c["plan_s"] = sum(self._plan_phases_s(qe) for qe in op.frames)
        running: list[tuple[float, float]] = []
        input_records = 0
        for job in self._new_jobs():
            c["jobs"] += 1
            submitted = _opt_ms(job.submissionTime())
            if submitted is not None and c_lo <= submitted <= c_hi:
                c["construct_jobs"] += 1
            ids = job.stageIds()
            for i in range(ids.size()):
                attempts = self._store.stageData(
                    ids.apply(i), False, self._no_status, False, self._no_quantiles)
                for k in range(attempts.size()):
                    s = attempts.apply(k)
                    if s.numCompleteTasks() == 0:
                        continue  # skipped: its shuffle output was reused
                    c["stages"] += 1
                    c["tasks"] += s.numCompleteTasks()
                    c["task_run_s"] += s.executorRunTime() / 1e3
                    c["task_cpu_s"] += s.executorCpuTime() / 1e9
                    c["shuffle_write_bytes"] += s.shuffleWriteBytes()
                    c["spill_bytes"] += s.memoryBytesSpilled() + s.diskBytesSpilled()
                    input_records += s.inputRecords()
                    first, done = _opt_ms(s.firstTaskLaunchedTime()), _opt_ms(s.completionTime())
                    if first is not None and done is not None:
                        running.append((first, done))
        c["task_offcpu_s"] = max(0.0, c["task_run_s"] - c["task_cpu_s"])
        c["sched_gap_s"] = max(0.0, c["exec_s"] - _union_within(running, e_lo, e_hi))
        c["input_records"] = input_records
        op.counts = c

    @staticmethod
    def _plan_phases_s(qe) -> float:
        phases = qe.tracker().phases()
        total = 0.0
        for name in ("optimization", "planning"):
            p = phases.get(name)
            if p.isDefined():
                total += p.get().durationMs() / 1e3
        return total

    # ---- reports -------------------------------------------------------

    @staticmethod
    def driver_gap(op: Op) -> float:
        """The op's wall time that no span covers (negative if spans overlap)."""
        return op.wall - sum(b - a for _, a, b in op.spans)

    def write_jsonl(self, path) -> None:
        with open(path, "w") as f:
            for op in self.ops:
                f.write(json.dumps({"op": op.op_id, "name": f"{op.layer}:{op.name}",
                                    "parent": None, "start": op.start, "end": op.end,
                                    "counts": op.counts}) + "\n")
                for name, a, b in op.spans:
                    f.write(json.dumps({"op": op.op_id, "name": name,
                                        "parent": f"{op.layer}:{op.name}",
                                        "start": a, "end": b}) + "\n")
