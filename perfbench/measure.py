"""Timing and tracing around calls into the engine, from the outside.

``Tracer`` times operations and the steps inside them. With tracing on it
also puts each step under its own Spark job group and, once the
operation has finished, reads from Spark's status stores the jobs the
step ran, their stages and task metrics, the SQL metrics of the Python
workers, and the engine's own counters (``checkpoint.CHECKPOINT_SEQ``,
the shared-build wall registries). Spans stay in memory until ``dump``.

``run_query`` is the one "construct, execute to the noop sink, record"
step the benchmark uses for registered queries.
"""

from __future__ import annotations

import contextlib
import json
import re
import time
from collections.abc import Iterator
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

IDLE_GROUP = "perfbench-idle"
# per-op sums read from each completed stage of the status store
STAGE_FIELDS = {
    "tasks": lambda s: s.numTasks(),
    "run_s": lambda s: s.executorRunTime() / 1e3,
    "cpu_s": lambda s: s.executorCpuTime() / 1e9,
    "gc_s": lambda s: s.jvmGcTime() / 1e3,
    "input_mb": lambda s: s.inputBytes() / 2**20,
    "shuffle_read_mb": lambda s: s.shuffleReadBytes() / 2**20,
    "shuffle_write_mb": lambda s: s.shuffleWriteBytes() / 2**20,
    "spill_mb": lambda s: (s.memoryBytesSpilled() + s.diskBytesSpilled()) / 2**20,
}
_PY_RUN_METRIC = "time to run Python workers"
_DURATION = re.compile(r"([\d.]+) (ms|s|m|h)\b")
_UNIT_S = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}


@dataclass
class Span:
    op_id: int
    name: str
    start: float  # epoch seconds
    end: float
    parent: str | None

    @property
    def id(self) -> str:
        return f"{self.op_id}/{self.name}"


@dataclass
class Op:
    op_id: int
    name: str
    wall_s: float = 0.0
    steps: dict[str, float] = field(default_factory=dict)  # step name -> seconds
    counts: dict[str, float] = field(default_factory=dict)  # traced layer counts
    error: str | None = None


def _engine_counters() -> tuple[int, dict[str, float]]:
    from api_etl_pipeline_spark import checkpoint
    from bench import shared_walls

    return checkpoint.CHECKPOINT_SEQ, shared_walls()


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of [lo, hi] covered by the union of ``intervals``."""
    total, cur = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, cur), min(b, hi)
        if b > a:
            total += b - a
            cur = b
    return total


def _seq(scala_seq) -> list:
    return [scala_seq.apply(i) for i in range(scala_seq.size())]


class Tracer:
    def __init__(self, spark: SparkSession, enabled: bool) -> None:
        self.spark = spark
        self.enabled = enabled
        self.spans: list[Span] = []
        self.ops: list[Op] = []
        self.cost_s = 0.0  # time spent in tracing bookkeeping
        self._sql_seen = -1  # highest SQL execution id already read
        self._groups: dict[str, str] = {}  # step name -> job group of the open op
        if enabled:
            sc = spark.sparkContext
            self._store = sc._jsc.sc().statusStore()
            self._bus = sc._jsc.sc().listenerBus()
            self._sql = spark._jsparkSession.sharedState().statusStore()
            self._no_tasks = sc._jvm.java.util.ArrayList()
            self._quantiles = sc._gateway.new_array(sc._jvm.double, 2)
            self._quantiles[0], self._quantiles[1] = 0.5, 1.0

    # -- spans ------------------------------------------------------------

    @contextlib.contextmanager
    def op(self, name: str) -> Iterator[Op]:
        op = Op(op_id=len(self.ops), name=name)
        self.ops.append(op)
        self._groups = {}
        if self.enabled:
            c0 = time.perf_counter()
            seq0, walls0 = _engine_counters()
            self.cost_s += time.perf_counter() - c0
        start, t0 = time.time(), time.perf_counter()
        try:
            yield op
        finally:
            op.wall_s = time.perf_counter() - t0
            end = start + op.wall_s
            self.spans.append(Span(op.op_id, "op", start, end, None))
            if self.enabled:
                c0 = time.perf_counter()
                self.spark.sparkContext.setJobGroup(IDLE_GROUP, IDLE_GROUP)
                seq1, walls1 = _engine_counters()
                grew = {k: v - walls0.get(k, 0.0) for k, v in walls1.items()}
                grew = {k: v for k, v in grew.items() if v > 0}
                op.counts.update(
                    {
                        "checkpoint.calls": seq1 - seq0,
                        "memo.builds": len(grew),
                        "memo.shared_build_s": sum(grew.values()),
                    }
                )
                self._read_jobs(op)
                self.cost_s += time.perf_counter() - c0

    @contextlib.contextmanager
    def step(self, op: Op, name: str) -> Iterator[None]:
        if self.enabled:
            c0 = time.perf_counter()
            group = f"perfbench-{op.op_id}-{name}"
            self.spark.sparkContext.setJobGroup(group, name)
            self._groups[name] = group
            self.cost_s += time.perf_counter() - c0
        start, t0 = time.time(), time.perf_counter()
        try:
            yield
        finally:
            dt = time.perf_counter() - t0
            op.steps[name] = op.steps.get(name, 0.0) + dt
            self.spans.append(Span(op.op_id, name, start, start + dt, f"{op.op_id}/op"))

    # -- status store ------------------------------------------------------

    def _read_jobs(self, op: Op) -> None:
        """Job spans and stage sums for every step of ``op``."""
        self._bus.waitUntilEmpty(10_000)
        tracker = self.spark.sparkContext.statusTracker()
        sums = {f"exec.{k}": 0.0 for k in STAGE_FIELDS}
        n_jobs = n_stages = 0
        skew = 1.0
        job_ids: list[int] = []
        steps = {s.name: s for s in self.spans if s.op_id == op.op_id and s.name != "op"}
        intervals: dict[str, list[tuple[float, float]]] = {}
        for step, group in self._groups.items():
            for jid in sorted(tracker.getJobIdsForGroup(group)):
                job = self._store.job(jid)
                start = job.submissionTime().get().getTime() / 1e3
                done = job.completionTime()
                end = done.get().getTime() / 1e3 if done.isDefined() else time.time()
                self.spans.append(Span(op.op_id, f"job{jid}", start, end, f"{op.op_id}/{step}"))
                intervals.setdefault(step, []).append((start, end))
                job_ids.append(jid)
                if step == "construct":
                    op.counts["construct.jobs"] = op.counts.get("construct.jobs", 0) + 1
                n_jobs += 1
                for sid in _seq(job.stageIds()):
                    stage = self._store.stageAttempt(
                        sid, 0, False, self._no_tasks, True, self._quantiles
                    )._1()
                    if stage.status().toString() != "COMPLETE":
                        continue  # skipped: its shuffle output was reused
                    n_stages += 1
                    for k, f in STAGE_FIELDS.items():
                        sums[f"exec.{k}"] += f(stage)
                    dist = stage.taskMetricsDistributions()
                    if stage.numTasks() > 1 and dist.isDefined():
                        med, mx = (dist.get().executorRunTime().apply(i) for i in (0, 1))
                        skew = max(skew, mx / max(med, 1.0))
        self_s = sum(
            s.end - s.start - covered(intervals.get(name, []), s.start, s.end)
            for name, s in steps.items()
        )
        op.counts.update(sums)
        op.counts.update(
            {
                "exec.jobs": n_jobs,
                "exec.stages": n_stages,
                "exec.task_skew": skew,
                "driver.self_s": self_s,
                "arrow.run_s": self._python_worker_s(set(job_ids)),
            }
        )

    def _python_worker_s(self, job_ids: set[int]) -> float:
        """Sum of the "time to run Python workers" SQL metric over the SQL
        executions that ran any of ``job_ids``."""
        total = 0.0
        execs = self._sql.executionsList()
        for e in _seq(execs):
            eid = e.executionId()
            if eid <= self._sql_seen:
                continue
            self._sql_seen = max(self._sql_seen, eid)
            if not any(e.jobs().contains(j) for j in job_ids):
                continue
            py = [m for m in _seq(e.metrics()) if m.name() == _PY_RUN_METRIC]
            if not py:
                continue
            values = self._sql.executionMetrics(eid)
            for m in py:
                v = values.get(m.accumulatorId())
                if v.isDefined():
                    hit = _DURATION.search(v.get().splitlines()[-1])
                    if hit:
                        total += float(hit.group(1)) * _UNIT_S[hit.group(2)]
        return total

    def dump(self, path: str, extra: dict) -> None:
        doc = {
            **extra,
            "spans": [dict(vars(s), id=s.id) for s in self.spans],
            "ops": [vars(o) for o in self.ops],
        }
        with open(path, "w") as f:
            json.dump(doc, f, indent=1)


def catalyst_phases(df: DataFrame) -> dict[str, float]:
    """Plan ``df`` and return its QueryPlanningTracker phase times (ms).
    Planning here is extra work the noop write repeats, so only the
    traced run calls this."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    phases = qe.tracker().phases()
    out = {}
    for phase in ("analysis", "optimization", "planning"):
        summary = phases.get(phase)  # scala.Option
        out[f"catalyst.{phase}_ms"] = (
            float(summary.get().durationMs()) if summary.isDefined() else 0.0
        )
    return out


def run_query(spark: SparkSession, tracer: Tracer, spec, sf_dir: str) -> Op:
    """Construct ``spec`` over ``sf_dir`` and execute it to the noop sink."""
    with tracer.op(spec.name) as op:
        with tracer.step(op, "construct"):
            df = spec.fn(spark, sf_dir)
        if tracer.enabled:
            with tracer.step(op, "catalyst"):
                op.counts.update(catalyst_phases(df))
        with tracer.step(op, "execute"):
            df.write.mode("overwrite").format("noop").save()
    return op
