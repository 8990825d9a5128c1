"""Per-layer tracing: spans kept in memory plus Spark status-store deltas.

``Tracer.span(name)`` records wall time around one call into a layer and,
because every span snapshots Spark's status stores at entry and exit, the
jobs, stages, tasks, executor time and shuffle/spill bytes that the call
caused. Both stores are read through Py4J and work with
``spark.ui.enabled=false``:

- ``AppStatusStore`` (stages, jobs). In Spark 4.1 ``stageList`` takes five
  arguments ``(statuses, details, withSummaries, quantiles, taskStatus)``.
- ``SQLAppStatusStore`` (per-operator SQL metrics such as the MapInPandas
  Python-worker time), read from the plan graph of each new execution.
"""

from __future__ import annotations

import re
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

# AppStatusStore stage fields summed by a delta, with their unit scale
_STAGE_FIELDS = {
    "executor_run_s": ("executorRunTime", 1e-3),
    "executor_cpu_s": ("executorCpuTime", 1e-9),
    "jvm_gc_s": ("jvmGcTime", 1e-3),
    "shuffle_write_bytes": ("shuffleWriteBytes", 1),
    "shuffle_read_bytes": ("shuffleReadBytes", 1),
    "spill_bytes": ("diskBytesSpilled", 1),
    "tasks": ("numTasks", 1),
}

_UNIT_SCALE = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
               "B": 1, "KiB": 1024, "MiB": 1024**2, "GiB": 1024**3}


def _iter(seq):
    """Iterate a Scala collection returned through Py4J."""
    it = seq.iterator()
    while it.hasNext():
        yield it.next()


def parse_sql_metric(text: str) -> float:
    """Total of one formatted SQL metric. Timing and size metrics print as
    ``"total (min, med, max ...)\\n1.2 s (...)"``; plain sums as a number."""
    lines = text.strip().splitlines()
    first = lines[-1] if lines[0].startswith("total") else lines[0]
    m = re.match(r"\s*([0-9][0-9,]*(?:\.[0-9]+)?)\s*([A-Za-z]*)", first)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNIT_SCALE.get(m.group(2), 1.0)


@dataclass
class Snapshot:
    wall: float
    stages: set
    jobs: set
    executions: set


@dataclass
class Span:
    name: str
    parent: str | None
    start: float
    end: float = 0.0
    counters: dict = field(default_factory=dict)

    @property
    def seconds(self) -> float:
        return self.end - self.start


class StatusStore:
    """Snapshots and deltas of one SparkContext's status stores."""

    def __init__(self, spark, cores: int):
        sc = spark.sparkContext
        gw = sc._gateway
        self._sc = sc._jsc.sc()
        self._app = self._sc.statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._all = gw.jvm.java.util.ArrayList()
        self._no_quantiles = gw.new_array(gw.jvm.double, 0)
        self.cores = cores

    def _stages(self):
        # (statuses, details, withSummaries, quantiles, taskStatus)
        return _iter(self._app.stageList(self._all, False, False, self._no_quantiles, self._all))

    def snapshot(self) -> Snapshot:
        self._sc.listenerBus().waitUntilEmpty()
        return Snapshot(
            wall=time.perf_counter(),
            stages={(s.stageId(), s.attemptId()) for s in self._stages()},
            jobs={j.jobId() for j in _iter(self._app.jobsList(self._all))},
            executions={e.executionId() for e in _iter(self._sql.executionsList())},
        )

    def delta(self, before: Snapshot) -> dict:
        """Counters caused between ``before`` and now, ``spark.*`` named."""
        after = self.snapshot()
        out = {f"spark.{k}": 0.0 for k in _STAGE_FIELDS}
        n_stages = 0
        for s in self._stages():
            if (s.stageId(), s.attemptId()) in before.stages:
                continue
            n_stages += 1
            for k, (getter, scale) in _STAGE_FIELDS.items():
                out[f"spark.{k}"] += getattr(s, getter)() * scale
            out["spark.spill_bytes"] += s.memoryBytesSpilled()
        wall = after.wall - before.wall
        out["spark.stages"] = n_stages
        out["spark.jobs"] = len(after.jobs - before.jobs)
        out["spark.driver_s"] = wall - out["spark.executor_run_s"] / self.cores
        out["spark.wall_s"] = wall
        out["executions"] = self.executions(after.executions - before.executions)
        out["sql"] = {}
        for e in out["executions"]:
            for k, v in e["metrics"].items():
                out["sql"][k] = out["sql"].get(k, 0.0) + v
        return out

    def executions(self, ids) -> list[dict]:
        """SQL executions with their plan text, completion time (epoch s)
        and ``{"<operator>.<metric>": total}`` metrics."""
        out = []
        for e in _iter(self._sql.executionsList()):
            eid = e.executionId()
            if eid not in ids:
                continue
            values = self._sql.executionMetrics(eid)
            metrics: dict[str, float] = {}
            for node in _iter(self._sql.planGraph(eid).allNodes()):
                for m in _iter(node.metrics()):
                    v = values.get(m.accumulatorId())
                    if v.isDefined():
                        key = f"{node.name()}.{m.name()}"
                        metrics[key] = metrics.get(key, 0.0) + parse_sql_metric(v.get())
            done = e.completionTime()
            out.append(
                {
                    "id": eid,
                    "plan": e.physicalPlanDescription(),
                    "completed": done.get().getTime() / 1000 if done.isDefined() else time.time(),
                    "metrics": metrics,
                }
            )
        return out


class Tracer:
    """Spans around calls into the program's layers, kept in memory."""

    def __init__(self, store: StatusStore):
        self.store = store
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1].name if self._stack else None
        before = self.store.snapshot()
        sp = Span(name, parent, time.perf_counter())
        self._stack.append(sp)
        try:
            yield sp
        finally:
            self._stack.pop()
            sp.end = time.perf_counter()
            sp.counters = self.store.delta(before)
            self.spans.append(sp)

    def to_json(self) -> list[dict]:
        return [
            {"name": s.name, "parent": s.parent, "start": s.start, "end": s.end,
             "counters": {k: v for k, v in s.counters.items() if k.startswith("spark.")},
             "sql": s.counters.get("sql", {})}
            for s in self.spans
        ]
