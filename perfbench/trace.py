"""Spans around calls into the engine, with Spark counters per span.

A span records name, start, end, parent and run id in memory; nothing
is written until the benchmark ends.  Spark work is attributed to the
innermost open span through ``setJobGroup``: when a span closes, the
jobs of its group are read back from the status store (which is kept
even with ``spark.ui.enabled=false``) and their stages summed.

With tracing off, ``span`` is a shared no-op context manager and no
job group is set, so the timed runs carry no tracing cost.
"""

from __future__ import annotations

import contextlib
import itertools
import time
from dataclasses import dataclass, field

from py4j.protocol import Py4JJavaError
from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

COUNTERS = (
    "jobs",
    "stages",
    "executor_run_ms",
    "executor_cpu_ms",
    "shuffle_write_bytes",
    "spill_bytes",
)


@dataclass
class Span:
    name: str
    run_id: int
    parent: int | None
    group: str
    start: float
    end: float = 0.0
    child_s: float = 0.0
    counters: dict[str, float] = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start

    @property
    def self_s(self) -> float:
        return self.dur - self.child_s


class Tracer:
    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.spans: list[Span] = []
        self.run_id = 0
        self.profile_s = 0.0  # counter reads and profile executions
        self._stack: list[int] = []
        self._ids = itertools.count()
        self._null = contextlib.nullcontext()

    def span(self, name: str):
        return self._span(name) if self.enabled else self._null

    @contextlib.contextmanager
    def _span(self, name: str):
        sc = self.spark.sparkContext
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        group = f"pb-{next(self._ids)}"
        sp = Span(name, self.run_id, parent, group, time.perf_counter())
        self.spans.append(sp)
        self._stack.append(idx)
        sc.setJobGroup(group, name)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            if parent is not None:
                up = self.spans[parent]
                up.child_s += sp.dur
                sc.setJobGroup(up.group, up.name)
            else:
                sc._jsc.clearJobGroup()
            t = time.perf_counter()
            sp.counters = self._read_counters(group)
            self.profile_s += time.perf_counter() - t

    def _read_counters(self, group: str) -> dict[str, float]:
        sc = self.spark.sparkContext
        jsc = sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        out = dict.fromkeys(COUNTERS, 0.0)
        for job_id in sc.statusTracker().getJobIdsForGroup(group):
            out["jobs"] += 1
            stage_ids = store.job(job_id).stageIds().iterator()
            while stage_ids.hasNext():
                try:
                    st = store.lastStageAttempt(stage_ids.next())
                except Py4JJavaError:  # evicted or never attempted
                    continue
                if str(st.status()) != "COMPLETE":
                    continue
                out["stages"] += 1
                out["executor_run_ms"] += st.executorRunTime()
                out["executor_cpu_ms"] += st.executorCpuTime() / 1e6
                out["shuffle_write_bytes"] += st.shuffleWriteBytes()
                out["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
        return out

    def profile(self, name: str, df: DataFrame, transfer: bool = False) -> None:
        """Layer split of one returned DataFrame: ``plan_s`` (physical
        planning), ``exec_s`` (a noop-format write, with counters and
        ``rows_out``) and, with ``transfer``, ``transfer_s`` (collect
        minus noop).  Traced runs only: it executes the plan again."""
        if not self.enabled:
            return
        t, before = time.perf_counter(), self.profile_s
        with self.span(f"{name}.plan"):
            df._jdf.queryExecution().executedPlan()
        obs = Observation(f"pb_rows_{len(self.spans)}")
        with self.span(f"{name}.exec") as ex:
            df.observe(obs, F.count(F.lit(1)).alias("rows")).write.format("noop").mode("overwrite").save()
        ex.counters["rows_out"] = float(obs.get["rows"])
        if transfer:
            # against a second noop write: the first one compiled the plan
            with self.span(f"{name}.collect") as col:
                df.collect()
            with self.span(f"{name}.rerun") as rerun:
                df.write.format("noop").mode("overwrite").save()
            col.counters["transfer_s"] = col.dur - rerun.dur
        self.profile_s = before + time.perf_counter() - t  # includes the counter reads above

    def total(self, name: str, attr: str) -> float:
        """Sum of ``attr`` (``self_s``, ``dur`` or a counter) over spans named ``name``."""
        return float(
            sum(getattr(s, attr) if attr in ("self_s", "dur") else s.counters.get(attr, 0.0) for s in self.spans if s.name == name)
        )

    def records(self) -> list[dict]:
        """The spans as plain records, times relative to the first span."""
        t0 = self.spans[0].start if self.spans else 0.0
        return [
            {
                "name": s.name,
                "run_id": s.run_id,
                "parent": s.parent,
                "start": s.start - t0,
                "end": s.end - t0,
                "self_s": s.self_s,
                **s.counters,
            }
            for s in self.spans
        ]
