"""Spans around the benchmark's calls into the engine's public functions.

With tracing off every wrapper is a plain call. With tracing on, a span
covers one call into a layer: the call itself (plan construction, recorded
as ``plan_s``) and, for a call that returns a lazy DataFrame, its
materialisation into the storage cache, so the layer's work is paid inside
its own span and downstream spans read the cached rows instead of
recomputing them; an offline job's span covers planning it and collecting
its rows. Each span runs under its own Spark job group; the jobs,
tasks, executor run time and shuffle/input bytes of that group are read
back from the SparkContext status store when the span ends and added to
the layer's module. Spans stay in memory until the run ends.
"""

from __future__ import annotations

import statistics
import time
from collections import defaultdict
from dataclasses import dataclass

from pyspark import StorageLevel
from pyspark.sql import DataFrame

#: Spark counters kept per module, as (metric suffix, StageData getter, scale)
SPARK_COUNTERS = (
    ("tasks", "numCompleteTasks", 1),
    ("executor_run_s", "executorRunTime", 1e-3),
    ("shuffle_bytes", "shuffleWriteBytes", 1),  # shuffle bytes written
    ("input_bytes", "inputBytes", 1),
)


#: the kinds of unit of work whose wall the spans should cover
UNITS = ("pass", "tick")


def module_of(layer: str) -> str:
    """The package module a layer (``<module>.<function>``) belongs to."""
    return layer.rsplit(".", 1)[0]


@dataclass
class Span:
    layer: str
    start: float
    end: float
    plan_s: float
    unit: int


class Tracer:
    """Per-run span recorder. ``enabled`` may be switched between units of
    work (passes, ticks, polls) so one traced run also times untraced
    units, which gives the tracing overhead."""

    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.sc = spark.sparkContext
        self.enabled = enabled
        self.spans: list[Span] = []
        self.counters: dict = defaultdict(float)
        self.units: list[tuple[str, bool, float, float]] = []
        self._cached: list[DataFrame] = []
        self._n = 0

    # -- units of work -------------------------------------------------
    def unit(self, kind: str, traced: bool) -> "_Unit":
        return _Unit(self, kind, traced)

    # -- spans ---------------------------------------------------------
    def df(self, layer: str, fn, *args, materialize: bool = True, **kw) -> DataFrame:
        """Call ``fn`` (returns a lazy DataFrame); when traced and
        ``materialize``, cache and count its rows inside the span."""
        if not self.enabled:
            return fn(*args, **kw)

        def run():
            out = fn(*args, **kw)
            t_plan = time.perf_counter()
            if materialize:
                out = out.persist(StorageLevel.MEMORY_AND_DISK)
                self._cached.append(out)
                self.counters[f"{layer}.rows"] += out.count()
            return out, t_plan

        return self._span(layer, run)

    def act(self, layer: str, fn, *args, **kw):
        """Call ``fn``, an action (write, collect) or a driver-side call."""
        if not self.enabled:
            return fn(*args, **kw)
        return self._span(layer, lambda: (fn(*args, **kw), None))

    def job(self, layer: str, plan, action):
        """``action(plan())``: build a DataFrame, then run it; ``plan_s`` is
        the time ``plan`` took."""
        if not self.enabled:
            return action(plan())

        def run():
            df = plan()
            t_plan = time.perf_counter()
            return action(df), t_plan

        return self._span(layer, run)

    def add(self, name: str, value: float) -> None:
        if self.enabled:
            self.counters[name] += value

    def _span(self, layer: str, run):
        self._n += 1
        group = f"perfbench-{self._n}"
        self.sc.setJobGroup(group, layer)
        t0 = time.perf_counter()
        try:
            out, t_plan = run()
        finally:
            t1 = time.perf_counter()
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        self.spans.append(Span(layer, t0, t1, (t_plan or t1) - t0, len(self.units)))
        self._read_counters(module_of(layer), group)
        return out

    def _read_counters(self, module: str, group: str) -> None:
        tracker = self.sc.statusTracker()
        store = self.sc._jsc.sc().statusStore()
        jobs = tracker.getJobIdsForGroup(group)
        self.counters[f"spark.{module}.jobs"] += len(jobs)
        stages = set()
        for job in jobs:
            info = tracker.getJobInfo(job)
            if info is not None:
                stages.update(int(s) for s in info.stageIds)
        for sid in stages:
            try:
                data = store.lastStageAttempt(sid)
            except Exception:  # evicted from the status store; counted below
                self.counters["trace.stages_missing"] += 1
                continue
            if str(data.status()) != "COMPLETE":
                continue
            for name, getter, scale in SPARK_COUNTERS:
                self.counters[f"spark.{module}.{name}"] += getattr(data, getter)() * scale

    def release(self) -> None:
        """Drop the rows cached by traced spans of the finished unit."""
        for df in self._cached:
            df.unpersist(False)
        self._cached.clear()

    # -- reporting -----------------------------------------------------
    def layer_metrics(self, layers, job_modules, units: int) -> dict:
        """Per-call means of every traced layer (``busy_s``, ``plan_s``) and,
        per traced unit of work, the Spark counters of every module in
        ``job_modules``; layers never called report 0."""
        calls: dict = defaultdict(int)
        busy: dict = defaultdict(float)
        plan: dict = defaultdict(float)
        for s in self.spans:
            calls[s.layer] += 1
            busy[s.layer] += s.end - s.start
            plan[s.layer] += s.plan_s
        out = {}
        for layer in layers:
            n = calls[layer] or 1
            out[f"{layer}.busy_s"] = busy[layer] / n
            out[f"{layer}.plan_s"] = plan[layer] / n
        for module in job_modules:
            for name in ("jobs",) + tuple(c[0] for c in SPARK_COUNTERS):
                out[f"spark.{module}.{name}"] = self.counters[f"spark.{module}.{name}"] / units
        return out

    def accounting(self) -> dict:
        """Tracing overhead and the share of traced wall the spans cover.

        ``trace.overhead_s``: median wall of a traced unit minus that of an
        untraced unit of the same kind, summed over unit kinds.
        ``trace.unattributed_s``: per traced unit, its wall minus the time
        its spans cover, as a median."""
        overhead = 0.0
        for kind in sorted({u[0] for u in self.units}):
            on = [u[3] - u[2] for u in self.units if u[0] == kind and u[1]]
            off = [u[3] - u[2] for u in self.units if u[0] == kind and not u[1]]
            if on and off:
                overhead += statistics.median(on) - statistics.median(off)
        covered: dict = defaultdict(float)
        for s in self.spans:
            covered[s.unit] += s.end - s.start
        gaps = [
            (u[3] - u[2]) - covered[i]
            for i, u in enumerate(self.units)
            if u[1] and u[0] in UNITS
        ]
        return {
            "trace.overhead_s": overhead,
            "trace.unattributed_s": statistics.median(gaps) if gaps else 0.0,
        }


class _Unit:
    def __init__(self, tracer: Tracer, kind: str, traced: bool):
        self.tracer, self.kind, self.traced = tracer, kind, traced

    def __enter__(self):
        self.prev = self.tracer.enabled
        self.tracer.enabled = self.traced
        self.t0 = time.perf_counter()
        return self

    def __exit__(self, *exc):
        t1 = time.perf_counter()
        tr = self.tracer
        # spans of this unit were recorded with unit index len(units)
        tr.units.append((self.kind, self.traced, self.t0, t1))
        tr.release()
        tr.enabled = self.prev
        return False
