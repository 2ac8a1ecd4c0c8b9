"""In-memory span tracing around the program's layer boundaries.

The benchmark installs wrappers from its own files on the names each
caller looks up (``plans.scheduler`` imports ``run_checktable``,
``run_command``, ``list_objects`` and ``load_table`` by name, so those
are wrapped in the scheduler's namespace; names a function imports at
call time are wrapped on their home module).  Each call records a span
``(name, start, end, parent)``; self time is a span's duration minus the
time its direct children cover.  Nothing is installed unless the run
asks for tracing, so end-to-end metrics are measured untraced.
"""

from __future__ import annotations

import functools
import importlib
import json
import statistics
import time
from dataclasses import dataclass

# span name -> (module, attribute) pairs it is installed on
WRAP_POINTS: dict[str, list[tuple[str, str]]] = {
    "session.get_spark": [("integritychecksforvldbs_spark.session", "get_spark")],
    "catalog.list_objects": [("integritychecksforvldbs_spark.plans.scheduler", "list_objects")],
    "catalog.footer_stats": [("integritychecksforvldbs_spark.operators.kernels", "footer_stats_df")],
    "loader.load_table": [
        ("integritychecksforvldbs_spark.plans.scheduler", "load_table"),
        ("integritychecksforvldbs_spark.operators.kernels", "load_table"),
        ("integritychecksforvldbs_spark.sources.loader", "load_table"),
    ],
    "selector.select_databases": [
        ("integritychecksforvldbs_spark.plans.scheduler", "select_databases"),
    ],
    "kernels.checktable": [("integritychecksforvldbs_spark.plans.scheduler", "run_checktable")],
    "kernels.checkalloc": [("integritychecksforvldbs_spark.plans.scheduler", "run_checkalloc")],
    "kernels.checkcatalog": [("integritychecksforvldbs_spark.plans.scheduler", "run_checkcatalog")],
    "kernels.extended_logical": [
        ("integritychecksforvldbs_spark.plans.scheduler", "run_extended_logical"),
    ],
    "kernels.checktable_incremental": [
        ("integritychecksforvldbs_spark.operators.kernels", "run_checktable_incremental"),
    ],
    "runner.run_command": [("integritychecksforvldbs_spark.plans.scheduler", "run_command")],
    "runner.log_flush": [("integritychecksforvldbs_spark.plans.runner", "CommandLog.flush")],
    "state.save": [("integritychecksforvldbs_spark.plans.state", "StateStore.save")],
    "state.load": [("integritychecksforvldbs_spark.plans.state", "StateStore._load")],
    "state.merge_inventory": [
        ("integritychecksforvldbs_spark.plans.state", "StateStore.merge_inventory"),
    ],
    "state.pick_next": [("integritychecksforvldbs_spark.plans.state", "StateStore.pick_next")],
    "scheduler.run": [("integritychecksforvldbs_spark.plans.scheduler", "IntegrityChecker.run")],
}

# spans with traced children, whose self time differs from their total
SELF_TIMED = ("scheduler.run", "runner.run_command", "kernels.checkalloc",
              "kernels.checktable_incremental")

SPARK_METRICS = ("jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s",
                 "input_mb", "shuffle_read_mb", "shuffle_write_mb", "spill_mb")


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None  # index into Tracer.spans

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    """Records spans while installed; the program runs one driver thread."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._undo: list[tuple[object, str, object]] = []

    def _enter(self, name: str) -> int:
        parent = self._stack[-1] if self._stack else None
        self.spans.append(Span(name, time.perf_counter(), 0.0, parent))
        self._stack.append(len(self.spans) - 1)
        return self._stack[-1]

    def _exit(self, idx: int) -> None:
        self.spans[idx].end = time.perf_counter()
        self._stack.pop()

    def wrapped(self, name: str, fn):
        @functools.wraps(fn)
        def inner(*args, **kwargs):
            if name == "runner.run_command" and kwargs.get("kernel") is not None:
                kwargs["kernel"] = self.wrapped("runner.kernel", kwargs["kernel"])
            idx = self._enter(name)
            try:
                return fn(*args, **kwargs)
            finally:
                self._exit(idx)
        return inner

    def install(self) -> None:
        for name, points in WRAP_POINTS.items():
            for module, attr in points:
                owner = importlib.import_module(module)
                if "." in attr:
                    cls, attr = attr.split(".")
                    owner = getattr(owner, cls)
                orig = owner.__dict__[attr]
                self._undo.append((owner, attr, orig))
                setattr(owner, attr, self.wrapped(name, orig))

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._undo):
            setattr(owner, attr, orig)
        self._undo.clear()

    def dump(self, path: str) -> None:
        """Write the recorded spans as JSON ``[name, start, end, parent]``
        rows, times in seconds from the first span."""
        t0 = self.spans[0].start if self.spans else 0.0
        with open(path, "w") as fh:
            json.dump([[s.name, s.start - t0, s.end - t0, s.parent] for s in self.spans], fh)

    def layer_metrics(self) -> dict[str, float]:
        """calls / total seconds per span name, self seconds for the
        spans with children, and the runner's own overhead per command
        (run_command minus its kernel, median, ms)."""
        child_time = [0.0] * len(self.spans)
        kernel_of: dict[int, float] = {}
        for s in self.spans:
            if s.parent is not None:
                child_time[s.parent] += s.dur
                if s.name == "runner.kernel":
                    kernel_of[s.parent] = s.dur
        out: dict[str, float] = {}
        for name in WRAP_POINTS:
            mine = [i for i, s in enumerate(self.spans) if s.name == name]
            out[f"{name}.calls"] = len(mine)
            out[f"{name}.s"] = sum(self.spans[i].dur for i in mine)
            if name in SELF_TIMED:
                out[f"{name}.self_s"] = sum(self.spans[i].dur - child_time[i] for i in mine)
        overheads = [
            (s.dur - kernel_of.get(i, 0.0)) * 1000.0
            for i, s in enumerate(self.spans) if s.name == "runner.run_command"
        ]
        out["runner.overhead_ms"] = statistics.median(overheads) if overheads else 0.0
        return out


class SparkCounters:
    """Stage- and job-level execution totals from the driver's status
    store, for the jobs that ran since :meth:`mark`."""

    def __init__(self, spark) -> None:
        self.spark = spark
        self._jobs0 = self._stages0 = -1

    def _store(self):
        return self.spark.sparkContext._jsc.sc().statusStore()

    def _settle(self) -> None:
        # the status store is fed asynchronously by the listener bus
        self.spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty(10_000)

    def _lists(self):
        jvm = self.spark._jvm
        gw = self.spark.sparkContext._gateway
        empty = jvm.java.util.ArrayList
        store = self._store()
        stages = store.stageList(empty(), False, False, gw.new_array(jvm.double, 0), empty())
        jobs = store.jobsList(empty())
        as_java = jvm.scala.jdk.javaapi.CollectionConverters.asJava  # Scala Seq -> List
        return as_java(jobs), as_java(stages)

    def mark(self) -> None:
        self._settle()
        jobs, stages = self._lists()
        self._jobs0 = max((j.jobId() for j in jobs), default=-1)
        self._stages0 = max((s.stageId() for s in stages), default=-1)

    def totals(self) -> dict[str, float]:
        self._settle()
        jobs, stages = self._lists()
        mb = 1024.0 * 1024.0
        out = dict.fromkeys(SPARK_METRICS, 0.0)
        out["jobs"] = sum(1 for j in jobs if j.jobId() > self._jobs0)
        for s in stages:
            if s.stageId() <= self._stages0:
                continue
            out["stages"] += 1
            out["tasks"] += s.numTasks()
            out["executor_run_s"] += s.executorRunTime() / 1000.0
            out["executor_cpu_s"] += s.executorCpuTime() / 1e9
            out["input_mb"] += s.inputBytes() / mb
            out["shuffle_read_mb"] += s.shuffleReadBytes() / mb
            out["shuffle_write_mb"] += s.shuffleWriteBytes() / mb
            out["spill_mb"] += (s.diskBytesSpilled() + s.memoryBytesSpilled()) / mb
        return {f"spark.{k}": v for k, v in out.items()}


def plan_ms(df) -> float:
    """Catalyst analysis + optimization + physical planning of ``df``
    in ms; forcing ``executedPlan`` fills the tracker's phases."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    phases = qe.tracker().phases()
    return float(sum(
        phases.get(k).get().durationMs()
        for k in ("analysis", "optimization", "planning")
        if phases.get(k).isDefined()
    ))
