"""Layer spans for the traced run.

``Tracer.install`` wraps the package's functions at the bindings the
package itself calls (every module attribute that is the original function
object, and the methods of ``ParquetTable`` and ``BucketedParquetTable``).
Each call becomes a span: name, layer, start, end, parent. A span also sets
its own Spark job group and restores the caller's on exit, so the Spark
jobs a span's own code runs can be attributed to it. Spans stay in memory; counters are read from Spark's
status store after the timed region.

Spark is lazy: a scan runs in whichever span triggers the action, so its
cost is charged to that span, not to the span that built the plan.
"""

from __future__ import annotations

import functools
import sys
import time
from collections import defaultdict
from collections.abc import Callable
from dataclasses import dataclass, field

# layer -> [(module, function name, span name)]
FUNCTIONS = {
    "pipeline": [("aircan_spark.pipeline", "run", "run")],
    "sources": [("aircan_spark.sources", "read_resource", "read_resource")],
    "schema": [
        ("aircan_spark.schema", name, name)
        for name in ("sanitize_descriptor", "descriptor_to_struct",
                     "struct_to_descriptor", "decide_schema_action")
    ],
    "validate": [("aircan_spark.validate", "validate", "validate")],
    "rownum": [("aircan_spark.rownum", "with_row_number", "with_row_number")],
    "upsert": [("aircan_spark.upsert", "merge", "merge")],
    "export": [("aircan_spark.export", "export_ordered", "export_ordered")],
    "data": [("aircan_spark.data", "load_table", "load_table")],
}
# (module, class) -> {method: (layer, span name)}
METHODS = {
    ("aircan_spark.table", "ParquetTable"): {
        "overwrite": ("table", "write"), "append": ("table", "write"),
        "upsert": ("table", "write"), "read": ("table", "read"),
        "max_id": ("table", "max_id"),
    },
    ("aircan_spark.bucketed", "BucketedParquetTable"): {
        "overwrite": ("bucketed", "write"), "append": ("bucketed", "write"),
        "upsert": ("bucketed", "upsert"), "read": ("bucketed", "read"),
        "max_id": ("bucketed", "max_id"),
    },
}


@dataclass
class Span:
    sid: int
    layer: str
    name: str
    parent: int | None
    group: str
    start: float = 0.0
    end: float = 0.0
    child_s: float = 0.0
    extra: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start

    @property
    def self_s(self) -> float:
        return self.dur - self.child_s


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self.stack: list[Span] = []
        self.base_group: str | None = None
        self.overhead_s = 0.0  # time spent in the tracer's own bookkeeping
        self.hooks: dict[str, Callable] = {}  # "layer.name" -> fn(span, args, result)
        self.pre_hooks: dict[str, Callable] = {}  # "layer.name" -> fn(span, args)
        self._undo: list[tuple[object, str, object]] = []

    # ---- spans ---------------------------------------------------------------
    def _set_group(self, gid: str | None) -> None:
        self.sc.setLocalProperty("spark.jobGroup.id", gid)

    def span(self, layer: str, name: str, fn, *args, **kwargs):
        """Run ``fn`` as a span. The tracer's own work (job-group switches,
        hooks) is charged to no layer: it is counted as child time of the
        enclosing span and summed in ``overhead_s``, so the layers' self
        times plus that overhead add up to the enclosing span's wall time."""
        t0 = time.perf_counter()
        parent = self.stack[-1] if self.stack else None
        s = Span(len(self.spans), layer, name, parent.sid if parent else None,
                 f"pbspan{len(self.spans)}")
        self.spans.append(s)
        self.stack.append(s)
        pre = self.pre_hooks.get(f"{layer}.{name}")
        if pre is not None:
            pre(s, args)
        self._set_group(s.group)
        s.start = time.perf_counter()
        try:
            result = fn(*args, **kwargs)
        finally:
            s.end = time.perf_counter()
            self.stack.pop()
            self._set_group(parent.group if parent else self.base_group)
        hook = self.hooks.get(f"{layer}.{name}")
        if hook is not None:
            hook(s, args, result)
        t1 = time.perf_counter()
        self.overhead_s += (t1 - t0) - s.dur
        if parent is not None:
            parent.child_s += t1 - t0
        return result

    def _wrap(self, layer: str, name: str, fn):
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            return self.span(layer, name, fn, *args, **kwargs)

        return wrapper

    # ---- installation ---------------------------------------------------------
    def install(self) -> None:
        import importlib

        for layer, entries in FUNCTIONS.items():
            for mod_name, attr, name in entries:
                original = getattr(importlib.import_module(mod_name), attr)
                wrapped = self._wrap(layer, name, original)
                # rebind every module-level alias of the function object
                # (``from x import f`` copies), so calls through any binding
                # the package uses are traced
                for mod in list(sys.modules.values()):
                    if not getattr(mod, "__name__", "").startswith("aircan_spark"):
                        continue
                    for key, value in list(vars(mod).items()):
                        if value is original:
                            self._undo.append((mod, key, value))
                            setattr(mod, key, wrapped)
        for (mod_name, cls_name), methods in METHODS.items():
            cls = getattr(importlib.import_module(mod_name), cls_name)
            for meth, (layer, name) in methods.items():
                original = cls.__dict__[meth]
                self._undo.append((cls, meth, original))
                setattr(cls, meth, self._wrap(layer, name, original))

    def uninstall(self) -> None:
        while self._undo:
            obj, key, value = self._undo.pop()
            setattr(obj, key, value)

    def stage_counters(self) -> dict[int, dict]:
        """Spark counters of each span's own jobs, by span id."""
        by_group = group_counters(self.sc, [s.group for s in self.spans])
        return {s.sid: by_group[s.group] for s in self.spans}


def group_counters(sc, groups: list[str]) -> dict[str, dict]:
    """Spark counters of the jobs in each job group, summed over their
    stages' last attempts. A stage whose output a job reuses is listed in
    that job as SKIPPED and is not counted there; a stage is charged once,
    to the group whose job ran it."""
    tracker = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    jobs = {g: sorted(tracker.getJobIdsForGroup(g)) for g in groups}
    out = {g: defaultdict(float, jobs=len(js)) for g, js in jobs.items()}
    seen: set[int] = set()
    for job_id, g in sorted((j, g) for g, js in jobs.items() for j in js):
        info = tracker.getJobInfo(job_id)
        for stage_id in sorted(info.stageIds) if info else []:
            if stage_id in seen:
                continue
            seen.add(stage_id)
            try:
                st = store.lastStageAttempt(stage_id)
            except Exception:  # dropped from the status store
                continue
            if st.status().toString() == "SKIPPED":
                continue
            c = out[g]
            c["executor_cpu_s"] += st.executorCpuTime() / 1e9
            c["executor_run_s"] += st.executorRunTime() / 1e3
            c["input_bytes"] += st.inputBytes()
            c["output_records"] += st.outputRecords()
            c["shuffle_read_bytes"] += st.shuffleReadBytes()
            c["shuffle_write_bytes"] += st.shuffleWriteBytes()
            c["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
            c["tasks"] += st.numCompleteTasks() + st.numFailedTasks() + st.numKilledTasks()
            c["failed_tasks"] += st.numFailedTasks()
            sub, first = st.submissionTime(), st.firstTaskLaunchedTime()
            if sub.isDefined() and first.isDefined():
                c["sched_wait_s"] += max(0.0, (first.get().getTime() - sub.get().getTime()) / 1e3)
    return out
