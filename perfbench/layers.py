"""Span and counter collector for the traced benchmark run.

The collector measures the engine from outside. It wraps the public
functions of the engine's modules (and the few PySpark methods that mark
a layer boundary: parquet sinks and materialization), records one span
per call, and tags every Spark job a span launches with a job group of
its own. After each op it reads Spark's status store -- stage metrics
through the status tracker and SQL plan metrics through the SQL status
store, both of which work with the UI off -- and folds them into a
per-layer table.

A span's self time is its duration minus the time its child spans
cover. Spans are nested calls on the single driver thread, so the
children of a span never overlap each other.

Nothing here is imported by an untraced run.
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import inspect
import os
import re
import sys
import time
from dataclasses import dataclass, field

from py4j.protocol import Py4JJavaError

PKG = "clearcare_data_pipeline_spark"

# (layer, module, functions); None wraps every public function the
# module defines itself.
FUNCTION_TARGETS = [
    ("etl", f"{PKG}.etl", ["run_etl"]),
    ("sources.extract", f"{PKG}.sources.extract_tall", ["extract_tall"]),
    ("sources.extract", f"{PKG}.sources.extract_wide", ["extract_wide"]),
    ("sources.extract", f"{PKG}.sources.extract_json", ["extract_json"]),
    ("sources.mrf", f"{PKG}.sources.mrf", None),
    ("pipeline", f"{PKG}.pipeline", ["run_cleaning_pipeline"]),
    ("sources.registry", f"{PKG}.sources.registry", ["load_registry", "lookup_campus", "upsert_campus"]),
    ("sources.tables", f"{PKG}.sources.tables", ["load_table"]),
    ("operators.dedup", f"{PKG}.operators.dedup", None),
    ("operators.similarity", f"{PKG}.operators.similarity", None),
]

MATERIALIZE_METHODS = ["localCheckpoint", "checkpoint", "persist", "cache"]

# Per-layer metrics the traced run reports, in BENCHMARK.json order.
LAYER_METRICS = {
    "session.start_s": "s",
    "sources.tables.calls": "count",
    "sources.tables.wall_s": "s",
    "sources.tables.jobs": "count",
    "sources.tables.repartitions": "count",
    "sources.mrf.wall_s": "s",
    "sources.mrf.jobs": "count",
    "sources.extract.wall_s": "s",
    "sources.extract.jobs": "count",
    "sources.registry.load_s": "s",
    "sources.registry.upsert_s": "s",
    "pipeline.wall_s": "s",
    "pipeline.jobs": "count",
    "pipeline.task_s": "s",
    "pipeline.cache_bytes": "bytes",
    "sinks.wall_s": "s",
    "sinks.bytes_written": "bytes",
    "sinks.files_written": "count",
    "sinks.write_amp": "ratio",
    "etl.self_s": "s",
    "etl.self_jobs": "count",
    "queries.plan_s": "s",
    "queries.plan_jobs": "count",
    "operators.dedup.wall_s": "s",
    "operators.similarity.wall_s": "s",
    "materialize.calls": "count",
    "materialize.wall_s": "s",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.task_s": "s",
    "exec.cpu_s": "s",
    "exec.gc_s": "s",
    "exec.spill_bytes": "bytes",
    "exec.scan_rows": "count",
    "exec.scan_bytes": "bytes",
    "exec.exchange_bytes": "bytes",
    "exec.agg_build_s": "s",
    "exec.broadcast_bytes": "bytes",
    "exec.broadcast_s": "s",
    "exec.sort_s": "s",
    "exec.python_s": "s",
    "exec.utilization": "ratio",
    "trace.overhead_s": "s",
}


@dataclass
class Span:
    sid: int
    layer: str
    name: str
    parent: "Span | None"
    start: float
    end: float = 0.0
    children: list["Span"] = field(default_factory=list)
    counters: dict[str, float] = field(default_factory=dict)
    own_jobs: list[int] = field(default_factory=list)

    @property
    def group(self) -> str:
        return f"perfbench-{self.sid}"

    @property
    def duration(self) -> float:
        return self.end - self.start

    @property
    def self_time(self) -> float:
        return self.duration - sum(c.duration for c in self.children)

    def walk(self):
        yield self
        for c in self.children:
            yield from c.walk()

    def jobs(self) -> list[int]:
        return [j for s in self.walk() for j in s.own_jobs]


# --- status-store reading -------------------------------------------------

_SIZE = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40, "PiB": 2**50}
_TIME = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}
_NUM = re.compile(r"^\s*(-?[\d,]+(?:\.\d+)?)\s*([A-Za-z]*)")


def parse_sql_metric(text: str) -> float:
    """Value of one formatted SQL metric, in bytes, seconds or units.

    The SQL status store renders metrics as text: ``"1.4 s"``,
    ``"64.0 MiB"``, ``"4,847"``, or, for metrics with per-task
    statistics, ``"total (min, med, max (stageId: taskId))\\n1.4 s (...)"``.
    """
    if "\n" in text:
        text = text.split("\n", 1)[1]
    m = _NUM.match(text)
    if not m:
        return 0.0
    value = float(m.group(1).replace(",", ""))
    unit = m.group(2)
    return value * _SIZE.get(unit, _TIME.get(unit, 1.0))


def _seq(scala_seq) -> list:
    return [scala_seq.apply(i) for i in range(scala_seq.size())]


def _iter(java_iterable) -> list:
    it = java_iterable.iterator()
    out = []
    while it.hasNext():
        out.append(it.next())
    return out


# SQL operator metrics folded into exec.* (operator prefix, metric name).
_SQL_FOLDS = [
    ("exec.agg_build_s", ("HashAggregate", "ObjectHashAggregate", "SortAggregate"), ("time in aggregation build",)),
    ("exec.broadcast_bytes", ("BroadcastExchange",), ("data size",)),
    ("exec.broadcast_s", ("BroadcastExchange",), ("time to collect", "time to build", "time to broadcast")),
    ("exec.sort_s", ("Sort",), ("sort time",)),
]


class StatusReader:
    """Reads stage and SQL plan metrics for finished jobs."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.tracker = self.sc.statusTracker()
        self.store = self.sc._jsc.sc().statusStore()
        self.sql_store = spark._jsparkSession.sharedState().statusStore()
        self._last_execution = -1

    def jobs_for_group(self, group: str) -> list[int]:
        return list(self.tracker.getJobIdsForGroup(group))

    def stage_ids(self, jobs: list[int]) -> list[int]:
        ids: set[int] = set()
        for j in jobs:
            info = self.tracker.getJobInfo(j)
            if info is not None:
                ids.update(info.stageIds)
        return sorted(ids)

    def stage_metrics(self, stage_id: int) -> dict[str, float] | None:
        """Metrics of the stage's last attempt; None for a stage that
        never ran (skipped because its shuffle output was reused)."""
        try:
            st = self.store.lastStageAttempt(stage_id)
        except Py4JJavaError:  # NoSuchElementException: stage not retained
            return None
        if st.status().toString() == "SKIPPED":
            return None
        return {
            "tasks": st.numCompleteTasks(),
            "task_s": st.executorRunTime() / 1e3,
            "cpu_s": st.executorCpuTime() / 1e9,
            "gc_s": st.jvmGcTime() / 1e3,
            "spill_bytes": st.memoryBytesSpilled() + st.diskBytesSpilled(),
            "scan_rows": st.inputRecords(),
            "scan_bytes": st.inputBytes(),
            "exchange_bytes": st.shuffleWriteBytes(),
            "python": self._runs_python(stage_id),
        }

    def _runs_python(self, stage_id: int) -> bool:
        """True when the stage's RDD graph holds a Python RDD or a
        Python-evaluation SQL operator."""
        try:
            graph = self.store.operationGraphForStage(stage_id)
        except Py4JJavaError:  # NoSuchElementException: graph not retained
            return False
        return self._cluster_has_python(graph.rootCluster())

    def _cluster_has_python(self, cluster) -> bool:
        if "Python" in cluster.name():
            return True
        if any("Python" in n.name() for n in _seq(cluster.childNodes())):
            return True
        return any(self._cluster_has_python(c) for c in _seq(cluster.childClusters()))

    def sql_metrics(self, jobs: set[int]) -> dict[str, float]:
        """Fold plan metrics of the SQL executions that ran any of
        ``jobs`` (executions newer than the last call only)."""
        out = {name: 0.0 for name, _, _ in _SQL_FOLDS}
        executions = _seq(self.sql_store.executionsList())
        for ex in executions:
            eid = ex.executionId()
            if eid <= self._last_execution:
                continue
            ex_jobs = {int(j) for j in _iter(ex.jobs().keySet())}
            if not ex_jobs & jobs:
                continue
            values = self.sql_store.executionMetrics(eid)
            for node in _iter(self.sql_store.planGraph(eid).allNodes()):
                node_name = node.name()
                for metric in _seq(node.metrics()):
                    for out_name, ops, names in _SQL_FOLDS:
                        if node_name.startswith(ops) and metric.name() in names:
                            v = values.get(metric.accumulatorId())
                            if v.isDefined():
                                out[out_name] += parse_sql_metric(v.get())
        if executions:
            self._last_execution = max(self._last_execution, max(e.executionId() for e in executions))
        return out

    def storage_bytes(self) -> int:
        infos = self.sc._jsc.sc().getRDDStorageInfo()
        return sum(i.memSize() + i.diskSize() for i in infos)


# --- tracer ----------------------------------------------------------------


def _dir_size(path: str) -> tuple[int, int]:
    files = nbytes = 0
    for root, _dirs, names in os.walk(path):
        for n in names:
            if n.startswith((".", "_")):
                continue
            files += 1
            nbytes += os.path.getsize(os.path.join(root, n))
    return files, nbytes


class Tracer:
    """Records spans around layer calls and folds one table per op."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.reader = StatusReader(spark)
        self.cores = self.sc.defaultParallelism
        self._next_sid = 0
        self._stack: list[Span] = []
        self._patches: list[tuple[object, str, object]] = []
        self.active = False
        self.ops: list[dict] = []

    # spans ---------------------------------------------------------------

    @contextlib.contextmanager
    def span(self, layer: str, name: str):
        parent = self._stack[-1] if self._stack else None
        s = Span(self._next_sid, layer, name, parent, time.perf_counter())
        self._next_sid += 1
        if parent is not None:
            parent.children.append(s)
        self._stack.append(s)
        self.sc.setJobGroup(s.group, f"{layer}:{name}", False)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            if parent is not None:
                self.sc.setJobGroup(parent.group, f"{parent.layer}:{parent.name}", False)
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)

    @contextlib.contextmanager
    def op(self, name: str, meta: dict | None = None):
        """Root span of one benchmark op; its layer table is folded and
        appended to ``self.ops`` once the op has finished."""
        with self.span("op", name) as root:
            yield root
        self.ops.append(self.fold(root, meta or {}))

    # wrapping ------------------------------------------------------------

    def _wrap(self, layer: str, fn, name: str):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with tracer.span(layer, name) as s:
                before = tracer.reader.storage_bytes() if layer == "pipeline" else 0
                result = fn(*args, **kwargs)
                if layer == "pipeline":
                    s.counters["cache_bytes"] = max(0, tracer.reader.storage_bytes() - before)
                elif layer == "sources.tables":
                    plan = result._jdf.queryExecution().logical()
                    s.counters["repartitions"] = int(plan.getClass().getSimpleName() == "Repartition")
                elif layer == "sinks":
                    path = args[1] if len(args) > 1 else kwargs["path"]
                    files, nbytes = _dir_size(path)
                    s.counters["files_written"] = files
                    s.counters["bytes_written"] = nbytes
                return result

        return wrapper

    def _patch_everywhere(self, fn, wrapper) -> None:
        """Replace ``fn`` in every loaded engine module: module globals
        (``from x import fn``) and module-level dicts (dispatch tables)."""
        for mod_name, mod in list(sys.modules.items()):
            if mod is None or not mod_name.startswith(PKG):
                continue
            for attr, value in list(vars(mod).items()):
                if value is fn:
                    self._patches.append((mod, attr, value))
                    setattr(mod, attr, wrapper)
                elif isinstance(value, dict):
                    for k, v in list(value.items()):
                        if v is fn:
                            self._patches.append((value, k, v))
                            value[k] = wrapper

    def install(self) -> None:
        from pyspark.sql.classic.dataframe import DataFrame
        from pyspark.sql.readwriter import DataFrameWriter

        for layer, mod_name, names in FUNCTION_TARGETS:
            mod = importlib.import_module(mod_name)
            if names is None:
                names = [
                    n for n, f in inspect.getmembers(mod, inspect.isfunction)
                    if not n.startswith("_") and f.__module__ == mod_name
                ]
            for n in names:
                fn = getattr(mod, n)
                self._patch_everywhere(fn, self._wrap(layer, fn, n))
        for cls, layer, names in (
            (DataFrameWriter, "sinks", ["parquet"]),
            (DataFrame, "materialize", MATERIALIZE_METHODS),
        ):
            for n in names:
                fn = cls.__dict__[n]
                self._patches.append((cls, n, fn))
                setattr(cls, n, self._wrap(layer, fn, n))
        self.active = True

    def uninstall(self) -> None:
        for target, key, value in reversed(self._patches):
            if isinstance(target, dict):
                target[key] = value
            else:
                setattr(target, key, value)
        self._patches.clear()
        self.active = False

    @contextlib.contextmanager
    def installed(self):
        self.install()
        try:
            yield self
        finally:
            self.uninstall()

    # folding -------------------------------------------------------------

    def fold(self, root: Span, meta: dict) -> dict:
        """Per-layer table of one finished op."""
        for s in root.walk():
            s.own_jobs = self.reader.jobs_for_group(s.group)
        stage_cache: dict[int, dict | None] = {}

        def stages_of(jobs: list[int]) -> list[dict]:
            out = []
            for sid in self.reader.stage_ids(jobs):
                if sid not in stage_cache:
                    stage_cache[sid] = self.reader.stage_metrics(sid)
                if stage_cache[sid] is not None:
                    out.append(stage_cache[sid])
            return out

        spans = list(root.walk())
        t: dict[str, float] = {name: 0.0 for name in LAYER_METRICS}

        def outermost(layer: str, name: str | None = None) -> list[Span]:
            """Spans of ``layer`` (and function ``name``) with no
            ancestor of the same layer, so nested calls count once."""
            picked = []
            for s in spans:
                if s.layer != layer or (name is not None and s.name != name):
                    continue
                p = s.parent
                while p is not None and p.layer != layer:
                    p = p.parent
                if p is None:
                    picked.append(s)
            return picked

        def wall(layer: str, name: str | None = None) -> float:
            return sum(s.duration for s in outermost(layer, name))

        def jobs(layer: str) -> list[int]:
            return [j for s in outermost(layer) for j in s.jobs()]

        t["sources.tables.calls"] = sum(1 for s in spans if s.layer == "sources.tables")
        t["sources.tables.wall_s"] = wall("sources.tables")
        t["sources.tables.jobs"] = len(jobs("sources.tables"))
        t["sources.tables.repartitions"] = sum(s.counters.get("repartitions", 0) for s in spans)
        for layer in ("sources.mrf", "sources.extract", "pipeline"):
            t[f"{layer}.wall_s"] = wall(layer)
            t[f"{layer}.jobs"] = len(jobs(layer))
        t["pipeline.task_s"] = sum(m["task_s"] for m in stages_of(jobs("pipeline")))
        t["pipeline.cache_bytes"] = sum(s.counters.get("cache_bytes", 0) for s in spans)
        t["sources.registry.load_s"] = wall("sources.registry", "load_registry")
        t["sources.registry.upsert_s"] = wall("sources.registry", "upsert_campus")
        t["sinks.wall_s"] = wall("sinks")
        t["sinks.bytes_written"] = sum(s.counters.get("bytes_written", 0) for s in spans)
        t["sinks.files_written"] = sum(s.counters.get("files_written", 0) for s in spans)
        t["etl.self_s"] = sum(s.self_time for s in spans if s.layer == "etl")
        t["etl.self_jobs"] = sum(len(s.own_jobs) for s in spans if s.layer == "etl")
        t["queries.plan_s"] = wall("queries")
        t["queries.plan_jobs"] = len(jobs("queries"))
        t["operators.dedup.wall_s"] = wall("operators.dedup")
        t["operators.similarity.wall_s"] = wall("operators.similarity")
        t["materialize.calls"] = sum(1 for s in spans if s.layer == "materialize")
        t["materialize.wall_s"] = wall("materialize")

        all_jobs = root.jobs()
        stages = stages_of(all_jobs)
        t["exec.jobs"] = len(all_jobs)
        t["exec.stages"] = len(stages)
        for key in ("tasks", "task_s", "cpu_s", "gc_s", "spill_bytes", "scan_rows", "scan_bytes", "exchange_bytes"):
            t[f"exec.{key}"] = sum(m[key] for m in stages)
        t["exec.python_s"] = sum(m["task_s"] for m in stages if m["python"])
        t.update(self.reader.sql_metrics(set(all_jobs)))
        return {
            "op": root.name,
            "wall_s": root.duration,
            "meta": meta,
            "layers": t,
            "self_times": {f"{s.layer}:{s.name}#{s.sid}": s.self_time for s in spans},
        }


def summarize(ops: list[dict], passes: int, cores: int) -> dict[str, float]:
    """Per-pass layer table over the traced ops of ``passes`` passes."""
    total = {name: 0.0 for name in LAYER_METRICS}
    for op in ops:
        for name, v in op["layers"].items():
            total[name] += v
    per_pass = {name: v / passes for name, v in total.items()}
    wall = sum(op["wall_s"] for op in ops)
    per_pass["exec.utilization"] = total["exec.task_s"] / (wall * cores) if wall else 0.0
    in_bytes = sum(op["meta"].get("input_bytes", 0) for op in ops)
    per_pass["sinks.write_amp"] = total["sinks.bytes_written"] / in_bytes if in_bytes else 0.0
    return per_pass
