"""Per-layer tracing from outside the program.

Spans are recorded around calls into the engine's modules ("layers"):
every public function of a layer module is wrapped where it is bound —
its module attribute and every `from ... import name` alias in the
package — so `__main__.load_graph` and `plans.pipeline.write_yaml_stats`
are caught too. PySpark actions get child spans by patching the classic
DataFrame class (`pyspark.sql.classic.dataframe.DataFrame` in Spark 4;
patching `pyspark.sql.DataFrame` catches nothing).

Attribution: a frame returned by a wrapped function is tagged with its
layer; an action on a tagged frame is charged to that layer, otherwise
to the innermost calling module that is a layer. Each span sets its id
as the Spark job group, so every job in the (uncompressed) event log
maps back to a span and its layer; task time and shuffle bytes come
from the log's TaskEnd events.

Spans live in memory; :func:`layer_metrics` reduces them after the run.
The tracer assumes one driver thread issues all actions.
"""

from __future__ import annotations

import functools
import glob
import inspect
import json
import os
import sys
import time
from dataclasses import dataclass, field

PKG = "big_data_graph_analysis_with_spark_spark"

#: layer → (module, explicit extra names). Public functions defined in
#: the module are wrapped; extras name private functions or functions
#: that live elsewhere but whose cost belongs to the layer.
LAYERS: dict[str, list[tuple[str, tuple[str, ...] | None]]] = {
    "session": [("session", None)],
    "ngs_text": [("sources.ngs_text", None)],
    "parquet_graph": [("sources.parquet_graph", None)],
    "sinks": [("sources.sinks", None)],
    "topology": [("operators.topology", None)],
    "walks": [("operators.walks", None)],
    # best match and the max-merge run fused into the round's SimRank
    # job, so their frames are charged to walk_simrank
    "walk_simrank": [
        ("operators.walk_simrank", None),
        ("operators.simrank", ("init_scores",)),
        ("operators.matching", ("best_match", "valuable_matches", "merge_matches")),
    ],
    "stats": [("operators.stats", None)],
    "graphalg": [("operators.graphalg", None)],
    "pipeline": [("plans.pipeline", None), ("__main__", ("main", "_load"))],
}

#: classic-DataFrame methods that run (or may run) Spark jobs
ACTIONS = (
    "collect", "count", "first", "head", "take", "tail", "toPandas",
    "toLocalIterator", "foreach", "foreachPartition", "isEmpty", "show",
    "localCheckpoint", "checkpoint",
)

_TAG = "_perfbench_layer"


@dataclass
class Span:
    sid: int
    parent: int | None
    layer: str
    name: str
    start: float
    end: float = 0.0
    children: list[int] = field(default_factory=list)


def _tag(obj, layer: str) -> None:
    """Tag DataFrames reachable from a return value; the first (innermost)
    tag wins, so a frame keeps the layer that built it."""
    from pyspark.sql import DataFrame

    if isinstance(obj, DataFrame):
        if getattr(obj, _TAG, None) is None:
            setattr(obj, _TAG, layer)
    elif isinstance(obj, (tuple, list)):
        for o in obj:
            _tag(o, layer)
    elif hasattr(obj, "__dataclass_fields__"):
        for name in obj.__dataclass_fields__:
            _tag(getattr(obj, name, None), layer)


class Tracer:
    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._patched: list[tuple[object, str, object]] = []
        self._module_layer: dict[str, str] = {}
        #: last return value of each wrapped function, by function name
        self.returns: dict[str, object] = {}
        self.enabled = False

    # -- spans -------------------------------------------------------------
    def open(self, layer: str, name: str) -> Span:
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.spans), parent.sid if parent else None, layer, name, time.time())
        self.spans.append(s)
        if parent is not None:
            parent.children.append(s.sid)
        self._stack.append(s)
        self.sc.setJobGroup(f"pb{s.sid}", f"{layer}:{name}")
        return s

    def close(self, s: Span) -> None:
        s.end = time.time()
        if self._stack.pop() is not s:
            raise RuntimeError("spans must close in LIFO order")
        if self._stack:
            p = self._stack[-1]
            self.sc.setJobGroup(f"pb{p.sid}", f"{p.layer}:{p.name}")
        else:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)

    # -- installation ------------------------------------------------------
    def _wrap_fn(self, fn, layer: str):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if not tracer.enabled:
                return fn(*args, **kwargs)
            s = tracer.open(layer, fn.__name__)
            try:
                out = fn(*args, **kwargs)
            finally:
                tracer.close(s)
            _tag(out, layer)
            tracer.returns[fn.__name__] = out
            return out

        return wrapper

    def _calling_layer(self) -> str:
        f = sys._getframe(2)
        while f is not None:
            layer = self._module_layer.get(f.f_globals.get("__name__", ""))
            if layer is not None:
                return layer
            f = f.f_back
        return self._stack[-1].layer if self._stack else "bench"

    def _wrap_action(self, meth, name: str):
        tracer = self

        @functools.wraps(meth)
        def action(df, *args, **kwargs):
            if not tracer.enabled:
                return meth(df, *args, **kwargs)
            layer = getattr(df, _TAG, None) or tracer._calling_layer()
            s = tracer.open(layer, f"action:{name}")
            try:
                out = meth(df, *args, **kwargs)
            finally:
                tracer.close(s)
            _tag(out, layer)
            return out

        return action

    def _set(self, obj, attr: str, value) -> None:
        self._patched.append((obj, attr, getattr(obj, attr)))
        setattr(obj, attr, value)

    def install(self) -> None:
        """Patch the layers' functions and the DataFrame actions."""
        import importlib

        from pyspark.sql.classic.dataframe import DataFrame as ClassicDF

        wrapped: dict[int, tuple[object, object]] = {}  # id(fn) → (fn, wrapper)
        for layer, mods in LAYERS.items():
            for modname, extras in mods:
                mod = importlib.import_module(f"{PKG}.{modname}")
                self._module_layer[mod.__name__] = layer
                names = extras or [
                    n for n, o in vars(mod).items()
                    if inspect.isfunction(o) and o.__module__ == mod.__name__
                    and not n.startswith("_")
                ]
                for n in names:
                    fn = getattr(mod, n)
                    wrapped[id(fn)] = (fn, self._wrap_fn(fn, layer))
        # rebind every alias of a wrapped function across the package
        for modname, mod in list(sys.modules.items()):
            if mod is None or not (modname == PKG or modname.startswith(PKG + ".")):
                continue
            for n, o in list(vars(mod).items()):
                hit = wrapped.get(id(o))
                if hit is not None and hit[0] is o:
                    self._set(mod, n, hit[1])
        for name in ACTIONS:
            self._set(ClassicDF, name, self._wrap_action(getattr(ClassicDF, name), name))
        self.enabled = True

    def uninstall(self) -> None:
        self.enabled = False
        for obj, attr, orig in reversed(self._patched):
            setattr(obj, attr, orig)
        self._patched.clear()


# -- metrics -------------------------------------------------------------------
LAYER_NAMES = list(LAYERS)
LAYER_METRICS = {
    "wall_s": ("s", "lower"),
    "self_s": ("s", "lower"),
    "jobs": ("count", "lower"),
    "tasks": ("count", "lower"),
    "task_s": ("s", "lower"),
    "core_util": ("ratio", "higher"),
    "shuffle_write_mb": ("MB", "lower"),
    "driver_s": ("s", "lower"),
}


def union_length(intervals) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def overlap_length(a, b) -> float:
    """|∪a ∩ ∪b|."""
    return union_length(a) + union_length(b) - union_length(list(a) + list(b))


def self_time(span: Span, spans: list[Span]) -> float:
    """Duration minus the part of the span its direct children cover."""
    kids = [
        (max(spans[c].start, span.start), min(spans[c].end, span.end))
        for c in span.children
    ]
    return (span.end - span.start) - union_length(kids)


@dataclass
class Job:
    jid: int
    group: str | None
    start: float
    end: float
    stages: list[int]
    tasks: int = 0
    task_s: float = 0.0
    shuffle_bytes: int = 0


def read_event_log(log_dir: str) -> dict[int, Job]:
    """Jobs with their task count, executor run time and shuffle bytes,
    from an uncompressed Spark event log directory."""
    jobs: dict[int, Job] = {}
    stage_job: dict[int, int] = {}
    task_ends = []
    for path in sorted(glob.glob(os.path.join(log_dir, "*"))):
        with open(path, encoding="utf-8") as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    t = ev["Submission Time"] / 1000.0
                    j = Job(
                        ev["Job ID"],
                        (ev.get("Properties") or {}).get("spark.jobGroup.id"),
                        t, t, list(ev.get("Stage IDs", [])),
                    )
                    jobs[j.jid] = j
                    for st in j.stages:
                        # the first job to list a stage is the one that runs it
                        stage_job.setdefault(st, j.jid)
                elif kind == "SparkListenerJobEnd" and ev["Job ID"] in jobs:
                    jobs[ev["Job ID"]].end = ev["Completion Time"] / 1000.0
                elif kind == "SparkListenerTaskEnd":
                    task_ends.append(ev)
    for ev in task_ends:
        j = jobs.get(stage_job.get(ev["Stage ID"], -1))
        if j is None:
            continue
        m = ev.get("Task Metrics") or {}
        j.tasks += 1
        j.task_s += m.get("Executor Run Time", 0) / 1000.0
        j.shuffle_bytes += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
    return jobs


def layer_metrics(spans: list[Span], root: Span, jobs: dict[int, Job], cores: int) -> dict[str, float]:
    """`<layer>.<metric>` over the spans strictly inside `root`."""
    inside = [
        s for s in spans
        if s is not root and s.start >= root.start and s.end <= root.end
    ]
    span_layer = {f"pb{s.sid}": s.layer for s in inside}
    run_jobs = [j for j in jobs.values() if j.group in span_layer]
    all_job_iv = [(j.start, j.end) for j in run_jobs]
    out: dict[str, float] = {}
    for layer in LAYER_NAMES:
        ls = [s for s in inside if s.layer == layer]
        lj = [j for j in run_jobs if span_layer[j.group] == layer]
        iv = [(s.start, s.end) for s in ls]
        wall = union_length(iv)
        job_wall = union_length([(j.start, j.end) for j in lj])
        task_s = sum(j.task_s for j in lj)
        out[f"{layer}.wall_s"] = wall
        out[f"{layer}.self_s"] = sum(self_time(s, spans) for s in ls)
        out[f"{layer}.jobs"] = len(lj)
        out[f"{layer}.tasks"] = sum(j.tasks for j in lj)
        out[f"{layer}.task_s"] = task_s
        out[f"{layer}.core_util"] = task_s / (cores * job_wall) if job_wall > 0 else 0.0
        out[f"{layer}.shuffle_write_mb"] = sum(j.shuffle_bytes for j in lj) / 1e6
        out[f"{layer}.driver_s"] = wall - overlap_length(iv, all_job_iv)
    rounds = sum(1 for s in inside if s.name == "walk_simrank_round")
    out["walk_simrank.rounds"] = rounds
    out["walk_simrank.jobs_per_round"] = out["walk_simrank.jobs"] / rounds if rounds else 0.0
    return out
