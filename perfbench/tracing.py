"""Spans and Spark event-log attribution, recorded from outside the engine.

The benchmark never edits the engine. It records a span around each call
into a layer by replacing the layer's public functions with timing
wrappers for the length of one process (``Tracer.instrument``), and it
attributes Spark jobs to those calls through job properties:

- the op's job group (``spark.jobGroup.id``) names the op;
- an operator call sets ``spark.job.description`` to ``op:<module>``;
- a streaming micro-batch carries ``sql.streaming.queryId`` and has the
  stream's run id as its job group; each run is mapped to the op during
  which its jobs ran (``stream_run_ops``).

Spans are kept in memory; ``parse_event_log`` reads Spark's JSON event
log after the session stops.
"""

from __future__ import annotations

import functools
import inspect
import json
import os
import re
import sys
import threading
import time
from collections import defaultdict
from dataclasses import dataclass, field

PKG = "light_etl_windows_container_poc_spark"
# operator modules whose entry points get spans (one metric set each)
OPERATOR_MODULES = ("ann_index", "dedup", "similarity", "graph",
                    "substring_dedup", "incremental", "cleaning", "routing")
LOG_TABLE = "etl_processing_log"
_SPARK_ANNOT = re.compile(r"(?<![\w.])(DataFrame|SparkSession)\b")


@dataclass
class Span:
    sid: int
    parent: int | None
    layer: str          # e.g. "operators.dedup", "sinks.append", "catalog"
    name: str
    op: str | None      # op id the span belongs to
    t0: float
    t1: float = 0.0
    attrs: dict = field(default_factory=dict)


class Tracer:
    """In-memory span recorder. Disabled tracers record nothing and their
    wrappers cost one attribute check."""

    def __init__(self) -> None:
        self.enabled = False
        self.spans: list[Span] = []
        self.op: str | None = None
        self._local = threading.local()
        self._lock = threading.Lock()
        self._spark = None

    # -- spans -------------------------------------------------------------
    def _stack(self) -> list[Span]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def begin(self, layer: str, name: str, **attrs) -> Span | None:
        if not self.enabled:
            return None
        st = self._stack()
        with self._lock:
            sp = Span(len(self.spans), st[-1].sid if st else None, layer,
                      name, self.op, time.time(), attrs=attrs)
            self.spans.append(sp)
        st.append(sp)
        return sp

    def end(self, sp: Span | None) -> None:
        if sp is None:
            return
        sp.t1 = time.time()
        st = self._stack()
        if st and st[-1] is sp:
            st.pop()

    # -- wrapping ----------------------------------------------------------
    def _wrap(self, fn, layer: str, name: str, describe: bool,
              attrs_of=None):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if not tracer.enabled:
                return fn(*args, **kwargs)
            sp = tracer.begin(layer, name,
                              **(attrs_of(args, kwargs) if attrs_of else {}))
            prev = tracer._set_description(f"op:{layer}") if describe else None
            try:
                return fn(*args, **kwargs)
            finally:
                if describe:
                    tracer._set_description(prev)
                tracer.end(sp)

        return wrapper

    def _set_description(self, value):
        sc = self._spark.sparkContext if self._spark is not None else None
        if sc is None:
            return None
        prev = sc.getLocalProperty("spark.job.description")
        sc.setLocalProperty("spark.job.description", value)
        return prev

    def instrument(self, spark) -> None:
        """Replace the layers' public entry points, in every engine module
        that bound them by name, with span-recording wrappers."""
        import importlib
        import pkgutil

        self._spark = spark
        pkg = importlib.import_module(PKG)
        for info in pkgutil.walk_packages(pkg.__path__, PKG + "."):
            importlib.import_module(info.name)
        importlib.import_module("__spark_entry__")
        repl: dict[int, object] = {}

        def plan(fn, layer, name, describe=False, attrs_of=None):
            repl[id(fn)] = (fn, self._wrap(fn, layer, name, describe,
                                           attrs_of))

        from light_etl_windows_container_poc_spark import (catalog, pipeline,
                                                           sinks)

        plan(catalog.load_tables, "catalog", "load_tables")
        plan(sinks.append_table, "sinks.append", "append_table",
             attrs_of=lambda a, k: {"table": k.get("table", a[2] if len(a) > 2
                                                   else None)})
        plan(sinks.write_processing_log, "sinks.log", "write_processing_log")
        # every stream starter (the Excel ETL stream, the ANN maintainer...)
        for mod_name, mod in list(sys.modules.items()):
            if mod_name.startswith(f"{PKG}.streaming."):
                for name, obj in vars(mod).items():
                    if name.startswith("start_") and inspect.isfunction(obj) \
                            and obj.__module__ == mod_name:
                        plan(obj, "streaming", name)
        for mod_name in OPERATOR_MODULES:
            mod = sys.modules[f"{PKG}.operators.{mod_name}"]
            for name, obj in vars(mod).items():
                if name.startswith("_"):
                    continue
                if inspect.isfunction(obj) and obj.__module__ == mod.__name__ \
                        and _takes_spark_objects(obj):
                    plan(obj, f"operators.{mod_name}", name, describe=True)
                elif inspect.isclass(obj) and obj.__module__ == mod.__name__:
                    for mname, meth in vars(obj).items():
                        if (not mname.startswith("_")
                                and inspect.isfunction(meth)
                                and _takes_spark_objects(meth)):
                            setattr(obj, mname, self._wrap(
                                meth, f"operators.{mod_name}",
                                f"{obj.__name__}.{mname}", True))
        # the ingest entry point is a method: wrap it on the class
        setattr(pipeline.ETLPipeline, "ingest_csv_dir", self._wrap(
            pipeline.ETLPipeline.ingest_csv_dir, "pipeline", "ingest_csv_dir",
            False))
        for mod in list(sys.modules.values()):
            mname = getattr(mod, "__name__", "") or ""
            if not (mname.startswith(PKG) or mname == "__spark_entry__"):
                continue
            for attr, val in list(vars(mod).items()):
                hit = repl.get(id(val))
                if hit is not None and hit[0] is val:
                    setattr(mod, attr, hit[1])


def _takes_spark_objects(fn) -> bool:
    """Driver-side entry points take a Spark DataFrame or SparkSession;
    executor-side helpers (pandas/numpy) are left alone so no wrapper is
    ever pickled into a task."""
    try:
        params = inspect.signature(fn).parameters.values()
    except (TypeError, ValueError):
        return False
    return any(isinstance(p.annotation, str) and _SPARK_ANNOT.search(p.annotation)
               for p in params)


def stream_run_ops(ev: "EventLog", ops) -> dict[str, str]:
    """Stream run id -> id of the op during which the run's first
    micro-batch job was submitted. Micro-batches run on the stream's own
    thread, so they carry ``sql.streaming.queryId`` and the run id as job
    group rather than the op's job group."""
    out: dict[str, str] = {}
    for j in sorted(ev.jobs.values(), key=lambda j: j.submit):
        if j.stream_query is None or j.group is None or j.group in out:
            continue
        for o in ops:
            if o.t0 <= j.submit <= o.t1:
                out[j.group] = o.op_id
                break
    return out


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span duration minus the part of its interval its children cover."""
    kids: dict[int, list[Span]] = defaultdict(list)
    for s in spans:
        if s.parent is not None:
            kids[s.parent].append(s)
    out = {}
    for s in spans:
        out[s.sid] = max(0.0, (s.t1 - s.t0)
                         - union_length([(c.t0, c.t1) for c in kids[s.sid]]))
    return out


def union_length(intervals) -> float:
    total, end = 0.0, None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


# ------------------------------------------------------------- event log

_PY_NODES = ("MapInPandas", "ArrowEvalPython", "PythonMapInArrow",
             "FlatMapGroupsInPandas", "BatchEvalPython", "MapInArrow")
_PY_RUN_METRIC = "time to run Python workers"


@dataclass
class Job:
    jid: int
    submit: float
    end: float = 0.0
    group: str | None = None
    description: str | None = None
    stream_query: str | None = None
    stages: list[int] = field(default_factory=list)


@dataclass
class EventLog:
    jobs: dict[int, Job] = field(default_factory=dict)
    stage_job: dict[int, int] = field(default_factory=dict)
    stage_ran_for: dict[int, int | None] = field(default_factory=dict)
    # per job: summed task metrics
    task: dict[int, dict[str, float]] = field(default_factory=dict)
    # per job: python-eval time from SQL metrics (seconds)
    python_s: dict[int, float] = field(default_factory=dict)


def find_event_log(log_dir: str) -> str | None:
    for root, _dirs, files in os.walk(log_dir):
        for fn in sorted(files):
            if not fn.startswith(".") and not fn.endswith(".inprogress"):
                return os.path.join(root, fn)
        for fn in sorted(files):
            if not fn.startswith("."):
                return os.path.join(root, fn)
    return None


def _collect_py_metrics(node: dict, out: dict[int, float]) -> None:
    if any(k in node.get("nodeName", "") for k in _PY_NODES):
        for m in node.get("metrics", []):
            kind = m.get("metricType", "")
            if m.get("name") == _PY_RUN_METRIC and kind in ("timing", "nsTiming"):
                out[m["accumulatorId"]] = 1e-3 if kind == "timing" else 1e-9
    for ch in node.get("children", []):
        _collect_py_metrics(ch, out)


def parse_event_log(path: str) -> EventLog:
    ev = EventLog()
    py_acc: dict[int, float] = {}
    with open(path, encoding="utf-8") as fh:
        for line in fh:
            e = json.loads(line)
            kind = e.get("Event", "")
            if kind == "SparkListenerJobStart":
                props = e.get("Properties") or {}
                j = Job(e["Job ID"], e["Submission Time"] / 1000.0,
                        group=props.get("spark.jobGroup.id"),
                        description=props.get("spark.job.description"),
                        stream_query=props.get("sql.streaming.queryId"),
                        stages=list(e.get("Stage IDs", [])))
                ev.jobs[j.jid] = j
                for sid in j.stages:
                    ev.stage_job[sid] = j.jid
            elif kind == "SparkListenerJobEnd":
                j = ev.jobs.get(e["Job ID"])
                if j is not None:
                    j.end = e["Completion Time"] / 1000.0
            elif kind == "SparkListenerStageSubmitted":
                # a stage a later job reuses is skipped there: the stage
                # ran for the job that owned it when it was submitted
                sid = e["Stage Info"]["Stage ID"]
                ev.stage_ran_for[sid] = ev.stage_job.get(sid)
            elif kind.endswith("SQLExecutionStart") or \
                    kind.endswith("SQLAdaptiveExecutionUpdate"):
                info = e.get("sparkPlanInfo")
                if info:
                    _collect_py_metrics(info, py_acc)
            elif kind == "SparkListenerTaskEnd":
                jid = ev.stage_job.get(e.get("Stage ID"))
                if jid is None:
                    continue
                m = e.get("Task Metrics") or {}
                acc = ev.task.setdefault(jid, defaultdict(float))
                sr = m.get("Shuffle Read Metrics") or {}
                sw = m.get("Shuffle Write Metrics") or {}
                acc["tasks"] += 1
                acc["run_s"] += m.get("Executor Run Time", 0) / 1e3
                acc["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                acc["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                acc["shuffle_read_b"] += (sr.get("Remote Bytes Read", 0)
                                          + sr.get("Local Bytes Read", 0))
                acc["shuffle_write_b"] += sw.get("Shuffle Bytes Written", 0)
                acc["spill_b"] += (m.get("Memory Bytes Spilled", 0)
                                   + m.get("Disk Bytes Spilled", 0))
                acc["input_b"] += (m.get("Input Metrics") or {}).get(
                    "Bytes Read", 0)
                for a in (e.get("Task Info") or {}).get("Accumulables", []):
                    scale = py_acc.get(a.get("ID"))
                    if scale is not None:
                        try:
                            ev.python_s[jid] = (ev.python_s.get(jid, 0.0)
                                                + float(a.get("Update", 0))
                                                * scale)
                        except (TypeError, ValueError):
                            pass
    return ev
