"""Per-layer tracing from outside the program.

The traced run wraps the program's public functions by patching module
attributes (every module of the package that holds a reference to the
function gets the wrapper), so the program's source is never edited.
Each wrapped call records a span (name, layer, start, end, parent) in
memory and sets its own Spark job group, so every job in the Spark event
log can be attributed to the call that fired it. Spans, the per-key
plan fingerprints and the derived metrics are written out when the run
ends.

Wrappers copy the wrapped function's module and qualified name, so when
a wrapped function is shipped to a Python worker, cloudpickle pickles it
by reference and the worker runs the original.
"""

from __future__ import annotations

import functools
import inspect
import itertools
import json
import re
import sys
import time
from contextlib import contextmanager

from . import host

PKG = "reverse_etl_homebrew_spark"

#: modules whose public functions are wrapped whole, as layer
#: ``operators.<name>``
OPERATOR_MODULES = ("dedup", "refresh", "similarity")

#: ControlTables methods and the span each becomes
CONTROL_METHODS = {
    "ensure": "control.ensure",
    "read_high_watermark": "control.read",
    "idmap": "control.read",
    "dlq": "control.read",
    "ledger": "control.read",
    "merge_idmap": "control.merge_idmap",
    "append_dlq": "control.append_dlq",
    "append_ledger_row": "control.append_ledger",
}

LAYERS = (
    "sources",
    "queries",
    "plans",
    "operators.dedup",
    "operators.refresh",
    "operators.similarity",
    "catalyst",
    "action",
    "sinks",
    "control",
    "sync",
)


class Tracer:
    """Span recorder for one traced iteration."""

    def __init__(self, spark, jvm_pid: int, eventlog_size):
        self.sc = spark.sparkContext
        self.jvm_pid = jvm_pid
        self._eventlog_size = eventlog_size
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._ids = itertools.count()
        self.active = False

    # -- spans ---------------------------------------------------------

    def _set_group(self, span):
        if span is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            self.sc.setJobGroup(span["group"], span["name"])

    @contextmanager
    def span(self, name: str, layer: str, detail: str = ""):
        if not self.active:
            yield
            return
        sid = next(self._ids)
        parent = self._stack[-1] if self._stack else None
        s = {
            "id": sid,
            "name": name,
            "layer": layer,
            "detail": detail,
            "parent": parent["id"] if parent else None,
            "group": f"perfbench-{sid}",
        }
        self._stack.append(s)
        self._set_group(s)
        written = None
        if layer == "control":
            written = host.io_write_bytes(self.jvm_pid) - self._eventlog_size()
        s["start"] = time.perf_counter()
        try:
            yield
        finally:
            s["end"] = time.perf_counter()
            if written is not None:
                # the JVM's event-log writes land in the same counter
                s["write_bytes"] = max(
                    0, host.io_write_bytes(self.jvm_pid) - self._eventlog_size() - written
                )
            self._stack.pop()
            self._set_group(self._stack[-1] if self._stack else None)
            self.spans.append(s)

    def wrap(self, fn, name: str, layer: str):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name, layer):
                return fn(*args, **kwargs)

        return traced

    # -- installation --------------------------------------------------

    def _patch_everywhere(self, fn, wrapper) -> None:
        for mod_name, mod in list(sys.modules.items()):
            if mod is None or not (mod_name == PKG or mod_name.startswith(PKG + ".")):
                continue
            for attr, val in list(vars(mod).items()):
                if val is fn:
                    setattr(mod, attr, wrapper)

    def install(self) -> None:
        """Wrap the program's layer entry points; call once per process."""
        import importlib

        from reverse_etl_homebrew_spark.sinks.control import ControlTables
        from reverse_etl_homebrew_spark.sources import catalog
        from reverse_etl_homebrew_spark.streaming import incremental

        def patch(fn, name, layer):
            self._patch_everywhere(fn, self.wrap(fn, name, layer))

        patch(catalog.load_table, "sources.load_table", "sources")
        patch(incremental.write_plan, "sinks.write_plan", "sinks")
        patch(incremental.read_results, "sinks.read_results", "sinks")
        patch(incremental.run_sync, "sync.run_sync", "sync")
        for job_type, fn in list(incremental.PLAN_BUILDERS.items()):
            incremental.PLAN_BUILDERS[job_type] = self.wrap(fn, f"plans.{job_type}", "plans")
        for method, name in CONTROL_METHODS.items():
            setattr(ControlTables, method, self.wrap(getattr(ControlTables, method), name, "control"))
        for short in OPERATOR_MODULES:
            mod = importlib.import_module(f"{PKG}.operators.{short}")
            for attr, val in list(vars(mod).items()):
                if (
                    inspect.isfunction(val)
                    and val.__module__ == mod.__name__
                    and not attr.startswith("_")
                    # pandas UDFs are column builders shipped to workers
                    and not hasattr(val, "evalType")
                ):
                    patch(val, f"operators.{short}.{attr}", f"operators.{short}")


# -- span arithmetic ----------------------------------------------------


def children(spans):
    kids: dict = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    return kids


def outermost(spans, match):
    """Spans satisfying ``match`` with no ancestor that also does, so a
    layer calling itself is not counted twice."""
    by_id = {s["id"]: s for s in spans}

    def nested(s):
        p = s["parent"]
        while p is not None:
            if match(by_id[p]):
                return True
            p = by_id[p]["parent"]
        return False

    return [s for s in spans if match(s) and not nested(s)]


def duration(s) -> float:
    return s["end"] - s["start"]


def self_time(s, kids) -> float:
    return duration(s) - sum(duration(c) for c in kids.get(s["id"], []))


def subtree_groups(span, kids) -> set[str]:
    groups, todo = set(), [span]
    while todo:
        s = todo.pop()
        groups.add(s["group"])
        todo.extend(kids.get(s["id"], []))
    return groups


# -- plan fingerprint ---------------------------------------------------

_NODE = re.compile(r"^[\s:|+\-]*(\*\(\d+\)\s*)?([A-Za-z]+)")


def plan_fingerprint(plan: str) -> dict:
    """Node counts of a physical plan string; they repeat exactly for
    the same code, so a change to plan shape shows as a count."""
    fp = {"exchange": 0, "broadcast": 0, "arrow_eval": 0, "python_udf": 0,
          "generate": 0, "scan": 0, "join": 0, "joins": {}, "kb": len(plan) / 1024}
    for line in plan.splitlines():
        m = _NODE.match(line)
        if not m:
            continue
        node = m.group(2)
        if node == "Exchange":
            fp["exchange"] += 1
        elif node == "BroadcastExchange":
            fp["broadcast"] += 1
        elif node == "ArrowEvalPython":
            fp["arrow_eval"] += 1
        elif "Python" in node or "InPandas" in node or "InArrow" in node:
            fp["python_udf"] += 1
        elif node == "Generate":
            fp["generate"] += 1
        elif "Scan" in node:
            fp["scan"] += 1
        elif node.endswith("Join") or node == "CartesianProduct":
            fp["join"] += 1
            fp["joins"][node] = fp["joins"].get(node, 0) + 1
    return fp


# -- Spark event log ----------------------------------------------------

_PY_NODE = re.compile(r"Python|InPandas|InArrow")


def _plan_python_metrics(info, out):
    """accumulator id -> (kind, metricType, node) of Python-node metrics."""
    node = info.get("nodeName", "")
    if _PY_NODE.search(node):
        for m in info.get("metrics", []):
            name = m["name"].lower()
            if "python" not in name:
                continue
            if "time to run" in name:
                kind = "python_s"
            elif "sent" in name:
                kind = "to_python_mb"
            elif "returned" in name or "received" in name:
                kind = "from_python_mb"
            else:
                continue
            out[m["accumulatorId"]] = (kind, m.get("metricType", ""), f"{node}: {m['name']}")
    for child in info.get("children", []):
        _plan_python_metrics(child, out)


def read_event_log(path: str, groups: set[str]) -> dict:
    """Executor and Python-node totals over the jobs whose job group is
    in ``groups``, plus the job count per group. Python-node metrics are
    summed from per-task accumulator updates."""
    jobs_by_group: dict[str, int] = {}
    stages: set[int] = set()
    py_accs: dict[int, tuple] = {}
    completed: list[int] = []
    tasks = []
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event", "")
            if kind == "SparkListenerJobStart":
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                if group in groups:
                    jobs_by_group[group] = jobs_by_group.get(group, 0) + 1
                    stages.update(ev.get("Stage IDs", []))
            elif kind.endswith("SparkListenerSQLExecutionStart") or kind.endswith(
                "SparkListenerSQLAdaptiveExecutionUpdate"
            ):
                _plan_python_metrics(ev.get("sparkPlanInfo", {}), py_accs)
            elif kind == "SparkListenerStageCompleted":
                completed.append(ev["Stage Info"]["Stage ID"])
            elif kind == "SparkListenerTaskEnd":
                tasks.append(ev)
    out = {"jobs": sum(jobs_by_group.values()), "jobs_by_group": jobs_by_group,
           "stages": sum(1 for sid in completed if sid in stages),
           "tasks": 0, "task_s": 0.0, "cpu_s": 0.0, "gc_s": 0.0,
           "shuffle_write_mb": 0.0, "spill_mb": 0.0,
           "python_s": 0.0, "to_python_mb": 0.0, "from_python_mb": 0.0,
           "python_metrics": sorted({v[2] for v in py_accs.values()})}
    for ev in tasks:
        if ev.get("Stage ID") not in stages:
            continue
        m = ev.get("Task Metrics") or {}
        out["tasks"] += 1
        out["task_s"] += m.get("Executor Run Time", 0) / 1e3
        out["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
        out["gc_s"] += m.get("JVM GC Time", 0) / 1e3
        out["shuffle_write_mb"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0) / 1e6
        out["spill_mb"] += m.get("Disk Bytes Spilled", 0) / 1e6
        for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
            hit = py_accs.get(acc.get("ID"))
            if hit is None:
                continue
            kind, mtype, _ = hit
            update = float(acc.get("Update", 0) or 0)
            if kind == "python_s":
                out[kind] += update / (1e9 if mtype == "nsTiming" else 1e3)
            else:
                out[kind] += update / 1e6
    return out
