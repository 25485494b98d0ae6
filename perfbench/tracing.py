"""Traced-run instrumentation, applied from outside the program: wrappers
around the public entry points of each ``velesdb_spark`` module record
spans (name, layer, start, end, parent, op id), py4j round-trips are
counted by wrapping ``ClientServerConnection.send_command``, and each op's
build and execute phases run under their own Spark job group.

Spans stay in memory and are written as JSON when the run ends. Nothing
here runs in an untraced run."""

from __future__ import annotations

import functools
import json
import re
import sys
import time
from contextlib import contextmanager

from metrics import self_times

# (module, owner attribute or None for a module function, attribute, layer)
WRAPPED = [
    ("velesdb_spark.velesql.parser", None, "parse", "velesql"),
    ("velesdb_spark.velesql.translator", None, "translate", "velesql"),
    ("velesdb_spark.plans.match_planner", None, "plan", "plans"),
    ("velesdb_spark.functions.staging", None, "stage", "functions.staging"),
    ("velesdb_spark.functions.bm25", "Bm25Index", "incremental_update",
     "functions.bm25"),
    ("velesdb_spark.storage", "LogStore", "append_upsert", "storage"),
    ("velesdb_spark.storage", "LogStore", "append_delete", "storage"),
    ("velesdb_spark.storage", "LogStore", "read", "storage"),
    ("velesdb_spark.storage", "LogStore", "compact", "storage"),
    ("velesdb_spark.storage", "LogStore", "vacuum", "storage"),
] + [("velesdb_spark.database", "Collection", m, "database")
     for m in ("search", "text_search", "hybrid_search", "query", "upsert",
               "delete", "flush", "get", "count")]

_METRIC_RE = re.compile(
    r"(\w+) -> SQLMetric\(id: \d+, name: (?:Some\([^)]*\)|None), "
    r"value: (-?\d+)\)")
_PLAN_KEYS = ("numOutputRows", "shuffleBytesWritten", "spillSize",
              "peakMemory")


class Tracer:
    def __init__(self, spark):
        self.spark = spark
        self.spans: list[dict] = []
        self.stack: list[int] = []
        self.op_id = None
        self.py4j = 0            # round-trips made by the program
        self.py4j_gc = 0         # reference releases sent by Python's GC
        self._counting = True
        self._undo: list = []

    # ------------------------------------------------------------ spans
    def begin(self, name: str, layer: str) -> dict:
        span = {"id": len(self.spans), "name": name, "layer": layer,
                "parent": self.stack[-1] if self.stack else None,
                "op": self.op_id, "start": time.perf_counter(), "end": None,
                "py4j": self.py4j}
        self.spans.append(span)
        self.stack.append(span["id"])
        return span

    def end(self, span: dict) -> None:
        span["end"] = time.perf_counter()
        span["py4j"] = self.py4j - span["py4j"]
        self.stack.pop()

    @contextmanager
    def span(self, name: str, layer: str):
        s = self.begin(name, layer)
        try:
            yield s
        finally:
            self.end(s)

    @contextmanager
    def quiet(self):
        """Bookkeeping py4j calls of the tracer itself are not counted."""
        self._counting = False
        try:
            yield
        finally:
            self._counting = True

    # ------------------------------------------------------------ install
    def install(self) -> None:
        import importlib

        from py4j.clientserver import ClientServerConnection

        orig_send = ClientServerConnection.send_command
        tracer = self

        def send_command(conn, command, *a, **kw):
            # "m\nd\n..." releases a JVM object after Python garbage-collected
            # its proxy; when that happens depends on the collector, so it
            # is counted apart from the program's own round-trips
            if command.startswith("m\nd\n"):
                tracer.py4j_gc += 1
            elif tracer._counting:
                tracer.py4j += 1
            return orig_send(conn, command, *a, **kw)

        ClientServerConnection.send_command = send_command
        self._undo.append((ClientServerConnection, "send_command", orig_send))

        for modname, owner, attr, layer in WRAPPED:
            mod = importlib.import_module(modname)
            target = getattr(mod, owner) if owner else mod
            orig = getattr(target, attr)
            name = f"{layer}.{owner}.{attr}" if owner else f"{layer}.{attr}"
            wrapper = self._wrapper(orig, name, layer)
            if owner:
                setattr(target, attr, wrapper)
                self._undo.append((target, attr, orig))
                continue
            # a module function is also bound by name wherever it was
            # imported: rebind every velesdb_spark alias of it
            for m in list(sys.modules.values()):
                if not getattr(m, "__name__", "").startswith("velesdb_spark"):
                    continue
                for k, v in list(vars(m).items()):
                    if v is orig:
                        setattr(m, k, wrapper)
                        self._undo.append((m, k, orig))

    def uninstall(self) -> None:
        while self._undo:
            target, attr, orig = self._undo.pop()
            setattr(target, attr, orig)

    def _wrapper(self, orig, name: str, layer: str):
        tracer = self

        @functools.wraps(orig)
        def wrapped(*a, **kw):
            s = tracer.begin(name, layer)
            try:
                return orig(*a, **kw)
            finally:
                tracer.end(s)

        return wrapped

    # ------------------------------------------------------------ session
    def set_group(self, group: str) -> None:
        with self.quiet():
            self.spark.sparkContext.setJobGroup(group, group)

    def clear_group(self) -> None:
        with self.quiet():
            sc = self.spark.sparkContext
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)

    def jobs_and_tasks(self, group: str) -> tuple[int, int]:
        with self.quiet():
            st = self.spark.sparkContext.statusTracker()
            jobs = st.getJobIdsForGroup(group)
            tasks = 0
            for j in jobs:
                info = st.getJobInfo(j)
                for sid in (info.stageIds if info else []):
                    stage = st.getStageInfo(sid)
                    if stage is not None:
                        tasks += stage.numTasks
            return len(jobs), tasks

    # ------------------------------------------------------------ operators
    def plan_metrics(self, df) -> dict:
        """Sums over the executed plan, AQE stages unwrapped: rows read by
        leaf operators, shuffle bytes written, spill bytes, and the largest
        peak memory of one operator."""
        out = {"rows_examined": 0, "shuffle_bytes": 0, "spill_bytes": 0,
               "peak_memory_bytes": 0}
        with self.quiet():
            stack = [df._jdf.queryExecution().executedPlan()]
            while stack:
                node = stack.pop()
                cls = node.getClass().getSimpleName()
                if cls == "AdaptiveSparkPlanExec":
                    stack.append(node.executedPlan())
                    continue
                if cls.endswith("QueryStageExec"):
                    stack.append(node.plan())
                    continue
                vals = dict((k, int(v)) for k, v in
                            _METRIC_RE.findall(node.metrics().toString())
                            if k in _PLAN_KEYS)
                children = node.children()
                n = children.size()
                if n == 0 and cls != "ReusedExchangeExec":
                    out["rows_examined"] += vals.get("numOutputRows", 0)
                out["shuffle_bytes"] += vals.get("shuffleBytesWritten", 0)
                out["spill_bytes"] += vals.get("spillSize", 0)
                out["peak_memory_bytes"] = max(out["peak_memory_bytes"],
                                               vals.get("peakMemory", 0))
                stack.extend(children.apply(i) for i in range(n))
        return out

    # ------------------------------------------------------------ output
    def dump(self, path: str, extra: dict) -> dict:
        selft = {k: v * 1000.0 for k, v in self_times(
            s for s in self.spans if s["end"] is not None).items()}
        with open(path, "w") as f:
            json.dump({"self_ms": selft, "spans": self.spans, **extra}, f)
        return selft
