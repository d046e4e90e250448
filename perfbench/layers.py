"""Per-layer measurement from outside the package.

``Tracer.instrument`` wraps the public functions of the measured modules
(and the parquet/save sinks of ``DataFrameWriter``) so that each call
opens a span and tags the Spark jobs it launches with a job group named
after the span. After the timed phase, ``Tracer.collect`` reads Spark's
own status stores once: job and stage metrics from the ``AppStatusStore``
(the pattern of ``scripts/scaling.py:_shuffle_totals``), and the
plan-node metrics of every SQL execution from the ``SQLAppStatusStore``.
Nothing is installed when tracing is off.
"""
from __future__ import annotations

import functools
import inspect
import os
import re
import sys
import threading
import time
from contextlib import contextmanager

# layer name -> modules whose public callables count as that layer's calls
LAYERS = {
    "entry": ["__spark_entry__"],
    "dedup": ["scalding_spark.functions.dedup"],
    "similarity": ["scalding_spark.functions.similarity"],
    "matrix": ["scalding_spark.matrix"],
    "lm": ["scalding_spark.functions.lm"],
    "sampling": ["scalding_spark.functions.sampling"],
    "streaming": ["scalding_spark.streaming",
                  "scalding_spark.streaming._neardup",
                  "scalding_spark.streaming._semantic",
                  "scalding_spark.streaming._phash",
                  "scalding_spark.streaming._compact"],
    "job": ["scalding_spark.job"],
}
CALL_FIELDS = ["call_s", "jobs", "task_s", "shuffle_write_mb", "plan_s"]
SINK_FIELDS = ["s", "jobs", "stages", "tasks", "task_s", "shuffle_write_mb",
               "shuffle_read_mb", "spill_mb", "input_mb", "output_mb",
               "files_written", "core_util"]
EXEC_FIELDS = ["scan.files", "scan.rows", "scan.s", "aggregate.s",
               "aggregate.spill_mb", "sort.s", "sort.spill_mb",
               "exchange.count", "exchange.shuffle_write_mb",
               "broadcast.build_s", "broadcast.mb", "join.rows_out"]
# functions whose ``stats=`` out-parameter reports rounds: injected when
# the caller passed none
ROUND_STATS = {
    ("scalding_spark.functions.dedup", "connected_components"):
        "dedup.cc.rounds",
    ("scalding_spark.functions.dedup", "connected_components_star"):
        "dedup.cc.rounds",
    ("scalding_spark.functions.similarity", "kmeans"):
        "similarity.kmeans.rounds",
}
MB = 1024.0 * 1024.0


def metric_names() -> list[str]:
    """Every per-layer metric the traced run reports, in report order."""
    names = [f"{m}.{f}" for m in LAYERS for f in CALL_FIELDS]
    names += [f"sink.{f}" for f in SINK_FIELDS]
    names += [f"exec.{f}" for f in EXEC_FIELDS]
    names += ["dedup.cc.rounds", "similarity.kmeans.rounds",
              "dedup.pairs.yield",
              "streaming.add_batch_s", "streaming.wal_commit_s",
              "streaming.planning_s", "streaming.trigger_s",
              "store.files_written", "store.write_amp",
              "codegen.compiles", "spark.gc_s",
              "session.start_s", "session.warmup_s", "session.jvm_launch_s",
              "session.jvm_hwm_mb", "calibration.before_s",
              "calibration.after_s", "trace.overhead_frac"]
    return names


def metric_unit(name: str) -> str:
    if name.endswith("_s") or name.endswith(".s"):
        return "s"
    if name.endswith(("_mb", ".mb")):
        return "MB"
    if name.endswith(("core_util", "yield", "write_amp", "overhead_frac")):
        return "ratio"
    return "count"


class Span:
    __slots__ = ("sid", "name", "layer", "parent", "start", "end", "run_id",
                 "iteration")

    def __init__(self, sid, name, layer, parent, start, run_id, iteration):
        self.sid, self.name, self.layer = sid, name, layer
        self.parent, self.start, self.end = parent, start, None
        self.run_id, self.iteration = run_id, iteration

    def as_dict(self) -> dict:
        return {"id": self.sid, "name": self.name, "layer": self.layer,
                "parent": self.parent, "start": self.start, "end": self.end,
                "run_id": self.run_id, "iteration": self.iteration}


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span duration minus the union of its direct children's intervals
    (clipped to the span): the time a span spent outside its children."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
    out = {}
    for s in spans:
        out[s["id"]] = (s["end"] - s["start"]) - covered(
            kids.get(s["id"], []), s["start"], s["end"])
    return out


def covered(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_a, cur_b = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


_UNITS = {"B": 1.0, "KiB": 1024.0, "MiB": MB, "GiB": MB * 1024,
          "TiB": MB * MB, "ms": 1e-3, "s": 1.0, "m": 60.0, "min": 60.0,
          "h": 3600.0, "ns": 1e-9}
_NUM = re.compile(r"^\s*(-?[\d,]+(?:\.\d+)?)\s*([A-Za-z]*)")


def parse_metric(text: str) -> float:
    """A SQL plan-node metric as the status store formats it, in base
    units (bytes, seconds, or a plain count). Size and timing metrics
    read ``total (min, med, max ...)\\n<total> (...)``; sums read ``1,234``."""
    if text is None:
        return 0.0
    line = text.strip().splitlines()[-1] if text.strip() else ""
    m = _NUM.match(line)
    if not m:
        return 0.0
    value = float(m.group(1).replace(",", ""))
    return value * _UNITS.get(m.group(2), 1.0)


def _opt(o):
    return o.get() if o.isDefined() else None


class Tracer:
    """Spans for call scopes, sinks and iterations, plus the readers that
    turn Spark's status stores into per-layer metrics."""

    def __init__(self, spark, run_id: str):
        self.spark = spark
        self.sc = spark.sparkContext
        self.run_id = run_id
        self.spans: list[Span] = []
        self.stack: list[Span] = []
        self.active = False
        self.iteration = None
        self.notes: dict[tuple[int, str], float] = {}
        self.queries: list[tuple[int, object]] = []
        self.main = threading.get_ident()

    # -- spans ------------------------------------------------------------
    @contextmanager
    def scope(self, layer: str, name: str):
        if (not self.active or threading.get_ident() != self.main
                or (layer != "iter" and any(s.layer == layer
                                            for s in self.stack))):
            yield None
            return
        parent = self.stack[-1].sid if self.stack else None
        span = Span(len(self.spans), name, layer, parent, time.time(),
                    self.run_id, self.iteration)
        self.spans.append(span)
        self.stack.append(span)
        self.sc.setJobGroup(f"pb-{span.sid}", f"{layer}:{name}")
        try:
            yield span
        finally:
            span.end = time.time()
            self.stack.pop()
            if self.stack:
                top = self.stack[-1]
                self.sc.setJobGroup(f"pb-{top.sid}", f"{top.layer}:{top.name}")
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)

    def note(self, key: str, value: float) -> None:
        """Add ``value`` to a per-iteration counter (traced iterations)."""
        if self.active and self.iteration is not None:
            k = (self.iteration, key)
            self.notes[k] = self.notes.get(k, 0.0) + value

    def watch_query(self, query) -> None:
        if self.active and self.iteration is not None:
            self.queries.append((self.iteration, query))

    # -- instrumentation --------------------------------------------------
    def _wrap(self, layer: str, qualname: str, fn, stats_key=None):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not tracer.active:
                return fn(*args, **kwargs)
            st = None
            if stats_key and kwargs.get("stats") is None:
                st = kwargs["stats"] = {}
            with tracer.scope(layer, qualname):
                out = fn(*args, **kwargs)
            if st is not None and "iterations" in st:
                tracer.note(stats_key, st["iterations"])
            return out

        traced.__perfbench_original__ = fn
        return traced

    def instrument(self) -> None:
        """Wrap every public function and public class method of the
        ``LAYERS`` modules, rebind the names other loaded modules imported,
        and wrap ``DataFrameWriter`` actions as sink spans."""
        import importlib

        from pyspark.sql import DataFrameWriter
        swap: dict[int, object] = {}
        for layer, mods in LAYERS.items():
            for mname in mods:
                mod = importlib.import_module(mname)
                for name, obj in list(vars(mod).items()):
                    if name.startswith("_"):
                        continue
                    if inspect.isfunction(obj) and obj.__module__ == mname:
                        w = self._wrap(layer, name, obj,
                                       ROUND_STATS.get((mname, name)))
                        swap[id(obj)] = w
                        setattr(mod, name, w)
                    elif inspect.isclass(obj) and obj.__module__ == mname:
                        for mn, meth in list(vars(obj).items()):
                            if mn.startswith("_") or not inspect.isfunction(meth):
                                continue
                            setattr(obj, mn, self._wrap(
                                layer, f"{name}.{mn}", meth))
        for mod in list(sys.modules.values()):
            mname = getattr(mod, "__name__", "")
            if not (mname.startswith(("scalding_spark", "examples"))
                    or mname == "__spark_entry__"):
                continue
            for name, obj in list(vars(mod).items()):
                w = swap.get(id(obj))
                if w is not None and obj is getattr(w, "__wrapped__", None):
                    setattr(mod, name, w)
        for meth in ("save", "parquet", "csv", "json", "text",
                     "saveAsTable", "insertInto"):
            setattr(DataFrameWriter, meth, self._sink(
                getattr(DataFrameWriter, meth), meth))

    def _sink(self, fn, name):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not tracer.active:
                return fn(*args, **kwargs)
            with tracer.scope("sink", name):
                out = fn(*args, **kwargs)
            path = kwargs.get("path", args[1] if len(args) > 1 else None)
            if (threading.get_ident() == tracer.main
                    and isinstance(path, str) and os.path.isdir(path)):
                tracer.note("sink.files_written", sum(
                    1 for _, _, fs in os.walk(path) for f in fs
                    if not f.startswith((".", "_"))))
            return out

        return traced


    # -- status-store readers ---------------------------------------------
    def _jobs(self) -> list[dict]:
        gw = self.sc._gateway
        ss = self.sc._jsc.sc().statusStore()
        jobs = ss.jobsList(gw.jvm.java.util.ArrayList())
        out = []
        for i in range(jobs.size()):
            j = jobs.apply(i)
            sub, done = _opt(j.submissionTime()), _opt(j.completionTime())
            ids = j.stageIds()
            out.append({
                "id": j.jobId(), "group": _opt(j.jobGroup()),
                "start": sub.getTime() / 1000.0 if sub else None,
                "end": done.getTime() / 1000.0 if done else None,
                "stages": [ids.apply(k) for k in range(ids.size())]})
        return out

    def _stages(self) -> dict[int, dict]:
        gw = self.sc._gateway
        ss = self.sc._jsc.sc().statusStore()
        stages = ss.stageList(gw.jvm.java.util.ArrayList(), False, False,
                              gw.new_array(gw.jvm.double, 0),
                              gw.jvm.java.util.ArrayList())
        out: dict[int, dict] = {}
        for i in range(stages.size()):
            s = stages.apply(i)
            d = out.setdefault(s.stageId(), {
                "tasks": 0, "task_s": 0.0, "shuffle_write": 0,
                "shuffle_read": 0, "spill": 0, "input": 0, "output": 0})
            d["tasks"] += s.numCompleteTasks()
            d["task_s"] += s.executorRunTime() / 1000.0
            d["shuffle_write"] += s.shuffleWriteBytes()
            d["shuffle_read"] += s.shuffleReadBytes()
            d["spill"] += s.diskBytesSpilled()
            d["input"] += s.inputBytes()
            d["output"] += s.outputBytes()
        return out

    def _executions(self, lo: float, hi: float) -> list[list[tuple]]:
        """Plan nodes of the SQL executions submitted in [lo, hi]: one list
        of (node name, {metric name: value}) per execution."""
        store = self.spark._jsparkSession.sharedState().statusStore()
        execs = store.executionsList()
        out = []
        for i in range(execs.size()):
            e = execs.apply(i)
            t = e.submissionTime() / 1000.0
            if not lo <= t <= hi:
                continue
            eid = e.executionId()
            values = store.executionMetrics(eid)
            graph = store.planGraph(eid)
            nodes = graph.allNodes()
            rows = []
            for k in range(nodes.size()):
                node = nodes.apply(k)
                ms = node.metrics()
                vals = {}
                for m in range(ms.size()):
                    pm = ms.apply(m)
                    v = values.get(pm.accumulatorId())
                    vals[pm.name()] = parse_metric(
                        v.get() if v.isDefined() else None)
                rows.append((node.name(), vals))
            out.append(rows)
        return out

    def gc_seconds(self) -> float:
        ss = self.sc._jsc.sc().statusStore()
        ex = ss.executorList(True)
        return sum(ex.apply(i).totalGCTime()
                   for i in range(ex.size())) / 1000.0

    # -- aggregation ------------------------------------------------------
    def collect(self, traced_iters: list[int]) -> dict[str, float]:
        """Per-iteration means over ``traced_iters`` of every call-scope,
        sink, plan-node, rounds, streaming and store metric."""
        n = max(1, len(traced_iters))
        want = set(traced_iters)
        spans = [s for s in self.spans if s.end is not None]
        by_sid = {s.sid: s for s in spans}
        jobs, stages = self._jobs(), self._stages()
        # each job belongs to the span whose group it carries, else to the
        # innermost span whose window holds its submission (jobs launched
        # on the streaming thread carry the query's own group)
        owner: dict[int, Span] = {}
        for j in jobs:
            sp = None
            g = j["group"] or ""
            if g.startswith("pb-") and int(g[3:]) in by_sid:
                sp = by_sid[int(g[3:])]
            elif j["start"] is not None:
                inside = [s for s in spans
                          if s.start <= j["start"] <= s.end]
                sp = max(inside, key=lambda s: s.start) if inside else None
            if sp is not None:
                owner[j["id"]] = sp

        def ancestors(sp):
            while sp is not None:
                yield sp
                sp = by_sid.get(sp.parent) if sp.parent is not None else None

        m: dict[str, float] = {k: 0.0 for k in metric_names()}
        cores = self.sc.defaultParallelism
        scoped = {s.sid: [] for s in spans}
        for j in jobs:
            sp = owner.get(j["id"])
            for a in ancestors(sp):
                scoped[a.sid].append(j)

        def totals(js):
            t = {"jobs": len(js), "stages": 0, "tasks": 0, "task_s": 0.0,
                 "shuffle_write": 0, "shuffle_read": 0, "spill": 0,
                 "input": 0, "output": 0}
            for j in js:
                for sid in j["stages"]:
                    st = stages.get(sid)
                    if st is None or not st["tasks"]:
                        continue
                    t["stages"] += 1
                    for k in ("tasks", "task_s", "shuffle_write",
                              "shuffle_read", "spill", "input", "output"):
                        t[k] += st[k]
            return t

        sink_s = 0.0
        for s in spans:
            if s.iteration not in want or s.layer == "iter":
                continue
            js = scoped[s.sid]
            t = totals(js)
            dur = s.end - s.start
            if s.layer == "sink":
                sink_s += dur
                m["sink.s"] += dur
                m["sink.jobs"] += t["jobs"]
                m["sink.stages"] += t["stages"]
                m["sink.tasks"] += t["tasks"]
                m["sink.task_s"] += t["task_s"]
                m["sink.shuffle_write_mb"] += t["shuffle_write"] / MB
                m["sink.shuffle_read_mb"] += t["shuffle_read"] / MB
                m["sink.spill_mb"] += t["spill"] / MB
                m["sink.input_mb"] += t["input"] / MB
                m["sink.output_mb"] += t["output"] / MB
                continue
            if s.layer not in LAYERS:
                continue
            ivs = [(j["start"], j["end"]) for j in js
                   if j["start"] is not None and j["end"] is not None]
            m[f"{s.layer}.call_s"] += dur
            m[f"{s.layer}.jobs"] += t["jobs"]
            m[f"{s.layer}.task_s"] += t["task_s"]
            m[f"{s.layer}.shuffle_write_mb"] += t["shuffle_write"] / MB
            m[f"{s.layer}.plan_s"] += dur - covered(ivs, s.start, s.end)
        if sink_s > 0:
            m["sink.core_util"] = m["sink.task_s"] / (sink_s * cores)
        iters = [s for s in spans if s.layer == "iter" and s.iteration in want]
        for it in iters:
            for rows in self._executions(it.start, it.end):
                for name, vals in rows:
                    _fold_node(m, name, vals)
        for (it, key), v in self.notes.items():
            if it in want and key in m:
                m[key] += v
        for it, q in self.queries:
            if it not in want:
                continue
            for p in q.recentProgress:
                d = p.durationMs if hasattr(p, "durationMs") else p["durationMs"]
                m["streaming.add_batch_s"] += d.get("addBatch", 0) / 1000.0
                m["streaming.wal_commit_s"] += d.get("walCommit", 0) / 1000.0
                m["streaming.planning_s"] += d.get("queryPlanning", 0) / 1000.0
                m["streaming.trigger_s"] += \
                    d.get("triggerExecution", 0) / 1000.0
        for k in list(m):
            if k != "sink.core_util":
                m[k] /= n
        written = sum(v for (it, k), v in self.notes.items()
                      if it in want and k == "_store.bytes_written")
        read = sum(v for (it, k), v in self.notes.items()
                   if it in want and k == "_store.input_bytes")
        m["store.write_amp"] = written / read if read else 0.0
        return m

    def export(self, path: str) -> None:
        import json
        spans = [s.as_dict() for s in self.spans if s.end is not None]
        selfs = self_times(spans)
        for s in spans:
            s["self_s"] = selfs[s["id"]]
        with open(path, "w") as fh:
            json.dump({"run_id": self.run_id, "spans": spans}, fh)


def _fold_node(m: dict, name: str, vals: dict) -> None:
    """Add one plan node's metrics into the ``exec.*`` totals."""
    n = name.lower()
    if n.startswith("scan"):
        m["exec.scan.files"] += vals.get("number of files read", 0.0)
        m["exec.scan.rows"] += vals.get("number of output rows", 0.0)
        m["exec.scan.s"] += vals.get("scan time", 0.0)
    elif "aggregate" in n:
        m["exec.aggregate.s"] += vals.get("time in aggregation build", 0.0)
        m["exec.aggregate.spill_mb"] += vals.get("spill size", 0.0) / MB
    elif n == "sort":
        m["exec.sort.s"] += vals.get("sort time", 0.0)
        m["exec.sort.spill_mb"] += vals.get("spill size", 0.0) / MB
    elif n.startswith("broadcastexchange"):
        m["exec.broadcast.build_s"] += vals.get("time to build", 0.0)
        m["exec.broadcast.mb"] += vals.get("data size", 0.0) / MB
    elif n.startswith("exchange"):
        m["exec.exchange.count"] += 1
        m["exec.exchange.shuffle_write_mb"] += \
            vals.get("shuffle bytes written", 0.0) / MB
    if "join" in n:
        m["exec.join.rows_out"] += vals.get("number of output rows", 0.0)
