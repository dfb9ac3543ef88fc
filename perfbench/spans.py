"""Traced run: spans around calls into each siuba_spark layer, py4j
counters, and per-query Spark status read back from the driver's status
stores.

Nothing here is imported into the program; the tracer wraps the layers'
public functions from the outside.  Python binds imported functions by
name, so a wrapper only takes effect if it replaces the function object in
every module that imported it -- ``_rebind`` does that for each
``siuba_spark`` module and the query registry.

Spans hold a name, start, end, parent and query id; they stay in memory
and ``Tracer.write`` dumps them at the end.  Layer names:

- ``plans.build``      calling the query function until it returns
- ``operators.verb``   a verb from ``siuba_spark.operators`` applied to a table
- ``functions.lower``  outermost ``functions.lowering.lower`` call
- ``sources.tbl``      ``tbl()``
- ``corpus.op`` / ``streaming.op``  public functions of those packages
- ``plans.sink``       table writers (``write_parquet`` ... and pyspark's
  ``DataFrameWriter``) called while a query builds
- ``spark.plan`` / ``spark.action``  the executed plan, the final action
"""

from __future__ import annotations

import functools
import inspect
import json
import re
import sys
import threading
import time
from dataclasses import dataclass, field

LAYER_PACKAGES = {
    "siuba_spark.corpus": "corpus.op",
    "siuba_spark.streaming": "streaming.op",
}
SINK_FUNCS = ("write_parquet", "write_csv", "write_shards")
WRITER_METHODS = ("save", "parquet", "csv", "json", "orc", "text",
                  "saveAsTable", "insertInto")
# spans whose union is subtracted from plans.build to give siu.residual
BUILD_CHILDREN = ("operators.verb", "functions.lower", "sources.tbl")


@dataclass
class Span:
    sid: int
    name: str
    start: float
    end: float
    parent: int | None
    query: str | None
    thread: int


@dataclass
class _Open:
    sid: int
    name: str
    start: float
    parent: int | None
    drop: bool = False


@dataclass
class Tracer:
    spans: list[Span] = field(default_factory=list)
    query: str | None = None
    active: bool = False      # record spans (a traced attempt is running)
    building: bool = False    # the query function is running
    py4j_calls: int = 0
    py4j_wait_s: float = 0.0
    py4j_paused: bool = False
    sc: object = None
    _next: int = 0
    _local: threading.local = field(default_factory=threading.local)
    _lock: threading.Lock = field(default_factory=threading.Lock)

    # -- span recording -------------------------------------------------
    def _stack(self) -> list[_Open]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def open(self, name: str) -> _Open:
        st = self._stack()
        with self._lock:
            self._next += 1
            sid = self._next
        op = _Open(sid, name, time.perf_counter(), st[-1].sid if st else None)
        st.append(op)
        return op

    def close(self, op: _Open) -> None:
        end = time.perf_counter()
        st = self._stack()
        st.remove(op)
        if not op.drop:
            self.spans.append(Span(op.sid, op.name, op.start, end, op.parent,
                                   self.query, threading.get_ident()))

    def inside(self, name: str) -> bool:
        return any(o.name == name for o in self._stack())

    def call(self, name: str, fn, *args, **kwargs):
        op = self.open(name)
        try:
            return fn(*args, **kwargs)
        finally:
            self.close(op)

    # -- wrappers -------------------------------------------------------
    def wrap_layer(self, fn, name: str, outermost: bool = False):
        """Span around each call; a call that only builds a ``Pipe`` (a
        verb used as ``tbl >> verb(...)``) records no span itself, the
        span goes around the pipe's application instead."""
        from siuba_spark.plans.pipe import Pipe
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not tracer.active or (outermost and tracer.inside(name)):
                return fn(*args, **kwargs)
            op = tracer.open(name)
            try:
                out = fn(*args, **kwargs)
                op.drop = isinstance(out, Pipe)
            finally:
                tracer.close(op)
            if op.drop:
                inner = out.fn
                return Pipe(lambda t: tracer.call(name, inner, t), out.name)
            return out

        return traced

    def set_group(self, group: str) -> None:
        """Tag the jobs this thread submits next (a Spark job group)."""
        paused, self.py4j_paused = self.py4j_paused, True
        try:
            self.sc.setLocalProperty("spark.jobGroup.id", group or None)
        finally:
            self.py4j_paused = paused

    def wrap_tbl(self, fn):
        """``sources.tbl`` span; jobs it launches get a ``.tbl`` group."""
        traced = self.wrap_layer(fn, "sources.tbl")
        tracer = self

        @functools.wraps(fn)
        def grouped(*args, **kwargs):
            if not tracer.building or tracer.inside("sources.tbl"):
                return traced(*args, **kwargs)
            tracer.set_group(f"{tracer.query}.tbl")
            try:
                return traced(*args, **kwargs)
            finally:
                tracer.set_group(f"{tracer.query}.build")

        return grouped

    def wrap_sink(self, fn):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not tracer.building or tracer.inside("plans.sink"):
                return fn(*args, **kwargs)
            return tracer.call("plans.sink", fn, *args, **kwargs)

        return traced

    def install(self, spark, registry_module) -> None:
        """Wrap every layer's public functions and the py4j client."""
        import pyspark.sql.readwriter as rw

        import siuba_spark.functions.lowering as lowering
        import siuba_spark.plans.tbl as plans_tbl

        mods = _program_modules(registry_module)
        targets: dict[int, tuple] = {}
        for mod in mods:
            for attr, obj in list(vars(mod).items()):
                if attr.startswith("_") or not inspect.isfunction(obj):
                    continue
                home = obj.__module__ or ""
                if home.startswith("siuba_spark.operators") \
                        and hasattr(obj, "__verb__"):
                    targets[id(obj)] = (obj, "operators.verb", False)
                for pkg, layer in LAYER_PACKAGES.items():
                    if home.startswith(pkg):
                        targets[id(obj)] = (obj, layer, False)
        targets[id(lowering.lower)] = (lowering.lower, "functions.lower", True)
        targets[id(plans_tbl.tbl)] = (plans_tbl.tbl, "sources.tbl", False)
        for fname in SINK_FUNCS:
            f = getattr(plans_tbl, fname)
            targets[id(f)] = (f, "plans.sink", False)
        swap = {}
        for obj, layer, outer in targets.values():
            if layer == "plans.sink":
                swap[id(obj)] = self.wrap_sink(obj)
            elif layer == "sources.tbl":
                swap[id(obj)] = self.wrap_tbl(obj)
            else:
                swap[id(obj)] = self.wrap_layer(obj, layer, outer)
        _rebind(mods, swap)
        for meth in WRITER_METHODS:
            setattr(rw.DataFrameWriter, meth,
                    self.wrap_sink(getattr(rw.DataFrameWriter, meth)))
        self.sc = spark.sparkContext
        self._wrap_py4j(self.sc._gateway._gateway_client)

    def _wrap_py4j(self, client) -> None:
        send = client.send_command
        tracer = self

        def send_command(*args, **kwargs):
            if tracer.py4j_paused or not tracer.building:
                return send(*args, **kwargs)
            t0 = time.perf_counter()
            try:
                return send(*args, **kwargs)
            finally:
                dt = time.perf_counter() - t0
                with tracer._lock:
                    tracer.py4j_calls += 1
                    tracer.py4j_wait_s += dt

        client.send_command = send_command

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(s.__dict__) + "\n")


def _program_modules(registry_module) -> list:
    return [m for name, m in list(sys.modules.items())
            if m is not None and (name == "siuba_spark"
                                  or name.startswith("siuba_spark."))
            ] + [registry_module]


def _rebind(mods, swap: dict[int, object]) -> None:
    for mod in mods:
        for attr, obj in list(vars(mod).items()):
            new = swap.get(id(obj))
            if new is not None:
                setattr(mod, attr, new)


# -- span arithmetic ------------------------------------------------------
def union_s(intervals) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def layer_times(spans: list[Span]) -> dict[str, float]:
    """Per-layer seconds over a list of spans:

    - ``<layer>`` union time of that layer's spans (outermost time);
    - ``<layer>.calls`` number of spans;
    - ``<layer>.self`` self time: each span minus its direct children;
    - ``siu.residual`` build time not covered by verb/lower/tbl spans.
    """
    by_id = {s.sid: s for s in spans}
    child_s: dict[int, float] = {}
    for s in spans:
        if s.parent in by_id:
            child_s[s.parent] = child_s.get(s.parent, 0.0) + s.end - s.start
    out: dict[str, float] = {}
    names = {s.name for s in spans}
    for name in names:
        mine = [s for s in spans if s.name == name]
        out[name] = union_s((s.start, s.end) for s in mine)
        out[name + ".calls"] = float(len(mine))
        out[name + ".self"] = sum(max(0.0, s.end - s.start
                                      - child_s.get(s.sid, 0.0))
                                  for s in mine)
    covered = union_s((s.start, s.end) for s in spans
                      if s.name in BUILD_CHILDREN)
    out["siu.residual"] = max(0.0, out.get("plans.build", 0.0) - covered)
    return out


# -- Spark status ---------------------------------------------------------
_EXCHANGE = re.compile(r"^[\s:+\-|*]*(Exchange|BroadcastExchange|"
                       r"ShuffleExchange)\b", re.M)
_PY_EVAL = re.compile(r"^[\s:+\-|*]*\w*(EvalPython|InPandas|InArrow)\w*\b",
                      re.M)


def _final_plan(desc: str) -> str:
    """The tree of a formatted physical plan; the AQE final plan if any."""
    if "== Final Plan ==" in desc:
        desc = desc.split("== Final Plan ==", 1)[1]
        return desc.split("== Initial Plan ==", 1)[0]
    return desc.split("\n\n", 1)[0]


def _seq(jseq) -> list:
    return [jseq.apply(i) for i in range(jseq.size())]


@dataclass
class SparkStats:
    """Reads jobs, stages and SQL executions that ran since the last call
    from the live status stores, through py4j.  Job and execution ids are
    dense, so each read starts where the previous one stopped."""
    spark: object
    next_job: int = 0
    next_exec: int = 0

    def _stores(self):
        jsc = self.spark.sparkContext._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        return (jsc.statusStore(),
                self.spark._jsparkSession.sharedState().statusStore())

    def read(self, action_group: str | None = None) -> dict[str, float]:
        from py4j.protocol import Py4JJavaError

        store, sql = self._stores()
        m = dict.fromkeys(
            ("jobs", "eager_jobs", "stages", "tasks", "executor_run_s",
             "executor_cpu_s", "gc_s", "shuffle_write_bytes", "input_bytes",
             "spill_bytes", "bytes_written", "files_written", "exchanges",
             "python_eval_nodes"), 0.0)
        tbl_jobs = 0
        while True:
            try:
                jd = store.job(self.next_job)
            except Py4JJavaError:
                break
            self.next_job += 1
            g = jd.jobGroup()
            group = g.get() if g.isDefined() else ""
            m["jobs"] += 1
            if group != action_group:
                m["eager_jobs"] += 1
            if group.endswith(".tbl"):
                tbl_jobs += 1
            stage_ids = jd.stageIds().mkString(",")
            for sid in (int(x) for x in stage_ids.split(",") if x):
                sd = store.lastStageAttempt(sid)
                if str(sd.status()) != "COMPLETE":
                    continue
                m["stages"] += 1
                m["tasks"] += sd.numCompleteTasks()
                m["executor_run_s"] += sd.executorRunTime() / 1e3
                m["executor_cpu_s"] += sd.executorCpuTime() / 1e9
                m["gc_s"] += sd.jvmGcTime() / 1e3
                m["shuffle_write_bytes"] += sd.shuffleWriteBytes()
                m["input_bytes"] += sd.inputBytes()
                m["bytes_written"] += sd.outputBytes()
                m["spill_bytes"] += (sd.memoryBytesSpilled()
                                     + sd.diskBytesSpilled())
        m["tbl_jobs"] = float(tbl_jobs)
        n = sql.executionsCount()
        if n > self.next_exec:
            execs = _seq(sql.executionsList(self.next_exec,
                                            n - self.next_exec))
            self.next_exec = n
            last_plan = ""
            for e in execs:
                plan = _final_plan(e.physicalPlanDescription())
                last_plan = plan
                m["python_eval_nodes"] += len(_PY_EVAL.findall(plan))
                mets = sql.executionMetrics(e.executionId())
                for pm in _seq(e.metrics()):
                    if pm.name() == "number of written files":
                        v = str(mets.get(pm.accumulatorId()))
                        digits = re.sub(r"[^0-9]", "", v)
                        m["files_written"] += int(digits or 0)
            m["exchanges"] = float(len(_EXCHANGE.findall(last_plan)))
        return m
