"""Span tracing and Spark execution counters for the traced benchmark run.

The program is not instrumented.  ``install`` replaces the public entry
points of each layer module with thin wrappers *before* the query
registry is imported, so registry modules that bind names at import
(``from ..pipeline.stages import locate_stage``) bind the wrappers.  A
sweep over every loaded module of the package afterwards rebinds names
imported before the wrappers existed.

Spans are kept in memory as ``Span`` records and reduced when the run
ends: a span's self time is its duration minus the part of it that its
children cover.  The self time of the ``op`` and ``op.build`` spans is
the unattributed part of an op: time in the registry callable outside
every layer span (building and analysing DataFrames).

``ExecStats`` reads Spark's own counters from outside, through the
SparkContext's ``AppStatusStore`` (the store behind ``statusTracker``),
for the stages and jobs that ran during a measured phase.
"""

from __future__ import annotations

import contextlib
import functools
import inspect
import itertools
import json
import os
import threading
import time
from dataclasses import dataclass

PKG = "lawfirm_data_pipeline_spark"

# module → (layer name, functions to wrap; None = every public function
# defined in the module).  Layer names are the prefixes of the per-layer
# metrics.
LAYER_FUNCTIONS = {
    "io": ("io", ["load_table"]),
    "predicates": ("predicates", ["compile_where", "compile_order_by"]),
    "operators.relations": ("operators.relations", None),
    "operators.mutations": ("operators.mutations", None),
    "operators.text": ("operators.text", None),
    "operators.dedup": ("operators.dedup", None),
    "operators.similarity": ("operators.similarity", None),
    "operators.retrieval": ("operators.retrieval", None),
    "operators.linkage": ("operators.linkage", None),
    "operators.curation": ("operators.curation", None),
    "pipeline.stages": ("pipeline", ["locate_stage", "scrape_stage", "sync_stage"]),
}
# (module, class) → (layer name, methods)
LAYER_METHODS = {
    ("query", "Model"): (
        "query",
        ["find_many", "find_first", "find_unique", "find_first_or_throw",
         "find_unique_or_throw", "count", "aggregate", "group_by"],
    ),
    ("sources.lake", "Transaction"): ("lake", ["stage", "commit"]),
    ("sources.lake", "Catalog"): ("lake", ["snapshot"]),
}
# Spark actions a registry callable runs itself (eager jobs while the op
# is built): one ``exec.eager.<method>`` span each, opened only directly
# under ``op.build``, so that a job run inside a layer function stays that
# layer's time.  (module, class) → methods.
EAGER_ACTIONS = {
    ("pyspark.sql.classic.dataframe", "DataFrame"): [
        "collect", "count", "toPandas", "take", "first", "head",
        "toLocalIterator", "foreach", "foreachPartition", "isEmpty"],
    ("pyspark.sql.readwriter", "DataFrameWriter"): [
        "save", "saveAsTable", "insertInto", "parquet", "json", "csv", "orc", "text"],
    ("pyspark.sql.session", "SparkSession"): ["createDataFrame"],
}


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    op: int | None
    failed: bool = False


class Tracer:
    """In-memory span recorder.  Parents come from a per-thread stack, or
    are given explicitly for work that runs on another thread (Structured
    Streaming runs ``foreachBatch`` bodies on a callback thread)."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        self._op_of: dict[int, int | None] = {}
        self.counters: dict[str, float] = {}

    @property
    def enabled(self) -> bool:
        """Whether this thread records spans (see ``tracing``)."""
        return getattr(self._local, "on", False)

    @contextlib.contextmanager
    def tracing(self, on: bool = True):
        """Record spans on this thread inside the block (or not)."""
        prev, self._local.on = self.enabled, on
        try:
            yield
        finally:
            self._local.on = prev

    def count(self, key: str, n: float = 1) -> None:
        with self._lock:
            self.counters[key] = self.counters.get(key, 0) + n

    def _stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def current(self) -> int | None:
        st = self._stack()
        return st[-1][0] if st else None

    def current_name(self) -> str | None:
        st = self._stack()
        return st[-1][1] if st else None

    def new_id(self) -> int:
        return next(self._ids)

    def begin(self, name: str, parent: int | None = None, root: bool = False):
        """Open a span on this thread; returns a token for ``end``."""
        sid = self.new_id()
        if parent is None and not root:
            parent = self.current()
        with self._lock:
            op = sid if root else self._op_of.get(parent)
            self._op_of[sid] = op
        self._stack().append((sid, name))
        return (sid, name, time.perf_counter(), parent, op)

    def end(self, token, failed: bool = False) -> None:
        sid, name, t0, parent, op = token
        t1 = time.perf_counter()
        st = self._stack()
        if st and st[-1][0] == sid:
            st.pop()
        self.record(Span(sid, name, t0, t1, parent, op, failed))

    def record(self, span: Span) -> None:
        with self._lock:
            self.spans.append(span)

    def open_op_of(self, sid: int | None) -> int | None:
        with self._lock:
            return self._op_of.get(sid)

    def link(self, sid: int, parent: int | None) -> None:
        """Register a span id whose record is written later (a stream)."""
        with self._lock:
            self._op_of[sid] = self._op_of.get(parent)

    @contextlib.contextmanager
    def span(self, name: str, root: bool = False, parent: int | None = None):
        """Record a span around the block; a no-op while disabled."""
        if not self.enabled:
            yield
            return
        tok = self.begin(name, parent=parent, root=root)
        failed = True
        try:
            yield
            failed = False
        finally:
            self.end(tok, failed)

    def wrap(self, fn, name: str, under: str | None = None):
        """``fn`` with a span around each call; with ``under``, only calls
        made directly inside an open span of that name."""
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not self.enabled or (under is not None and self.current_name() != under):
                return fn(*args, **kwargs)
            with self.span(name):
                return fn(*args, **kwargs)

        return traced


def _public_functions(mod) -> list[str]:
    return [
        n for n, v in vars(mod).items()
        if inspect.isfunction(v) and v.__module__ == mod.__name__
        and not n.startswith("_")
    ]


def install(tracer: Tracer) -> None:
    """Wrap every layer entry point; must run before the registry import."""
    import importlib
    import sys

    replaced: dict[int, object] = {}
    for modname, (layer, names) in LAYER_FUNCTIONS.items():
        mod = importlib.import_module(f"{PKG}.{modname}")
        for n in names if names is not None else _public_functions(mod):
            orig = getattr(mod, n)
            w = tracer.wrap(orig, f"{layer}.{n}")
            setattr(mod, n, w)
            replaced[id(orig)] = w
    for (modname, cls_name), (layer, names) in LAYER_METHODS.items():
        cls = getattr(importlib.import_module(f"{PKG}.{modname}"), cls_name)
        for n in names:
            setattr(cls, n, tracer.wrap(getattr(cls, n), f"{layer}.{cls_name}.{n}"))
    for (modname, cls_name), names in EAGER_ACTIONS.items():
        cls = getattr(importlib.import_module(modname), cls_name)
        for n in names:
            setattr(cls, n, tracer.wrap(getattr(cls, n), f"exec.eager.{n}", under="op.build"))
    _install_lake_usage(tracer)
    _install_streaming(tracer)
    # rebind names that already-imported modules took by ``from x import f``
    for mname, mod in list(sys.modules.items()):
        if mod is None or not (mname == PKG or mname.startswith(PKG + ".")):
            continue
        for attr, val in list(vars(mod).items()):
            w = replaced.get(id(val))
            if w is not None and w is not val:
                setattr(mod, attr, w)


def _install_lake_usage(tracer: Tracer) -> None:
    """Count the files and bytes each staged lake version wrote.  Runs
    after the ``lake.Transaction.stage`` span closes, because callers may
    delete their scratch catalog as soon as the op returns."""
    from lawfirm_data_pipeline_spark.sources.lake import Transaction

    traced_stage = Transaction.stage

    def stage(txn, table, df):
        v = traced_stage(txn, table, df)
        if tracer.enabled:
            files, size = dir_usage(os.path.join(txn.catalog.root, table, f"v={v}"))
            tracer.count("lake.files_written", files)
            tracer.count("lake.bytes_written", size)
        return v

    Transaction.stage = stage


def _install_streaming(tracer: Tracer) -> None:
    """Streams: one ``streaming.query`` span from ``start()`` until
    ``awaitTermination()`` or ``stop()`` returns (availableNow streams
    end with the first, drained ones with the second); one
    ``streaming.batch`` child span per ``foreachBatch`` body.  The stream
    span's self time is the streaming overhead: stream wall time not spent
    in the batch bodies."""
    from pyspark.sql.streaming.query import StreamingQuery
    from pyspark.sql.streaming.readwriter import DataStreamWriter

    orig_fb = DataStreamWriter.foreachBatch
    orig_start = DataStreamWriter.start

    def foreachBatch(writer, func):
        if not tracer.enabled:
            return orig_fb(writer, func)
        sid = tracer.new_id()
        writer._perfbench_stream = sid

        def body(df, batch_id):  # runs on a py4j callback thread
            with tracer.tracing(), tracer.span("streaming.batch", parent=sid):
                func(df, batch_id)

        return orig_fb(writer, body)

    def start(writer, *args, **kwargs):
        sid = getattr(writer, "_perfbench_stream", None)
        if sid is None or not tracer.enabled:
            return orig_start(writer, *args, **kwargs)
        parent = tracer.current()
        tracer.link(sid, parent)
        t0 = time.perf_counter()
        q = orig_start(writer, *args, **kwargs)
        q._perfbench_stream = (sid, t0, parent)
        return q

    def finished(orig):
        def wrapper(query, *args, **kwargs):
            out = orig(query, *args, **kwargs)
            info = getattr(query, "_perfbench_stream", None)
            if info is not None:
                sid, t0, parent = info
                tracer.record(Span(sid, "streaming.query", t0, time.perf_counter(),
                                   parent, tracer.open_op_of(sid)))
                del query._perfbench_stream
            return out

        return wrapper

    DataStreamWriter.foreachBatch = foreachBatch
    DataStreamWriter.start = start
    StreamingQuery.awaitTermination = finished(StreamingQuery.awaitTermination)
    StreamingQuery.stop = finished(StreamingQuery.stop)


def _union_len(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        s, e = max(s, lo), min(e, hi)
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


def self_times(spans: list[Span]) -> dict[int, float]:
    """span id → self time (s): duration minus the union of its children."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append((s.start, s.end))
    return {
        s.id: (s.end - s.start) - _union_len(kids.get(s.id, []), s.start, s.end)
        for s in spans
    }


# ---------------------------------------------------------------------------
# Spark execution counters (the ``exec`` layer)
# ---------------------------------------------------------------------------


class ExecStats:
    """Stage and job metrics from the SparkContext's status store, for the
    stages and jobs submitted between ``mark`` and ``collect``."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        jvm = self.sc._jvm
        self.store = self.sc._jsc.sc().statusStore()
        self.mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        scala = getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
        self.mapper.registerModule(getattr(scala, "MODULE$"))
        self._no_quantiles = self.sc._gateway.new_array(jvm.double, 0)
        self._skew_q = self.sc._gateway.new_array(jvm.double, 2)
        self._skew_q[0], self._skew_q[1] = 0.5, 1.0
        self.first_stage = self.first_job = 0
        self.cached_peak = 0
        self._lock = threading.Lock()

    def _json(self, obj):
        return json.loads(self.mapper.writeValueAsString(obj))

    def _stages(self) -> list[dict]:
        jvm = self.sc._jvm
        return self._json(self.store.stageList(
            None, False, False, self._no_quantiles, jvm.java.util.ArrayList()))

    def _jobs(self) -> list[dict]:
        return self._json(self.store.jobsList(self.sc._jvm.java.util.ArrayList()))

    def mark(self) -> None:
        self.first_stage = max((s["stageId"] for s in self._stages()), default=-1) + 1
        self.first_job = max((j["jobId"] for j in self._jobs()), default=-1) + 1
        self.cached_peak = 0

    def sample_cache(self) -> None:
        """Cached bytes right now (call after an op, before clearCache)."""
        used = sum(r.get("memoryUsed", 0) + r.get("diskUsed", 0)
                   for r in self._json(self.store.rddList(True)))
        with self._lock:
            self.cached_peak = max(self.cached_peak, used)

    def collect(self) -> dict:
        stages = [s for s in self._stages()
                  if s["stageId"] >= self.first_stage and s["status"] != "SKIPPED"]
        jobs = [j for j in self._jobs() if j["jobId"] >= self.first_job]
        skew = 1.0
        for s in stages:
            if s["numCompleteTasks"] < 2 or s["status"] != "COMPLETE":
                continue
            dist = self.store.taskSummary(s["stageId"], s["attemptId"], self._skew_q)
            if dist.isEmpty():
                continue
            run = self._json(dist.get())["executorRunTime"]
            if run[0] > 0:
                skew = max(skew, run[1] / run[0])

        def tot(key):
            return sum(s.get(key, 0) for s in stages)

        return {
            "jobs": len(jobs),
            "stages": len(stages),
            "tasks": tot("numCompleteTasks") + tot("numFailedTasks"),
            "failed_tasks": tot("numFailedTasks"),
            "input_bytes": tot("inputBytes"),
            "input_records": tot("inputRecords"),
            "shuffle_read_bytes": tot("shuffleReadBytes"),
            "shuffle_write_bytes": tot("shuffleWriteBytes"),
            "executor_cpu_ms": tot("executorCpuTime") / 1e6,
            "executor_run_ms": tot("executorRunTime"),
            "gc_ms": tot("jvmGcTime"),
            "spill_bytes": tot("memoryBytesSpilled") + tot("diskBytesSpilled"),
            "task_skew": skew,
            "cached_bytes_peak": self.cached_peak,
            # the store keeps the newest spark.ui.retainedStages stages only
            "stages_evicted": bool(stages) and min(s["stageId"] for s in stages) > self.first_stage,
        }


def dir_usage(path: str) -> tuple[int, int]:
    """(files, bytes) of the data files under ``path``."""
    files = size = 0
    for root, _, names in os.walk(path):
        for n in names:
            if n.startswith((".", "_")):
                continue
            files += 1
            size += os.path.getsize(os.path.join(root, n))
    return files, size
