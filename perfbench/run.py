#!/usr/bin/env python3
"""Benchmark of the spark-graft engine: two seeded workloads (see
``workloads.py``), every op checked against its DuckDB twin.

    python3 perfbench/run.py --workload lead_lookup --seed 1 --seconds 10 --trace 0

Run from the root of a checkout.  One run:

1. generates the seed's fresh-draw corpus (``tools/freshdraw_sf1``, 1x:
   15k customers, 600k lineitem, 5k documents, 2k vectors) under
   ``.perfbench_work/`` in a separate process;
2. sets up: starts the session with ``cpus`` = the visible cores, imports
   the query registry, then warms up by running every op of the workload
   once (``lead_lookup``: three times), as many at a time as there are
   cores.  ``setup_s`` is all three;
3. measures the workload: at least three rounds over its ops, then
   whole rounds until ``--seconds`` have passed; on 4 cores three rounds
   take longer.  (The traced ``lead_pipeline`` run makes one round, each
   op run twice.)
4. stops Spark and waits for its processes, then checks every measured
   result against the registry's ``ORACLE_SQL`` twin in DuckDB on the
   same parquet files (``tests/oracle_compare``: column names, row count
   and order-insensitive canonical rows).  A mismatch or an exception
   fails the op.

The last stdout line is ``{"correct", "attempted", "failed", "metrics"}``;
the line before it records the seed, the corpus ``MANIFEST.json``, the
load average at start and end, and per-op medians and failures.

``--trace 0`` reports the end-to-end metrics of ``BENCHMARK.json``.
``--trace 1`` runs every measured op twice, untraced and traced (span
wrappers around each layer's entry points, see ``spans.py``), alternating
which goes first, and reports the per-layer metrics; ``trace.overhead_pct``
is the traced op wall over the untraced op wall.  Per-layer times are
shares of the traced op wall time (self time, so layers do not double
count; a layer a workload never calls reads 0 %), and
``trace.covered_pct`` is the share inside named spans: the rest is time
in the registry callables outside every layer and every Spark action.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
PKG = "lawfirm_data_pipeline_spark"
REQUIRED = [
    os.path.join(ROOT, PKG, "queries.py"),
    os.path.join(ROOT, "tools", "freshdraw_sf1.py"),
    os.path.join(ROOT, "tests", "oracle_compare.py"),
]
TABLES = ("region nation customer supplier part orders lineitem events "
          "documents embeddings").split()
CPUS = len(os.sched_getaffinity(0))
MB = 1024.0 * 1024.0


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


# ---------------------------------------------------------------------------
# processes and memory
# ---------------------------------------------------------------------------


def _proc_table() -> dict[int, int]:
    """pid → ppid for every visible process."""
    out = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        out[int(d)] = int(stat.rsplit(")", 1)[1].split()[1])
    return out


def cpu_times() -> list[int]:
    """Host-wide jiffies: user nice system idle iowait irq softirq steal."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def descendants(pid: int) -> list[int]:
    table = _proc_table()
    kids, frontier = [], [pid]
    while frontier:
        p = frontier.pop()
        for c, pp in table.items():
            if pp == p:
                kids.append(c)
                frontier.append(c)
    return kids


def _pss_kb(pid: int) -> tuple[str, int]:
    """(command name, proportional resident kB) of a process; 0 kB once it
    is gone.  Shared pages are split between the processes mapping them,
    so a child forked by the JVM or the Python daemon does not count its
    parent's memory a second time."""
    try:
        with open(f"/proc/{pid}/comm") as f:
            name = f.read().strip()
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return name, int(line.split()[1])
    except OSError:
        pass
    return "?", 0


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


class MemSampler(threading.Thread):
    """Memory of this process, the Spark JVM and the Python workers (every
    descendant), sampled every 200 ms.  ``series`` is the memory the
    program holds at each sample: the JVM heap left after the last young
    collection, plus the JVM's non-heap memory (metaspace, code cache),
    plus the PSS of the Python processes; ``peak`` keeps the peak of each
    part, and of the JVM's own PSS, for the record.

    The JVM's resident memory follows how far G1 has grown its heap, and
    with the program's 8g heap limit that differs by gigabytes between
    identical runs; heap used before a collection follows G1's young
    sizing the same way, and the peak of the heap after collections
    follows when old-generation garbage is reclaimed.  So the JVM is read
    through its own MXBeans (once ``attach`` has handed over the
    session), and the benchmark reports the median of ``series``.  PSS
    splits shared pages between the processes mapping them, so a worker
    forked by the Python daemon does not count its parent's pages a
    second time."""

    def __init__(self) -> None:
        super().__init__(daemon=True)
        self.peak: dict[str, float] = {}  # MB
        self.series: list[float] = []
        self._jvm = None
        self._young = None
        self._heap_pools: set[str] = set()
        self._gcs = -1
        self._after_gc = 0.0
        self._halt = threading.Event()

    def attach(self, spark) -> None:
        jvm = spark.sparkContext._jvm
        mf = jvm.java.lang.management.ManagementFactory
        self._heap_pools = {p.getName() for p in mf.getMemoryPoolMXBeans()
                            if p.getType().toString() == "Heap memory"}
        self._young = mf.getGarbageCollectorMXBeans()[0]  # listed first
        self._jvm = mf.getMemoryMXBean()

    def _heap(self) -> dict[str, float]:
        n = self._young.getCollectionCount()
        if n != self._gcs:
            self._gcs = n
            info = self._young.getLastGcInfo()
            if info is not None:
                after = info.getMemoryUsageAfterGc()
                self._after_gc = sum(after.get(k).getUsed() for k in after.keySet()
                                     if k in self._heap_pools) / MB
        return {"heap_after_gc": self._after_gc,
                "nonheap_used": self._jvm.getNonHeapMemoryUsage().getUsed() / MB}

    def sample(self) -> None:
        me = os.getpid()
        cur = {"jvm_pss": 0.0, "python_pss": 0.0}
        for p in [me] + descendants(me):
            name, kb = _pss_kb(p)
            cur["jvm_pss" if name == "java" else "python_pss"] += kb / 1024.0
        if self._jvm is not None:
            cur.update(self._heap())
            cur["program"] = cur["heap_after_gc"] + cur["nonheap_used"] + cur["python_pss"]
            self.series.append(cur["program"])
        for k, v in cur.items():
            self.peak[k] = max(self.peak.get(k, 0.0), v)

    def run(self) -> None:
        while not self._halt.wait(0.2):
            self.sample()

    def stop(self) -> dict[str, float]:
        self._halt.set()
        self.join()
        self.sample()  # at least one sample, however short the run
        self._jvm = self._young = None
        return self.peak


def stop_spark(spark) -> None:
    """Stop the session, end the gateway JVM and wait for every process it
    started (Python workers included)."""
    from pyspark import SparkContext

    kids = descendants(os.getpid())
    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = SparkContext._jvm = None
    deadline = time.monotonic() + 30
    while any(_alive(p) for p in kids) and time.monotonic() < deadline:
        time.sleep(0.1)
    for p in kids:
        if _alive(p):
            os.kill(p, signal.SIGKILL)


# ---------------------------------------------------------------------------
# set-up
# ---------------------------------------------------------------------------


def remove_stale_runs() -> None:
    """Delete run directories left by runs that were killed."""
    if not os.path.isdir(WORK):
        return
    for d in os.listdir(WORK):
        pid = d.removeprefix("run-")
        if pid.isdigit() and not _alive(int(pid)):
            shutil.rmtree(os.path.join(WORK, d), ignore_errors=True)


def prepare_env(run_dir: str) -> None:
    """Keep every file Spark and Python write inside the run directory,
    and let Python workers import the program (``PYTHONPATH``)."""
    tmp = os.path.join(run_dir, "tmp")
    cwd = os.path.join(run_dir, "cwd")
    for d in (tmp, cwd):
        os.makedirs(d, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    # every JVM (Spark's launcher and the session's JVM): temp files into
    # the run directory, and no hsperfdata file under /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["SPARK_GRAFT_CPUS"] = str(CPUS)
    # bucketed tables write spark-warehouse/ under the working directory
    os.chdir(cwd)
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def generate(seed: int, out: str) -> dict:
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "gen.py"), "--seed", str(seed),
         "--out", out],
        capture_output=True, text=True, timeout=300,
    )
    sys.stderr.write(p.stdout + p.stderr)
    p.check_returncode()
    with open(os.path.join(out, "MANIFEST.json")) as f:
        return json.load(f)


# ---------------------------------------------------------------------------
# correctness
# ---------------------------------------------------------------------------


def _fingerprint(df):
    import pandas as pd

    try:
        h = int(pd.util.hash_pandas_object(df, index=False).sum())
    except TypeError:
        return None
    return tuple(df.columns), len(df), h


def check(samples, sf_dir: str, oracle_sql: dict) -> None:
    """Fail every sample whose result differs from DuckDB's on the same
    parquet files; frees the results.  Identical results of one op (by a
    64-bit row-hash fingerprint) are compared once."""
    import duckdb
    from tests.oracle_compare import canon_multiset

    con = duckdb.connect()
    for t in TABLES:
        path = os.path.join(sf_dir, f"{t}.parquet").replace("'", "''")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    expected: dict[str, tuple] = {}
    passed: set = set()
    for s in samples:
        if s.error is not None:
            continue
        df, s.result = s.result, None
        try:
            if s.op not in expected:
                d = con.execute(oracle_sql[s.op]).df()
                expected[s.op] = (sorted(d.columns), len(d), canon_multiset(d))
            cols, n, canon = expected[s.op]
            fp = _fingerprint(df)
            if fp is not None and (s.op, fp) in passed:
                continue
            if sorted(df.columns) != cols:
                s.error = f"columns differ from DuckDB: {sorted(df.columns)} vs {cols}"
            elif len(df) != n:
                s.error = f"row count differs from DuckDB: {len(df)} vs {n}"
            elif canon_multiset(df) != canon:
                s.error = "value multiset differs from DuckDB"
            elif fp is not None:
                passed.add((s.op, fp))
        except Exception as e:  # noqa: BLE001 — an unverifiable result fails
            s.error = f"check failed: {type(e).__name__}: {e}"[:400]
    con.close()


# ---------------------------------------------------------------------------
# metrics
# ---------------------------------------------------------------------------


def end_to_end(samples, phase_wall: float, setup_s: float, mem_mb: float) -> dict:
    ok = [s for s in samples if s.error is None]
    walls = [s.wall for s in ok]
    by_op: dict[str, list[float]] = {}
    for s in ok:
        by_op.setdefault(s.op, []).append(s.wall)
    geo = math.exp(statistics.fmean(
        math.log(statistics.median(v)) for v in by_op.values())) if by_op else 0.0
    return {
        "setup_s": (setup_s, "s"),
        "ok_rate": (len(ok) / len(samples), "ratio"),
        "mem_p50_mb": (mem_mb, "MB"),
        "op_p50_ms": (statistics.median(walls) * 1e3 if walls else 0.0, "ms"),
        "op_geomean_ms": (geo * 1e3, "ms"),
        "ops_per_s": (len(ok) / phase_wall, "1/s"),
    }


# Per-layer self-time shares: metric → span-name prefixes.
SHARES = {
    "op.build.self_pct": ("op.build",),
    "op.action.self_pct": ("op.action",),
    "exec.eager.self_pct": ("exec.eager.",),
    "query.self_pct": ("query.",),
    "predicates.self_pct": ("predicates.",),
    "io.self_pct": ("io.",),
    "operators.relations.self_pct": ("operators.relations.",),
    "operators.text.self_pct": ("operators.text.",),
    "operators.dedup.self_pct": ("operators.dedup.",),
    "operators.similarity.self_pct": ("operators.similarity.",),
    "operators.retrieval.self_pct": ("operators.retrieval.",),
    "operators.linkage.self_pct": ("operators.linkage.",),
    "operators.curation.self_pct": ("operators.curation.",),
    "mutations.merge_update.self_pct": ("operators.mutations.merge_update",),
    "mutations.dedup_insert.self_pct": ("operators.mutations.dedup_insert",),
    "mutations.upsert.self_pct": ("operators.mutations.upsert",),
    "mutations.connect_or_create.self_pct": ("operators.mutations.connect_or_create",),
    "pipeline.locate_stage.self_pct": ("pipeline.locate_stage",),
    "pipeline.scrape_stage.self_pct": ("pipeline.scrape_stage",),
    "pipeline.sync_stage.self_pct": ("pipeline.sync_stage",),
    "streaming.overhead_pct": ("streaming.query",),
    "streaming.batch.self_pct": ("streaming.batch",),
    "lake.stage.self_pct": ("lake.Transaction.stage",),
    "lake.commit.self_pct": ("lake.Transaction.commit", "lake.commit.snapshot"),
}


def per_layer(tracer, exec_stats: dict, samples, setup: dict, phase_wall: float) -> dict:
    """Layer metrics of the traced run.  Span shares come from the traced
    op runs; exec counters are per op over all measured op runs."""
    from spans import self_times

    spans = [s for s in tracer.spans if s.op is not None]
    names = {s.id: s.name for s in spans}
    for s in spans:  # catalog reads inside a commit are commit attempts
        if s.name == "lake.Catalog.snapshot" and names.get(s.parent) == "lake.Transaction.commit":
            s.name = "lake.commit.snapshot"
    selfs = self_times(spans)
    ops = [s for s in spans if s.name == "op"]
    n_ops = len(ops)
    op_wall = sum(s.end - s.start for s in ops)
    # time in the registry callable outside every layer span
    unattributed = sum(selfs[s.id] for s in spans if s.name in ("op", "op.build"))

    def count(name):
        return sum(1 for s in spans if s.name == name)

    def mean_ms(name):
        d = [s.end - s.start for s in spans if s.name == name]
        return statistics.fmean(d) * 1e3 if d else 0.0

    out = {
        "session.start_s": (setup["session"], "s"),
        "registry.import_s": (setup["import"], "s"),
        "warmup_s": (setup["warmup"], "s"),
        "op.build.ms": (mean_ms("op.build"), "ms"),
        "op.action.ms": (mean_ms("op.action"), "ms"),
    }
    for metric, prefixes in SHARES.items():
        t = sum(selfs[s.id] for s in spans if s.name.startswith(prefixes))
        out[metric] = (100.0 * t / op_wall, "%")
    attempts = count("lake.commit.snapshot")
    commits = sum(1 for s in spans if s.name == "lake.Transaction.commit" and not s.failed)
    rows = sum(s.rows for s in samples)
    n_all = len(samples)
    untraced_wall = sum(s.wall for s in samples if not s.traced)
    traced_wall = sum(s.wall for s in samples if s.traced)
    ex = exec_stats
    out.update({
        "io.load_table.calls": (count("io.load_table") / n_ops, "count"),
        "streaming.microbatches": (count("streaming.batch") / n_ops, "count"),
        "lake.commits_per_attempt": (commits / attempts if attempts else 0.0, "ratio"),
        "lake.files_written": (tracer.counters.get("lake.files_written", 0) / n_ops, "count"),
        "lake.bytes_written": (tracer.counters.get("lake.bytes_written", 0) / n_ops, "B"),
        "exec.jobs_per_op": (ex["jobs"] / n_all, "count"),
        "exec.tasks_per_op": (ex["tasks"] / n_all, "count"),
        "exec.rows_scanned_per_row_returned": (ex["input_records"] / max(rows, 1), "ratio"),
        "exec.bytes_scanned": (ex["input_bytes"] / n_all, "B"),
        "exec.shuffle_write_bytes": (ex["shuffle_write_bytes"] / n_all, "B"),
        "exec.shuffle_read_bytes": (ex["shuffle_read_bytes"] / n_all, "B"),
        "exec.executor_cpu_ms": (ex["executor_cpu_ms"] / n_all, "ms"),
        "exec.cpu_busy_frac": (ex["executor_cpu_ms"] / (phase_wall * 1e3 * CPUS), "ratio"),
        "exec.task_skew": (ex["task_skew"], "ratio"),
        "exec.spill_bytes": (ex["spill_bytes"] / n_all, "B"),
        "exec.gc_pct": (100.0 * ex["gc_ms"] / max(ex["executor_run_ms"], 1), "%"),
        "exec.cached_bytes_peak": (ex["cached_bytes_peak"], "B"),
        "exec.failed_tasks": (ex["failed_tasks"], "count"),
        "trace.covered_pct": (100.0 * (1.0 - unattributed / op_wall), "%"),
        "trace.overhead_pct": (100.0 * (traced_wall / untraced_wall - 1.0), "%"),
    })
    return out


# ---------------------------------------------------------------------------
# one run
# ---------------------------------------------------------------------------


def measure(runner, w, seed: int, seconds: float):
    """The measured phase: (samples, wall seconds)."""
    t0 = time.perf_counter()
    loop = runner.closed_loop if w.closed else runner.passes
    samples = loop(w, seed, t0 + seconds)
    return samples, time.perf_counter() - t0


def main(argv: list[str] | None = None) -> int:
    import workloads as W

    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=list(W.workloads(CPUS)))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    missing = [p for p in REQUIRED if not os.path.isfile(p)]
    if missing:
        log(f"program not found next to the benchmark: {missing}")
        return 2

    w = W.workloads(CPUS)[args.workload]
    remove_stale_runs()
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    old_cwd, old_tmp = os.getcwd(), tempfile.tempdir
    load_start, cpu_start = os.getloadavg(), cpu_times()
    spark = sampler = None
    try:
        prepare_env(run_dir)
        sf_dir = os.path.join(run_dir, "data")
        manifest = generate(args.seed, sf_dir)

        from spans import ExecStats, Tracer, install

        tracer = Tracer()
        sampler = MemSampler()
        sampler.start()
        setup = {}
        t = time.perf_counter()
        from lawfirm_data_pipeline_spark.session import get_spark

        spark = get_spark(cpus=CPUS, extra_conf={"spark.ui.showConsoleProgress": "false"})
        setup["session"] = time.perf_counter() - t
        sampler.attach(spark)
        t = time.perf_counter()
        if args.trace:
            install(tracer)
        from lawfirm_data_pipeline_spark import queries

        setup["import"] = time.perf_counter() - t
        runner = W.Runner(spark, queries.QUERIES, sf_dir, tracer)
        t = time.perf_counter()
        for s in runner.warm_up(w, CPUS):
            if s.error:
                log(f"warm-up {s.op} failed: {s.error}")
        setup["warmup"] = time.perf_counter() - t
        setup_s = sum(setup.values())
        log(f"setup {setup_s:.2f}s {setup}")

        if args.trace:
            runner.exec_stats = ExecStats(spark)
            runner.exec_stats.mark()
        samples, wall = measure(runner, w, args.seed, args.seconds)
        if args.trace:
            exec_stats = runner.exec_stats.collect()
            if exec_stats["stages_evicted"]:
                log("status store evicted stages of the measured phase; exec counts are low")
        mem = sampler.stop()
        mem_mb = statistics.median(sampler.series)
        sampler = None
        stop_spark(spark)
        spark = None

        check(samples, sf_dir, queries.ORACLE_SQL)
        failed = [s for s in samples if s.error is not None]
        if args.trace:
            metrics = per_layer(tracer, exec_stats, samples, setup, wall)
        else:
            metrics = end_to_end(samples, wall, setup_s, mem_mb)
        cpu_used = [b - a for a, b in zip(cpu_start, cpu_times())]
        by_op: dict[str, list[float]] = {}
        for s in samples:
            by_op.setdefault(s.op, []).append(s.wall)
        info = {
            "workload": w.name, "seed": args.seed, "seconds": args.seconds,
            "trace": args.trace, "cpus": CPUS, "manifest": manifest,
            "loadavg_start": load_start, "loadavg_end": os.getloadavg(),
            "cpu_steal_pct": 100.0 * cpu_used[7] / max(sum(cpu_used), 1),
            "setup": setup, "phase_wall_s": wall,
            "mem_peak_mb": mem,
            "op_median_s": {k: statistics.median(v) for k, v in sorted(by_op.items())},
            "failures": [{"op": s.op, "error": s.error} for s in failed],
        }
        print(json.dumps({"run_info": info}))
        print(json.dumps({
            "correct": not failed,
            "attempted": len(samples),
            "failed": len(failed),
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }), flush=True)
        return 0
    finally:
        if sampler is not None:
            sampler.stop()
        if spark is not None:
            stop_spark(spark)
        os.chdir(old_cwd)
        tempfile.tempdir = old_tmp
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
