"""The benchmark's workloads and the loops that drive them.

Each op is one registry entry (``queries.QUERIES[name](spark, sf_dir)``)
followed by ``toPandas()``, which collects the result to the caller.  The
op lists are fixed here, not derived from the registry, so that a later
registration does not silently change what a workload measures.
"""

from __future__ import annotations

import itertools
import random
import threading
import time
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass
from typing import Any

# Read-only query-surface entries of m1_query_layer (q08 is the tri-state
# queue poll), m2_relations, m4_scalar, m13_query_surface (without q75,
# which commits a lake table) and m65_subquery_surface.
LOOKUP_OPS = [
    "q02_filter_predicates", "q03_string_predicates", "q04_pagination",
    "q04b_cursor_pagination", "q05_distinct", "q06_aggregate",
    "q07_groupby_having", "q08_tristate_queue", "q08b_not_null_semantics",
    "q09_hydration_join", "q10_relation_some", "q11_relation_none_anti",
    "q12_relation_every", "q13_mn_hydration", "q14_topk_per_group",
    "q14b_running_window", "q20_scalar_kit", "q21_json_filters",
    "q73_order_by_relation_count", "q74_filtered_include",
    "q240_lateral_topk", "q241_subquery_kit",
]

# One client's batch side of the lead pipeline, in seeded order: a
# locate→scrape→sync cycle (three availableNow streams, one catalog
# transaction per micro-batch, the merge-update, dedup-insert and
# connect-or-create mutations), an upsert and a queue update/delete, and
# the LLM-data jobs over the documents/embeddings corpus (text stats,
# MinHash signatures, cosine top-k, BM25, repetition curation) plus a
# name-variant linkage.  One op per layer, the cheapest that reaches it:
# a run makes ``PASSES`` passes, and on 4 cores the cycle alone takes
# 4-11 s.
PIPELINE_OPS = [
    "q270_pipeline_composite", "q15_upsert", "q18_update_delete_queue",
    "q26_text_stats", "q33_minhash_signatures", "q36_cosine_topk",
    "q90_bm25_topk", "q77_repetition_stats", "q129_name_variants",
]


# least passes (rounds) over every op in a run: each op's median needs
# several samples, and a run that stops on time alone measures a varying
# number of rounds
PASSES = 3


@dataclass
class Workload:
    name: str
    ops: list[str]
    clients: int
    closed: bool  # closed loop of ``clients`` clients, else seeded passes
    warmup_rounds: int  # untimed rounds over every op before measuring

    def plan(self, rng: random.Random) -> list[str]:
        """Every op once, in a seeded order."""
        order = list(self.ops)
        rng.shuffle(order)
        return order


def workloads(cpus: int) -> dict[str, Workload]:
    return {w.name: w for w in [
        # Half as many lookup clients as cores: each op's Spark job runs on
        # all cores, and with a client per core the clients' threads and
        # the jobs' tasks oversubscribe the cores, so latency follows the
        # scheduler (on 4 cores, five interleaved runs of each: quartile
        # spread of op_geomean_ms 0.22 with four clients, 0.05 with two).
        # The first rounds after a cold start run 1.2-1.4x slower than
        # later ones, so the warm-up makes three.
        Workload("lead_lookup", LOOKUP_OPS, max(1, cpus // 2), True, 3),
        Workload("lead_pipeline", PIPELINE_OPS, 1, False, 1),
    ]}


@dataclass
class Sample:
    op: str
    wall: float  # seconds, registry call + toPandas
    result: Any = None  # pandas.DataFrame on success
    error: str | None = None
    rows: int = 0
    traced: bool = False


class Runner:
    """Runs ops against one session; spans go to ``tracer`` when enabled."""

    def __init__(self, spark, queries: dict, sf_dir: str, tracer) -> None:
        self.spark = spark
        self.queries = queries
        self.sf_dir = sf_dir
        self.tracer = tracer
        # set for the traced run: every op runs twice, untraced and traced,
        # and the exec counters are sampled after each
        self.exec_stats = None

    def run(self, name: str, traced: bool = False) -> Sample:
        tr = self.tracer
        sample = Sample(name, 0.0, traced=traced)
        t0 = time.perf_counter()
        try:
            with tr.tracing(traced), tr.span("op", root=True):
                with tr.span("op.build"):
                    df = self.queries[name](self.spark, self.sf_dir)
                with tr.span("op.action"):
                    sample.result = df.toPandas()
            sample.rows = len(sample.result)
        except Exception as e:  # an op failure is a measured outcome
            sample.error = f"{type(e).__name__}: {e}"[:400]
        sample.wall = time.perf_counter() - t0
        if self.exec_stats is not None:
            self.exec_stats.sample_cache()
        # no op may read an earlier op's InMemoryRelation
        self.spark.catalog.clearCache()
        return sample

    def step(self, name: str, k: int) -> list[Sample]:
        """The ``k``-th op of a client: once, or in the traced run twice,
        untraced and traced in an order that alternates with ``k`` so that
        warming over the run does not bias the tracing overhead."""
        if self.exec_stats is None:
            return [self.run(name)]
        return [self.run(name, traced=(k + i) % 2 == 1) for i in range(2)]

    def warm_up(self, w: Workload, threads: int) -> list[Sample]:
        """Run every op ``w.warmup_rounds`` times, ``threads`` at a time
        (untimed warm-up)."""
        with ThreadPoolExecutor(threads) as ex:
            return list(ex.map(self.run, w.ops * w.warmup_rounds))

    def closed_loop(self, w: Workload, seed: int, deadline: float) -> list[Sample]:
        """``w.clients`` clients, each issuing its next op when the previous
        one returns.  Clients take ops from one shared stream of seeded
        shuffled rounds of the op list: ``PASSES`` rounds, then more until
        ``deadline``.  The round in progress is always finished, so every
        op is measured the same number of times."""
        rng = random.Random(seed)
        stream: list[str] = []
        issued = itertools.count()
        rounds = 0
        lock = threading.Lock()

        def next_op() -> tuple[str, int] | None:
            nonlocal rounds
            with lock:
                if not stream:
                    if rounds >= PASSES and time.perf_counter() >= deadline:
                        return None
                    stream.extend(w.plan(rng))
                    rounds += 1
                return stream.pop(), next(issued)

        def client() -> list[Sample]:
            out: list[Sample] = []
            while (nxt := next_op()) is not None:
                out += self.step(*nxt)
            return out

        with ThreadPoolExecutor(w.clients) as ex:
            futures = [ex.submit(client) for _ in range(w.clients)]
            return [s for f in futures for s in f.result()]

    def passes(self, w: Workload, seed: int, deadline: float) -> list[Sample]:
        """Seeded passes over every op, one op at a time: ``PASSES``
        passes, so that every op has a median of samples taken a pass
        apart, then more while another pass as long as the last one would
        end by ``deadline``."""
        rng = random.Random(seed)
        out: list[Sample] = []
        # a traced step runs its op twice, untraced and traced: one pass
        least = PASSES if self.exec_stats is None else 1
        n, last = 0, 0.0
        while n < least or time.perf_counter() + last <= deadline:
            t0 = time.perf_counter()
            out += [s for k, name in enumerate(w.plan(rng)) for s in self.step(name, k)]
            n, last = n + 1, time.perf_counter() - t0
        return out

