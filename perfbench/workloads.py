"""The two workloads. Each one sets up (seeded inputs, indexes, warm-up),
runs a fixed number of timed operations in a closed loop, then checks every
timed operation against an independent reference.

dashboard_search
    The reference Streamlit app's traffic: one client, one request at a
    time. KPI aggregates, scan-path searches, and served BM25, fuzzy BM25
    and IVF reads over indexes built in setup; the BM25 index is rebuilt
    after each round. Per-request fixed cost (planning, scheduling,
    footers) dominates.
curation_batch
    Repeated ``recipes.curation.curate_corpus`` builds over a seeded
    ``documents`` corpus, each followed by BM25 top-k reads a consumer runs
    over the curated train split. A warm build runs about 50
    jobs; its wall splits about evenly between driver gap and stage work
    (MinHash, connected components, n-gram joins, shuffles).
"""

from __future__ import annotations

import os
import statistics
import time
from dataclasses import dataclass, field

from pyspark.sql import functions as F

from perfbench import inputs, reference, stack_probe
from perfbench.clock import cpu_ticks, steal_share, unstolen
from perfbench.tracer import NullTracer, percentile
from projet_data_engineering_spark import registry
from projet_data_engineering_spark.io import load_table, spread
from projet_data_engineering_spark.operators.dedup import (
    connected_components_lss,
    minhash_candidate_pairs,
)
from projet_data_engineering_spark.operators.search import (
    bm25_serve,
    bm25_serve_fuzzy,
    build_search_index,
)
from projet_data_engineering_spark.operators.similarity import (
    ann_serve,
    build_ann_index,
)
from projet_data_engineering_spark.recipes.curation import curate_corpus

DASHBOARD_SF = 0.02  # 1,000 docs, 400 vectors, 120,000 lineitem rows
CURATION_SF = 0.05  # 2,500 docs
# A run does a fixed amount of work: --seconds divided by the nominal length
# of a dashboard round (requests plus one index rebuild) or a curation cycle
# (build plus reads) on a quiet 4-core x86 box at local[2], so a slow or busy
# machine takes longer but measures the same operations.
NOMINAL_ROUND_S = 11.0
NOMINAL_CYCLE_S = 11.0
# The reads a consumer runs over each build's curated train split: BM25
# top-k, five times per build, the first on cold files. One kind of read, so
# that p50 and p90 are quantiles of one latency cluster rather than landing
# between kinds (a mix of three scans put p50 inside the fridge scan, whose
# warm latency settled at 0.36 s in some processes and 0.47 s in others).
CURATION_READ = "q_bm25_topk"
READS_PER_BUILD = 5
# Untimed warm-up in setup, so that timing starts near the plateau: times
# fall for several passes after the JVM starts (JIT). At local[2] and these
# sizes, consecutive curation builds read 16.3, 6.0, 5.8, 5.4, 5.1, 5.2 s,
# so curation warms with two cycles. Consecutive 20-request dashboard
# rounds read 10.6, 7.8, 7.2, 7.0, 6.9 s after the index builds; one
# request of every class and one rebuild bring the first timed round close
# enough (a full warm round cost 5 s of setup and left the spread of five
# runs no smaller).
CURATION_WARM_CYCLES = 2
WARMUP_ROUND = 2**32 - 1  # a request round no timed loop reaches

SITE_OF = {
    "q_avg": "operators.relational.registry",
    "q_mode": "operators.relational.registry",
    "q_value_counts": "operators.relational.registry",
    "q_tpch_q1": "operators.relational.registry",
    "q_search_fuzzy": "operators.search.registry",
    "q_search_fridge": "operators.search.registry",
    "q_bm25_topk": "operators.search.registry",
    "bm25_serve": "operators.search.bm25_serve",
    "bm25_serve_fuzzy": "operators.search.bm25_serve_fuzzy",
    "ann_serve": "operators.similarity.ann_serve",
}
SITES = (
    "operators.relational.registry",
    "operators.search.registry",
    "operators.search.build_search_index",
    "operators.search.bm25_serve",
    "operators.search.bm25_serve_fuzzy",
    "operators.similarity.ann_serve",
    "recipes.curation.curate_corpus",
    "operators.dedup.minhash_candidate_pairs",
    "operators.dedup.connected_components_lss",
    stack_probe.SITE,
)
PROBE_EXTRAS = ("operators.dedup.minhash_candidate_pairs.rows", *stack_probe.METRICS)


@dataclass
class Op:
    kind: str  # "query" or "build"
    name: str
    param: object
    seconds: float  # wall time less the hypervisor's share (perfbench/clock.py)
    result: object = None
    error: str | None = None
    ok: bool = False
    wall_s: float = 0.0


@dataclass
class Run:
    spark: object
    seed: int
    seconds: float
    work: str
    t_process: float
    ticks_process: tuple = (0, 0)
    tracer: object = field(default_factory=NullTracer)
    ops: list = field(default_factory=list)
    t_first: float = 0.0
    t_end: float = 0.0
    ticks_first: tuple = (0, 0)
    timed_steal_share: float = 0.0
    layer_extras: dict = field(default_factory=dict)

    def timed(self, kind: str, name: str, param, fn) -> Op:
        """Run one timed operation; an exception is a failed op, not a
        failed run."""
        ticks0, t0 = cpu_ticks(), time.perf_counter()
        try:
            with self.tracer.span(f"{kind}:{name}"):
                result, error = fn(), None
        except Exception as e:  # noqa: BLE001 - any failure counts against ok_rate
            result, error = None, f"{type(e).__name__}: {str(e)[:300]}"
        wall = time.perf_counter() - t0
        op = Op(kind, name, param, unstolen(wall, ticks0, cpu_ticks()), result, error, wall_s=wall)
        self.ops.append(op)
        return op


def _repeats(seconds: float, nominal_s: float) -> int:
    return max(1, round(seconds / nominal_s))


def _registry_call(run: Run, name: str, sf_dir: str):
    fn = registry.all_queries()[name]

    def call():
        with run.tracer.site(SITE_OF[name]) as h:
            df = fn(run.spark, sf_dir)
            h.built()
            return df.toPandas()

    return call


# ---- dashboard_search ------------------------------------------------------------


class Dashboard:
    def __init__(self, run: Run):
        self.run = run
        self.data = f"{run.work}/data"
        self.bm25 = f"{run.work}/index/bm25"
        self.ivf = f"{run.work}/index/ivf"

    def setup(self) -> None:
        run = self.run
        inputs.generate_tables(self.data, DASHBOARD_SF, run.seed)
        self.embeddings = inputs.read_embeddings(self.data)
        build_ann_index(load_table(run.spark, self.data, "embeddings"), self.ivf)
        self.docs = spread(load_table(run.spark, self.data, "documents"), "doc_id")
        self.build_bm25(self.docs)
        # warm-up: one untimed request of every class, then one rebuild
        warm = dict(inputs.dashboard_round(run.seed, WARMUP_ROUND, self.embeddings))
        for name, param in warm.items():
            self.call(name, param)()
        self.build_bm25(self.docs)

    def build_bm25(self, docs) -> None:
        with self.run.tracer.site("operators.search.build_search_index"):
            build_search_index(docs, "doc_id", "text", self.bm25)

    def call(self, name: str, param):
        run = self.run
        if name in registry.all_queries() and param is None:
            return _registry_call(run, name, self.data)

        def call():
            with run.tracer.site(SITE_OF[name]) as h:
                if name == "ann_serve":
                    q = run.spark.createDataFrame(
                        [(-1, list(param))], "query_id long, v array<double>"
                    )
                    df = ann_serve(run.spark, self.ivf, q)
                    h.built()
                    return [(r.vec_id, r.score) for r in df.orderBy("rank").collect()]
                serve = bm25_serve if name == "bm25_serve" else bm25_serve_fuzzy
                df = serve(run.spark, self.bm25, list(param))
                h.built()
                return {r.doc_id: r.score for r in df.collect()}

        return call

    def timed_loop(self) -> None:
        run = self.run
        for rnd in range(_repeats(run.seconds, NOMINAL_ROUND_S)):
            for name, param in inputs.dashboard_round(run.seed, rnd, self.embeddings):
                run.timed("query", name, param, self.call(name, param))
            # the re-index a dashboard runs between sessions: the next
            # round's served reads hit the rebuilt index. Each rebuild
            # overwrites the last, so what it wrote is read back for the
            # check, untimed, right away.
            op = run.timed("build", "build_search_index", None, lambda: self.build_bm25(self.docs))
            if op.error is None:
                op.result = reference.read_bm25_index(self.bm25)

    def check(self) -> None:
        oracles = registry.all_oracles()
        ops = [op for op in self.run.ops if op.error is None]
        tables = {t: f"{self.data}/{t}.parquet" for t in ("lineitem", "orders", "documents")}
        kpis = reference.duckdb_digests(
            tables, {op.name: oracles[op.name] for op in ops if op.kind == "query" and op.param is None}
        )
        corpus = reference.Corpus(f"{self.data}/documents.parquet")
        ivf = reference.IvfReference(self.embeddings, f"{self.ivf}/centroids")
        served = {
            "bm25_serve": corpus.bm25,
            "bm25_serve_fuzzy": corpus.bm25_fuzzy,
            "ann_serve": ivf.search,
        }
        refs: dict = {}
        for op in ops:
            if op.kind == "build":
                op.ok = corpus.same_index(op.result)
                continue
            if op.param is None:
                op.ok = reference.digest(op.result) == kpis[op.name]
                continue
            key = (op.name, op.param)
            if key not in refs:
                refs[key] = served[op.name](op.param)
            if op.name == "ann_serve":
                op.ok = reference.same_ranking(op.result, refs[key])
            else:
                op.ok = reference.same_scores(op.result, refs[key])


# ---- curation_batch ------------------------------------------------------------


class Curation:
    def __init__(self, run: Run):
        self.run = run
        self.data = f"{run.work}/data"
        self.cycles: list[str] = []

    def setup(self) -> None:
        run = self.run
        inputs.generate_tables(self.data, CURATION_SF, run.seed)
        self.docs = spread(load_table(run.spark, self.data, "documents"), "doc_id")
        for k in range(CURATION_WARM_CYCLES):
            out = f"{run.work}/warmup{k}"
            self.build(out)()
            for _ in range(2):
                _registry_call(run, CURATION_READ, out)()

    def build(self, out: str):
        run = self.run

        def call():
            with run.tracer.site("recipes.curation.curate_corpus") as h:
                built = curate_corpus(self.docs)
                h.built()
                try:
                    built["splits"].filter(F.col("split") == "train").select(
                        "doc_id", F.col("redacted").alias("text"), "source", "n_chars"
                    ).write.parquet(f"{out}/documents.parquet")
                    built["train_windows"].write.parquet(f"{out}/train_windows")
                    return built["funnel"].toPandas()
                finally:
                    built["_labels"].unpersist()
                    built["_contaminated"].unpersist()

        return call

    def timed_loop(self) -> None:
        run = self.run
        for k in range(_repeats(run.seconds, NOMINAL_CYCLE_S)):
            out = f"{run.work}/build{k}"
            self.cycles.append(out)
            if run.timed("build", "curate_corpus", out, self.build(out)).error:
                continue
            for _ in range(READS_PER_BUILD):
                run.timed("query", CURATION_READ, out, _registry_call(run, CURATION_READ, out))

    def check(self) -> None:
        oracles = registry.all_oracles()
        funnel = reference.funnel_digest(f"{self.data}/documents.parquet")
        reads = {
            out: reference.duckdb_digests(
                {"documents": f"{out}/documents.parquet/*.parquet"},
                {CURATION_READ: oracles[CURATION_READ]},
            )
            for out in self.cycles
            if os.path.isdir(f"{out}/documents.parquet")
        }
        for op in self.run.ops:
            if op.error is not None:
                continue
            expected = funnel if op.kind == "build" else reads[op.param][op.name]
            op.ok = reference.digest(op.result) == expected

    def probe(self) -> None:
        """Traced runs only, after the timed loop: the two dedup functions
        called separately on the build's input, then the streaming stack."""
        run = self.run
        with run.tracer.site("operators.dedup.minhash_candidate_pairs") as h:
            pairs = minhash_candidate_pairs(self.docs, "doc_id", "text").persist()
            h.built()
            run.layer_extras["operators.dedup.minhash_candidate_pairs.rows"] = pairs.count()
        try:
            with run.tracer.site("operators.dedup.connected_components_lss") as h:
                labels = connected_components_lss(pairs)
                h.built()
                labels.count()
        finally:
            pairs.unpersist()
        run.layer_extras.update(stack_probe.probe(run, self.data))


WORKLOADS = {"dashboard_search": Dashboard, "curation_batch": Curation}


# ---- metrics ------------------------------------------------------------------


def end_to_end(run: Run, corrected: bool = True) -> dict[str, float]:
    """The end-to-end metrics; every time is steal-corrected unless
    ``corrected`` is false."""
    def secs(op):
        return op.seconds if corrected else op.wall_s

    queries = [secs(op) for op in run.ops if op.kind == "query"]
    builds = [secs(op) for op in run.ops if op.kind == "build"]
    ok = sum(op.ok for op in run.ops)
    setup = run.t_first - run.t_process
    return {
        "setup_s": unstolen(setup, run.ticks_process, run.ticks_first) if corrected else setup,
        "ok_rate": ok / len(run.ops),
        "query_p50_s": statistics.median(queries),
        "query_p90_s": percentile(queries, 0.9),
        "queries_per_s": len(queries) / sum(queries),
        "build_s": statistics.median(builds),
    }


def execute(workload: str, run: Run) -> Run:
    """Set up, time, and (traced curation runs only) probe; checks run
    last."""
    w = WORKLOADS[workload](run)
    w.setup()
    run.ticks_first, run.t_first = cpu_ticks(), time.perf_counter()
    collect_before = run.tracer.collect_s
    w.timed_loop()
    run.t_end = time.perf_counter()
    run.timed_steal_share = steal_share(run.ticks_first, cpu_ticks())
    if run.tracer.enabled:
        # the tracer's own status-store reads are overhead, not workload
        collect = run.tracer.collect_s - collect_before
        covered = run.tracer.site_cover(run.t_first, run.t_end) * (run.t_end - run.t_first)
        run.layer_extras["trace.span_cover"] = covered / (run.t_end - run.t_first - collect)
        run.layer_extras["trace.collect_s"] = collect
        if hasattr(w, "probe"):
            w.probe()
    w.check()
    return run


def layer_metrics(run: Run) -> dict[str, float]:
    e2e = end_to_end(run)
    out = run.tracer.site_metrics(SITES)
    # the curation probe's extras read zero on runs that do not probe
    out.update(dict.fromkeys(PROBE_EXTRAS, 0), **run.layer_extras)
    out["trace.query_p50_s"] = e2e["query_p50_s"]
    out["trace.build_s"] = e2e["build_s"]
    out["trace.steal_share"] = run.timed_steal_share
    return out
