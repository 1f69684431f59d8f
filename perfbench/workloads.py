"""The benchmark's workloads.

Each workload prepares its inputs, then sets up (session and untimed
warm-up on different data), then times ``reps`` passes, checking every
pass's output. With ``trace`` it instead times one plain pass and one traced
pass (spans + job groups + event log) and reports per-layer metrics.
"""

from __future__ import annotations

import dataclasses
import json
import math
import os
import random
import re
import shutil
import statistics
import time
import traceback
from contextlib import contextmanager, nullcontext

from semlink.ops import MetricsCollector

from . import host, inputs
from .trace import EVENTLOG_CONF, Tracer, coverage, eventlog_file, merge, parse_eventlog

HERE = os.path.dirname(os.path.abspath(__file__))
SF_DIR = os.path.join(HERE, "data", "sf0.001")
MB = 1024 * 1024

PIPELINE_REPLICAS = 1
EXPECTED_CLUSTERS = 160
F1_MIN = 0.99
KERNEL_SAMPLE = 20_000

# Registry leaves timed by contract_queries, one per family: the linking
# layer's n-gram explode (rl_ngram_explode), readers of the spread `_docs`
# input and of `_docs_raw` (dedup_minhash_signatures) and the Arrow
# kernels (ann_brute_force_topk, media_features). All 52 leaves of
# bench.HEADLINE, warm-up included, take minutes on a 4-core host, more
# than one benchmark run may take; rl_link_top1, the slowest of the rl
# leaves, was left out so that a round of runs fits its time budget
# (linking is pipeline_full's main layer).
DEFAULT_LEAVES = (
    "rl_ngram_explode", "dedup_minhash_signatures",
    "ann_brute_force_topk", "text_quality_score", "media_features",
)
FAMILIES = ("rl", "dedup", "ann", "text", "media")

# seconds of timed work one repetition stands for: --seconds buys
# max(1, round(seconds / NOMINAL_S)) repetitions, a count that does not
# depend on how fast the engine is (peak RSS grows with repetitions)
NOMINAL_S = {"pipeline_full": 20.0, "contract_queries": 20.0}
# After one warm-up pass over the leaves a fresh JVM is still compiling:
# on a 4-core host, pass totals kept falling ~25% over the next four
# passes (7.1, 5.7, 5.4, 5.0 s), by a different amount in each process.
# After two, successive passes agree within a few percent.
# pipeline_full's timed passes agree after one warm-up pass.
QUERY_WARMUP_PASSES = 2


def geomean(xs) -> float:
    xs = list(xs)
    return math.exp(sum(math.log(x) for x in xs) / len(xs))


class Run:
    """State of one benchmark process: work dir, session, outcomes."""

    def __init__(self, repo: str, workload: str, seed: int, seconds: float,
                 trace: bool):
        self.repo, self.workload, self.seed, self.trace = repo, workload, seed, trace
        # a traced run times one plain pass, then the traced one
        self.reps = 1 if trace else max(1, round(seconds / NOMINAL_S[workload]))
        root = os.path.join(HERE, ".work")
        self.cache = os.path.join(root, "cache")
        self.traces = os.path.join(root, "traces")
        self.work = os.path.join(root, f"run-{workload}-{os.getpid()}")
        shutil.rmtree(self.work, ignore_errors=True)
        os.makedirs(self.work)
        self.spark = None
        self.attempted = self.failed = 0
        self.errors: list[str] = []
        self.samples: dict[str, list] = {}     # name -> measured values
        self.layer: dict[str, float] = {}      # per-layer metrics
        self.info: dict = {}
        self.stats: dict = {}
        self._finished = False

    def fresh(self, name: str) -> str:
        d = os.path.join(self.work, name)
        shutil.rmtree(d, ignore_errors=True)
        return d

    def record(self, name: str, value: float) -> None:
        self.samples.setdefault(name, []).append(value)

    def check(self, ok: bool, what: str) -> bool:
        if not ok:
            self.errors.append(what)
        return ok

    def start(self):
        extra = {}
        if self.trace:
            log = os.path.join(self.work, "eventlog")
            os.makedirs(log)
            extra = dict(EVENTLOG_CONF, **{"spark.eventLog.dir": log})
        t = time.perf_counter()
        self.spark = host.start_spark(f"perfbench-{self.workload}", self.repo,
                                      self.work, extra)
        self.layer["session.start_s"] = time.perf_counter() - t
        self.info.update(host.session_info(self.spark))
        self.info["start_s"] = round(self.layer["session.start_s"], 2)
        return self.spark

    def finish(self) -> None:
        """Peak RSS, stop the JVM, read the event log, drop scratch."""
        if self._finished:
            return
        self._finished = True
        try:
            if self.spark is not None:
                rss = host.status_kb(host.jvm_pid())
                self.record("jvm_peak_rss_gb", rss / 1024 ** 2)
                self.layer["session.jvm_peak_rss_gb"] = rss / 1024 ** 2
                self.failed += not self.check(rss < host.meminfo_kb(),
                                              "JVM peak RSS above MemTotal")
                host.stop_spark(self.spark)
                self.spark = None
            if self.trace:
                self.stats = parse_eventlog(
                    eventlog_file(os.path.join(self.work, "eventlog")))
        finally:
            shutil.rmtree(self.work, ignore_errors=True)


def _last_lines(n: int = 6) -> str:
    return "\n".join(traceback.format_exc().rstrip().splitlines()[-n:])


def _assignments_hash(df) -> tuple:
    from pyspark.sql import functions as F
    r = df.agg(F.count("*").alias("n"),
               F.expr("bit_xor(xxhash64(mention_id, cluster_id))").alias("h")).first()
    return (r.n, r.h)


# ------------------------------------------------------------ pipeline_full

def _read_fixture(spark, d: str):
    return [spark.read.parquet(os.path.join(d, n)) for n in inputs.TABLES]


class LayerSpans(MetricsCollector):
    """``run_pipeline``'s own stage timer, with each stage also run as a
    tracer span and Spark job group named after its layer."""

    LAYERS = {"link": "linking", "score": "pairs", "cluster": "cluster"}

    def __init__(self, spark, tracer: Tracer):
        super().__init__(spark, "traced")
        self.tracer = tracer

    @contextmanager
    def stage(self, name: str):
        with self.tracer.span(self.LAYERS[name], self.spark), super().stage(name):
            yield


def _pipeline_once(run: Run, cfg, d: str, tag: str, metrics: LayerSpans | None = None):
    """One ``run_pipeline`` call on a clean cache; with ``metrics`` the
    call is the ``pipeline`` span and its stages the layer spans."""
    from semlink.pipeline import run_pipeline
    host.clear_cache(run.spark)
    t, anchors, pl, lp = _read_fixture(run.spark, d)
    outer = metrics.tracer.span("pipeline", run.spark) if metrics else nullcontext()
    t0 = time.perf_counter()
    with outer:
        res = run_pipeline(t, anchors, pl, cfg, ckpt_dir=run.fresh(f"ckpt-{tag}"),
                           metrics=metrics)
    return res, time.perf_counter() - t0, lp


def _pipeline_checks(run: Run, res, lp, clusters: int) -> bool:
    from semlink.cluster import pairwise_f1
    f1 = pairwise_f1(res["assignments"], lp)["f1"]
    run.record("pairwise_f1", f1)
    ok = run.check(f1 >= F1_MIN, f"pairwise_f1 {f1:.4f} < {F1_MIN}")
    return run.check(clusters == EXPECTED_CLUSTERS,
                     f"{clusters} clusters, expected {EXPECTED_CLUSTERS}") and ok


def pipeline_full(run: Run) -> None:
    from semlink.config import SemlinkConfig
    # inputs first, outside setup_s: a cache hit is cheaper than a miss
    t_in = time.perf_counter()
    d, counts, hit = inputs.ensure_fixture(run.cache, run.repo, "small",
                                           PIPELINE_REPLICAS, run.seed)
    warm, _, _ = inputs.ensure_fixture(run.cache, run.repo, "tiny", 1,
                                       run.seed, salt="warmup")
    run.info.update(inputs_s=round(time.perf_counter() - t_in, 2), input_cached=hit)
    t_setup = time.perf_counter()
    run.start()
    cfg = SemlinkConfig(checkpoint_dir=run.fresh("ckpt"),
                        shuffle_partitions=host.nproc())
    t_warm = time.perf_counter()
    # the tiny graph would take CC's driver union-find fast path; the
    # timed input's does not, so the warm-up runs the supersteps too
    _pipeline_once(run, dataclasses.replace(cfg, cc_local_fastpath_edges=0), warm, "warmup")
    run.record("setup_s", time.perf_counter() - t_setup)
    run.info["warmup_s"] = round(time.perf_counter() - t_warm, 2)
    run.info.update(turns=counts["transcripts"], replicas=PIPELINE_REPLICAS)

    for rep in range(run.reps):
        run.attempted += 1
        try:
            res, wall, lp = _pipeline_once(run, cfg, d, f"rep{rep}")
            stages = {s: w for _r, s, w in res["metrics"]._stage_rows}
            clusters = dict((n, c) for _r, n, c in res["metrics"]._count_rows)["clusters"]
            run.record("wall_s", wall)
            run.record("turns_per_s", counts["transcripts"] / wall)
            run.record("step_geomean_s",
                       geomean(stages[s] for s in ("link", "score", "cluster")))
            for s in ("link", "score", "cluster"):
                run.record(f"stage.{s}_s", stages[s])
            if not _pipeline_checks(run, res, lp, clusters):
                run.failed += 1
        except Exception:  # noqa: BLE001 — a failed op is counted
            run.failed += 1
            run.errors.append(f"pipeline rep {rep}: {_last_lines()}")
    if run.trace and not run.failed:
        _pipeline_traced(run, cfg, d, res)


def _pipeline_traced(run: Run, cfg, d: str, plain) -> None:
    """``run_pipeline`` itself, each stage a span and job group of its
    layer, so the pass adds no action; then the output writes and the
    scorer's kernels, outside the pass."""
    from pyspark.sql import functions as F

    from semlink.io import TableIO
    from semlink.metrics_udf import jaro_winkler_batch, levenshtein_batch
    from semlink.pairs import mention_pairs

    spark, tr = run.spark, Tracer()
    want = _assignments_hash(plain["assignments"])
    mc = LayerSpans(spark, tr)
    run.attempted += 1
    res, _wall, _lp = _pipeline_once(run, cfg, d, "traced", metrics=mc)
    resolved, edges, assignments = res["resolved"], res["edges"], res["assignments"]
    rows = {n: c for _r, n, c in mc._count_rows}
    n_resolved, n_edges, n_clusters = rows["resolved_mentions"], rows["edges"], rows["clusters"]
    ok = run.check(_assignments_hash(assignments) == want,
                   "traced assignments differ from the plain pass's")
    ok = run.check(n_clusters == EXPECTED_CLUSTERS,
                   f"traced pass: {n_clusters} clusters") and ok
    cov = coverage(tr.spans, "pipeline", ("linking", "pairs", "cluster"))
    ok = run.check(cov >= 0.9, f"layer spans cover {cov:.1%} of the pass") and ok
    run.failed += not ok

    # outside the timed pass: the output writes of `pipeline.main`, and
    # the scorer's string kernels on a seeded sample of its n-gram pairs
    out = run.fresh("out")
    io = TableIO(fmt=cfg.table_format, root=out)
    with tr.span("io", spark):
        io.write(resolved, "resolved")
        io.write(edges, "edges")
        io.write(assignments, "clusters")
    with tr.span("sample", spark):
        pairs = (mention_pairs(resolved, cfg)
                 .select(F.lower("ngram_l").alias("a"), F.lower("ngram_r").alias("b"))
                 .toPandas())
    idx = random.Random(run.seed).sample(range(len(pairs)), min(KERNEL_SAMPLE, len(pairs)))
    a = pairs["a"].iloc[idx].fillna("").reset_index(drop=True)
    b = pairs["b"].iloc[idx].fillna("").reset_index(drop=True)
    kt = []
    for _ in range(3):
        t0 = time.perf_counter()
        jaro_winkler_batch(a, b)
        levenshtein_batch(a, b)
        kt.append(time.perf_counter() - t0)

    L = run.layer
    L["trace.overhead_s"] = tr.get("pipeline").duration - run.samples["wall_s"][0]
    L["trace.span_coverage"] = cov
    L["linking.wall_s"] = tr.get("linking").duration
    L["linking.mentions_out"] = n_resolved
    L["pairs.wall_s"] = tr.get("pairs").duration
    L["pairs.pairs_scored"] = len(pairs)
    L["pairs.edges_out"] = n_edges
    L["pairs.edge_yield"] = n_edges / len(pairs) if len(pairs) else 0.0
    L["metrics_udf.kernel_pairs_per_s"] = len(idx) / statistics.median(kt)
    L["cluster.wall_s"] = tr.get("cluster").duration
    L["cluster.clusters_out"] = n_clusters
    L["cluster.fastpath"] = float(0 < n_edges <= cfg.cc_local_fastpath_edges)
    L["io.write_s"] = tr.get("io").duration
    L["io.bytes_written_mb"] = _du(out) / MB
    run.finish()
    st = run.stats
    for layer in ("linking", "pairs", "cluster"):
        s = st.get(layer)
        if s is None:
            continue
        L[f"{layer}.task_s"] = s.task_ms / 1000
        L[f"{layer}.shuffle_write_mb"] = s.shuffle_write_bytes / MB
        if layer == "linking":
            L["linking.gc_s"] = s.gc_ms / 1000
            L["linking.spill_mb"] = s.spill_bytes / MB
            L["linking.task_skew"] = s.task_skew
        if layer == "pairs":
            L["pairs.python_sent_mb"] = s.py_sent_bytes / MB
            L["pairs.python_returned_mb"] = s.py_returned_bytes / MB
            L["pairs.python_run_s"] = s.py_run_ms / 1000
        if layer == "cluster":
            L["cluster.jobs"] = s.jobs
            L["cluster.supersteps"] = sum(
                1 for o in s.observations if re.fullmatch(r"cc_step_\d+", o))
    tr.dump(os.path.join(run.traces, f"pipeline_full-seed{run.seed}.json"),
            layers={g: _stats_dict(s) for g, s in st.items()}, metrics=L)


def _stats_dict(s) -> dict:
    d = {k: getattr(s, k) for k in s.__dataclass_fields__}
    d["observations"] = sorted(d["observations"])
    d["task_skew"] = s.task_skew
    return d


def _du(path: str) -> int:
    return sum(os.path.getsize(os.path.join(r, f))
               for r, _d, fs in os.walk(path) for f in fs)


# ------------------------------------------------------- contract_queries

def _leaves() -> list:
    import bench
    missing = [q for q in DEFAULT_LEAVES if q not in bench.HEADLINE]
    if missing:
        raise RuntimeError(f"not bench.HEADLINE leaves: {missing}")
    return list(DEFAULT_LEAVES)


def contract_queries(run: Run) -> None:
    from semlink.queries import REGISTRY
    with open(os.path.join(HERE, "expected_counts.json")) as f:
        expected = json.load(f)
    order = _leaves()
    random.Random(run.seed).shuffle(order)
    # inputs first, outside setup_s: a cache hit is cheaper than a miss
    t_in = time.perf_counter()
    warm = os.path.join(run.cache, f"sf0.001-warmup-s{run.seed}")
    hit = inputs.shuffled_copy(SF_DIR, warm, run.seed)
    run.info.update(inputs_s=round(time.perf_counter() - t_in, 2), input_cached=hit)
    t_setup = time.perf_counter()
    spark = run.start()
    t_warm = time.perf_counter()
    for _ in range(QUERY_WARMUP_PASSES):
        for leaf in order:
            host.clear_cache(spark)
            REGISTRY[leaf][0](spark, warm).count()
    run.record("setup_s", time.perf_counter() - t_setup)
    run.info.update(leaves=len(order), sf="0.001",
                    warmup_s=round(time.perf_counter() - t_warm, 2))

    times = {leaf: [] for leaf in order}
    for rep in range(run.reps):
        total = 0.0
        for leaf in order:
            run.attempted += 1
            host.clear_cache(spark)
            try:
                t0 = time.perf_counter()
                n = REGISTRY[leaf][0](spark, SF_DIR).count()
                dt = time.perf_counter() - t0
            except Exception:  # noqa: BLE001 — a failed op is counted
                run.failed += 1
                run.errors.append(f"{leaf}: {_last_lines()}")
                continue
            total += dt
            times[leaf].append(dt)
            run.record(f"leaf.{leaf}_s", dt)
            if not run.check(n == expected[leaf],
                             f"{leaf}: {n} rows, expected {expected[leaf]}"):
                run.failed += 1
        run.record("wall_s", total)
    if not run.failed:
        run.record("step_geomean_s",
                   geomean(statistics.median(v) for v in times.values()))
        run.record("queries_geomean_s", run.samples["step_geomean_s"][-1])
    if run.trace and not run.failed:
        _queries_traced(run, order, REGISTRY)


def _queries_traced(run: Run, order, registry) -> None:
    spark, tr = run.spark, Tracer()
    L = run.layer
    with tr.span("queries"):
        for leaf in order:
            host.clear_cache(spark)
            with tr.span(f"queries.{leaf}", spark):
                registry[leaf][0](spark, SF_DIR).count()
    traced = sum(tr.get(f"queries.{leaf}").duration for leaf in order)
    L["trace.overhead_s"] = traced - run.samples["wall_s"][0]
    for leaf in order:
        L[f"queries.{leaf}_s"] = tr.get(f"queries.{leaf}").duration
    run.finish()
    st = run.stats
    allq = merge(st, lambda g: g.startswith("queries."))
    L["queries.exchanges"] = allq.exchanges
    L["queries.shuffle_write_mb"] = allq.shuffle_write_bytes / MB
    L["queries.python_sent_mb"] = allq.py_sent_bytes / MB
    for fam in FAMILIES:
        L[f"queries.{fam}_task_s"] = merge(
            st, lambda g, f=fam: g.startswith(f"queries.{f}_")).task_ms / 1000
    tr.dump(os.path.join(run.traces, f"contract_queries-seed{run.seed}.json"),
            layers={g: _stats_dict(s) for g, s in st.items()}, metrics=L)


WORKLOADS = {"pipeline_full": pipeline_full, "contract_queries": contract_queries}
