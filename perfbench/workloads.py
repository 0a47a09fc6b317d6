"""The benchmark's workloads, each a single client in a closed loop.

A workload runs in three phases:

1. set-up: start the SparkSession once, then ``SETUP_REPS`` times load
   the inputs through ``io.load_table`` from a fresh copy (so no per-path
   cache of an earlier repetition applies), and for HNSW build the index
   once. ``setup_s`` is the session start plus the median load plus the
   build; the first load also warms the JVM, so the median is a warm one;
2. untimed warm-up requests, so JVM code generation and the Python
   workers are ready before the first timed request (for
   ``hnsw-ingest`` this is the search that measures recall, and the
   first index build does most of the warming);
3. the timed loop: the next request goes out when the previous one has
   returned, until ``--seconds`` have passed.

Every request's output is checked against the benchmark's own NumPy
ground truth; a request that raises or fails a check counts as failed.
With tracing on, set-up, writes and compaction are traced, and every read
request is sent twice, untraced and traced, the first copy alternating
from one request to the next (so neither copy always finds the caches
the other one warmed): the difference between the two latencies is the
tracing overhead, and the traced copy gives the per-layer numbers.
End-to-end numbers come from untraced runs only.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import sys
import time
import traceback
from dataclasses import dataclass, field

import numpy as np

import checks
import gen
from spans import Tracer, plan_metric, self_times

SETUP_REPS = 3
# untimed requests before exact-eval's loop: the first pays JVM code
# generation and Python worker start-up (~2.5x a warm request); a second
# would take ~5% more off the next request but costs a tenth of a run
WARMUP_REQUESTS = 1
DIM = 64


@dataclass
class Result:
    """What a workload hands back to ``run.py``."""

    attempted: int = 0
    failed: int = 0
    problems: list[str] = field(default_factory=list)
    latencies_ms: list[float] = field(default_factory=list)  # untraced requests
    traced_ms: list[float] = field(default_factory=list)  # their traced repeats
    session_s: float = 0.0
    setup_reps_s: list[float] = field(default_factory=list)
    setup_once_s: float = 0.0  # set-up work done once, after the repetitions
    e2e: dict[str, tuple[float, str]] = field(default_factory=dict)
    layer: dict[str, tuple[float, str]] = field(default_factory=dict)
    phases: dict[str, float] = field(default_factory=dict)
    _mark: float = field(default_factory=time.perf_counter)

    def phase(self, name: str) -> None:
        """Record the wall time since the previous phase ended."""
        now = time.perf_counter()
        self.phases[name] = now - self._mark
        self._mark = now

    def record(self, problems: list[str]) -> bool:
        """Count one operation; any problem fails it."""
        self.attempted += 1
        if problems:
            self.failed += 1
            self.problems.extend(problems[:3])
        return not problems

    def guard(self, fn, *args):
        """Run one operation; if it raises, count it as failed and
        return None."""
        try:
            return fn(*args)
        except Exception:
            traceback.print_exc(file=sys.stderr)
            self.record(["raised " + traceback.format_exc().splitlines()[-1]])
            return None


def tail(values: list[float]) -> tuple[float, float]:
    """The highest percentile with at least ten samples above it, and
    that percentile (nearest rank); the maximum (100) below 11 samples."""
    xs = sorted(values)
    n = len(xs)
    if n < 11:
        return xs[-1], 100.0
    i = n - 11
    return xs[i], 100.0 * (i + 1) / n


def copies(tracer: Tracer, i: int) -> tuple[bool, ...]:
    """Whether each copy of read request ``i`` is traced: one untraced
    copy, and with tracing requested a traced one, first on odd ``i``."""
    if not tracer.requested:
        return (False,)
    return (True, False) if i % 2 else (False, True)


def dir_files(path: str) -> dict[str, int]:
    out = {}
    for root, _dirs, files in os.walk(path):
        for f in files:
            p = os.path.join(root, f)
            out[p] = os.path.getsize(p)
    return out


def dir_bytes(path: str) -> int:
    return sum(dir_files(path).values())


class Context:
    """Paths, session and tracer of one run."""

    def __init__(self, run_dir: str, seed: int, seconds: float, tracer: Tracer,
                 spark_conf: dict[str, str]):
        self.run_dir = run_dir
        self.seed = seed
        self.seconds = seconds
        self.tracer = tracer
        self.spark_conf = spark_conf
        self.spark = None
        self._copies = 0

    def fresh_copy(self, src: str) -> str:
        """Copy the input tables to a new directory (untimed)."""
        self._copies += 1
        dst = os.path.join(self.run_dir, f"inputs{self._copies}")
        shutil.copytree(src, dst)
        return dst

    def start_session(self, res: Result):
        from inside_vectordb_spark.session import get_spark

        t0 = time.perf_counter()
        with self.tracer.span("session.start"):
            self.spark = get_spark(app_name="perfbench", extra_conf=self.spark_conf)
        res.session_s = time.perf_counter() - t0
        self.tracer.bind(self.spark)
        return self.spark

    def stop(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def load(self, root: str, name: str):
        from inside_vectordb_spark import io as eio

        with self.tracer.span("io.load_table"):
            return eio.load_table(self.spark, root, name)

    def count_scan_partitions(self, df) -> None:
        if self.tracer.enabled:
            with self.tracer.span("trace.counters"):
                self.tracer.counts["io.scan_partitions"] = df.rdd.getNumPartitions()


def _setup_layers(tr: Tracer, res: Result) -> None:
    per_call(tr, res, "session.start", "session.start_s")
    per_call(tr, res, "io.load_table", "io.load_table_s")
    res.layer["io.scan_partitions"] = (tr.counts.get("io.scan_partitions", 0), "count")


def per_call(tr: Tracer, res: Result, span: str, metric: str) -> None:
    """Per-layer ``metric``: mean self time per call of ``span``, in s."""
    calls = tr.calls(span)
    res.layer[metric] = (self_times(tr.spans).get(span, 0.0) / calls if calls else 0.0, "s")


def per_call_count(tr: Tracer, res: Result, key: str, span: str, metric: str,
                   unit: str = "count") -> None:
    """Per-layer ``metric``: counter ``key`` per call of ``span``."""
    calls = tr.calls(span)
    res.layer[metric] = (tr.counts.get(key, 0) / calls if calls else 0.0, unit)


# --------------------------------------------------------------- exact-eval

EXACT = gen.Spec(n_corpus=20000, dim=DIM, batch_size=500, n_batches=8)
EXACT_K = 100


def exact_eval(ctx: Context) -> Result:
    """Exact top-100 over the whole corpus for a batch of queries, then
    the evaluation report of that answer against the qrels."""
    from pyspark.sql import functions as F

    from inside_vectordb_spark.operators.metrics import evaluation_report
    from inside_vectordb_spark.operators.topk import exact_cosine_topk_gemm

    tr, res = ctx.tracer, Result()
    inputs = gen.generate(os.path.join(ctx.run_dir, "data"), EXACT, ctx.seed)
    corpus_np = checks.Corpus(inputs.ids, inputs.vecs)

    spark = ctx.start_session(res)
    for _ in range(SETUP_REPS):
        root = ctx.fresh_copy(inputs.root)
        t0 = time.perf_counter()
        corpus = ctx.load(root, "embeddings")
        qrels = ctx.load(root, "qrels")
        res.setup_reps_s.append(time.perf_counter() - t0)
        ctx.count_scan_partitions(corpus)
    res.phase("setup")

    def request(b: int):
        with tr.span("request", batch=b):
            with tr.span("topk.construct", batch=b, jobs="topk"):
                q = ctx.load(root, "queries").filter(F.col("batch") == b)
                top = exact_cosine_topk_gemm(q, corpus, k=EXACT_K)
            with tr.span("topk.execute", batch=b, jobs="topk"):
                pdf = top.toPandas()
            with tr.span("metrics.evaluate", batch=b, jobs="metrics"):
                report = evaluation_report(spark.createDataFrame(pdf), qrels).toPandas()
        if tr.enabled:
            tr.add("topk_partial_rows",
                   plan_metric(top, "MapInPandasExec", "pythonNumRowsReceived"))
        return pdf, report

    def check(b, pdf, report):
        qids, qvecs = inputs.batch_queries(b)
        problems, recall = checks.check_topk(pdf, qids, qvecs, corpus_np, EXACT_K, exact=True)
        ref = checks.reference_report(pdf, inputs.qrels)
        return problems + checks.check_report(report, ref), recall, ref

    with tr.only_if(False):  # batch 0 is never timed
        for _ in range(WARMUP_REQUESTS):
            problems, _, _ = check(0, *request(0))
            res.problems.extend(["warm-up: " + p for p in problems[:3]])
    res.phase("warmup")

    answers = []
    start = time.perf_counter()
    i = 0
    while time.perf_counter() - start < ctx.seconds:
        b = 1 + i % (EXACT.n_batches - 1)
        # the seed picks which copy goes first on the first request, so a
        # run that has time for one request still varies across seeds
        for traced in copies(tr, i + ctx.seed):
            t0 = time.perf_counter()
            with tr.only_if(traced):
                out = res.guard(request, b)
            answers.append((b, 1000 * (time.perf_counter() - t0), traced, out))
        i += 1
    wall = time.perf_counter() - start
    res.phase("loop")

    # checked after the loop, so the timed window holds requests only
    recalls, mrrs = [], []
    for b, ms, traced, out in answers:
        if out is None:
            continue
        problems, recall, ref = check(b, *out)
        if res.record(problems):
            (res.traced_ms if traced else res.latencies_ms).append(ms)
            recalls.append(recall)
            mrrs.append(ref[("mrr", None)])
    n_ok = len(res.latencies_ms) + len(res.traced_ms)
    res.e2e["queries_per_s"] = (n_ok * EXACT.batch_size / wall, "1/s")
    res.e2e["recall_at_10"] = (float(np.mean(recalls)) if recalls else 0.0, "ratio")
    res.e2e["exact_mrr"] = (float(np.mean(mrrs)) if mrrs else 0.0, "ratio")

    if tr.requested:
        _setup_layers(tr, res)
        per_call(tr, res, "topk.construct", "topk.construct_s")
        per_call(tr, res, "topk.execute", "topk.execute_s")
        per_call(tr, res, "metrics.evaluate", "metrics.evaluate_s")
        per_call_count(tr, res, "topk_partial_rows", "topk.execute", "topk.partial_rows",
                       "rows")
        per_call_count(tr, res, "topk_spark_jobs", "topk.execute", "topk.spark_jobs")
        per_call_count(tr, res, "topk_spark_tasks", "topk.execute", "topk.spark_tasks")
        per_call_count(tr, res, "metrics_spark_jobs", "metrics.evaluate", "metrics.spark_jobs")
        per_call_count(tr, res, "metrics_shuffle_bytes", "metrics.evaluate",
                       "metrics.shuffle_bytes", "bytes")
    return res


# -------------------------------------------------------------- hnsw-ingest

INGEST = gen.Spec(n_corpus=4000, dim=DIM, batch_size=16, n_batches=2 * 24,
                  upsert_size=16, n_cycles=24, delete_size=10)
HNSW = dict(dim=DIM, m=16, ef_construction=100, n_parts=4)
K = 10
# ef_search at k: with 1k vectors per partition the unchanged engine's
# recall@10 on the fresh index is about 0.98 (ef_search 64 gives 0.999
# to 1.0, so a change that trades recall for speed would not show). The
# engine widens the beam to k + the tombstone count, so once a cycle has
# deleted ids the served batches search at ef 20 or more.
EF_SEARCH = 10
# the gates after compaction check what the index holds (own vector at
# rank 1, no tombstone), not how well it searches, so they use a wide beam
GATE_EF_SEARCH = 64
# recall@10 of the fresh index over every query batch; the floor leaves
# room below the unchanged engine's ~0.98 for a sound approximate search
RECALL_FLOOR = 0.85
# recall@10 of one served 16-query tombstone-probe batch
BATCH_RECALL_FLOOR = 0.75


def live_generations(index: str) -> int:
    """Distinct graph generation directories the index's meta.json
    serves partitions from."""
    with open(os.path.join(index, "meta.json")) as f:
        meta = json.load(f)
    rels = meta.get("part_rels") or {}
    base = meta.get("base_rel", "graph")
    return len({rels.get(str(p), base) for p in range(int(meta["n_parts"]))})


def hnsw_ingest(ctx: Context) -> Result:
    """After set-up, one untimed search of every query batch gives the
    fresh index's recall@10. Then each cycle upserts a batch, tombstones
    ids and serves two query batches; the session ends with a full
    compaction."""
    from pyspark.sql import functions as F

    from inside_vectordb_spark.operators import hnsw_index as H
    from inside_vectordb_spark.plans import work_counters

    tr, res = ctx.tracer, Result()
    inputs = gen.generate(os.path.join(ctx.run_dir, "data"), INGEST, ctx.seed)
    live = checks.Corpus(inputs.ids, inputs.vecs)

    spark = ctx.start_session(res)
    for _ in range(SETUP_REPS):
        root = ctx.fresh_copy(inputs.root)
        t0 = time.perf_counter()
        corpus = ctx.load(root, "embeddings")
        res.setup_reps_s.append(time.perf_counter() - t0)
        ctx.count_scan_partitions(corpus)
    # one build: a build costs seconds at 1k vectors per partition, and
    # repeating it would not fit the run's time budget
    index = os.path.join(ctx.run_dir, "index")
    t0 = time.perf_counter()
    with tr.span("hnsw_index.build", jobs="build"):
        H.build_hnsw_index(corpus, index, **HNSW)
    res.setup_once_s = time.perf_counter() - t0
    res.phase("setup")

    def search(b: int | None):
        """Search query batch ``b``, or every batch when ``b`` is None."""
        with tr.span("request", batch=b):
            with tr.span("hnsw_index.search_construct", batch=b, jobs="search"):
                q = ctx.load(root, "queries")
                if b is not None:
                    q = q.filter(F.col("batch") == b)
                df = H.ann_hnsw_topk_indexed(spark, q, index, k=K, ef_search=EF_SEARCH)
            with tr.span("hnsw_index.search_execute", batch=b, jobs="search"):
                pdf = df.toPandas()
        if tr.enabled:
            with tr.span("trace.counters"):
                tr.add("search_rows_read", work_counters(df)["rows_read"])
        return pdf

    def upsert(c: int) -> bool:
        before = dir_bytes(index) if tr.enabled else 0
        with tr.span("hnsw_index.upsert", batch=c):
            delta = ctx.load(root, "upserts").filter(F.col("batch") == c)
            H.upsert_hnsw_index(spark, delta, index)
        if tr.enabled:
            tr.add("upsert_bytes_added", dir_bytes(index) - before)
            tr.counts["live_generations"] = live_generations(index)
        return True

    def delete(c: int) -> bool:
        with tr.span("hnsw_index.delete", batch=c):
            H.delete_from_hnsw_index(
                spark, index, inputs.delete_ids[inputs.delete_batch == c].tolist())
        return True

    banned: set[int] = set()
    source = dict(zip(inputs.query_ids.tolist(), inputs.query_source.tolist()))

    with tr.only_if(False):  # untimed, and the first search plans compile here
        pdf = res.guard(search, None)
    fresh_recall = 0.0
    if pdf is not None:
        problems, fresh_recall = checks.check_topk(pdf, inputs.query_ids, inputs.query_vecs,
                                                   live, K, exact=False)
        if fresh_recall < RECALL_FLOOR:
            problems.append(f"fresh index recall@10 {fresh_recall:.3f} < {RECALL_FLOOR}")
        res.record(problems)
    res.phase("recall")

    upsert_ms, ratios = [], []
    start = time.perf_counter()
    c = 0
    while time.perf_counter() - start < ctx.seconds and c < INGEST.n_cycles:
        t0 = time.perf_counter()
        if res.guard(upsert, c) and res.record([]):
            upsert_ms.append(1000 * (time.perf_counter() - t0))
        sel = inputs.upsert_batch == c
        live.add(inputs.upsert_ids[sel], inputs.upsert_vecs[sel])
        if res.guard(delete, c):
            res.record([])
        dels = inputs.delete_ids[inputs.delete_batch == c]
        live.remove(dels)
        banned.update(int(i) for i in dels)
        for b in (2 * c, 2 * c + 1):
            for traced in copies(tr, b):
                t0 = time.perf_counter()
                with tr.only_if(traced):
                    pdf = res.guard(search, b)
                ms = 1000 * (time.perf_counter() - t0)
                if pdf is None:
                    continue
                qids, qvecs = inputs.batch_queries(b)
                problems, recall = checks.check_topk(pdf, qids, qvecs, live, K, exact=False,
                                                     banned=banned)
                if b % 2:
                    problems += checks.own_vectors_first(
                        pdf, {int(q): source[int(q)] for q in qids}, banned)
                elif recall < BATCH_RECALL_FLOOR:
                    problems.append(f"batch {b}: recall@10 {recall:.3f} < {BATCH_RECALL_FLOOR}")
                if res.record(problems):
                    (res.traced_ms if traced else res.latencies_ms).append(ms)
        ratios.append(dir_bytes(index) / (len(live.ids) * DIM * 4))
        c += 1
    cycles_s = time.perf_counter() - start
    res.phase("loop")
    upserted = set(int(i) for i in inputs.upsert_ids[inputs.upsert_batch < c])

    def after_compaction_gate() -> bool:
        """Search with the stored vectors of every row upserted so far and
        of every tombstoned base row: each live upserted id must come back
        at rank 1 for its own vector, and no tombstoned id at all."""
        own = (ctx.load(root, "upserts").filter(F.col("batch") < c)
               .select(F.col("vec_id").alias("query_id"), "embedding"))
        dead = (ctx.load(root, "embeddings").filter(F.col("vec_id").isin(sorted(banned)))
                .select(F.col("vec_id").alias("query_id"), "embedding"))
        pdf = H.ann_hnsw_topk_indexed(spark, own.unionByName(dead), index, k=K,
                                      ef_search=GATE_EF_SEARCH).toPandas()
        problems = checks.own_vectors_first(pdf, {i: i for i in upserted}, banned)
        leaked = set(pdf["doc_id"].astype(int)) & banned
        if leaked:
            problems.append(f"after compaction: tombstoned ids returned {sorted(leaked)[:5]}")
        return res.record(problems)

    before = dir_files(index)
    t0 = time.perf_counter()
    with tr.span("hnsw_index.compact"):
        if res.guard(H.compact_hnsw_index, spark, index) is not None:
            res.record([])
    compact_s = time.perf_counter() - t0
    rewritten = sum(v for p, v in dir_files(index).items() if p not in before)
    res.guard(after_compaction_gate)
    res.phase("tail")

    # the session's read throughput: every cycle's writes and the closing
    # compaction take their share of the wall time
    n_ok = len(res.latencies_ms) + len(res.traced_ms)
    res.e2e["queries_per_s"] = (n_ok * INGEST.batch_size / (cycles_s + compact_s), "1/s")
    res.e2e["recall_at_10"] = (fresh_recall, "ratio")
    res.e2e["index_bytes_per_vector_byte"] = (
        statistics.median(ratios) if ratios else 0.0, "ratio")
    res.e2e["index_build_s"] = (res.setup_once_s, "s")
    res.e2e["upsert_p50_ms"] = (statistics.median(upsert_ms) if upsert_ms else 0.0, "ms")
    res.e2e["compact_s"] = (compact_s, "s")
    res.e2e["cycles"] = (c, "count")

    if tr.requested:
        _setup_layers(tr, res)
        per_call(tr, res, "hnsw_index.build", "hnsw_index.build_s")
        per_call_count(tr, res, "build_spark_tasks", "hnsw_index.build",
                       "hnsw_index.build_tasks")
        per_call(tr, res, "hnsw_index.search_construct", "hnsw_index.search_construct_s")
        per_call(tr, res, "hnsw_index.search_execute", "hnsw_index.search_execute_s")
        per_call_count(tr, res, "search_spark_jobs", "hnsw_index.search_execute",
                       "hnsw_index.search_spark_jobs")
        per_call_count(tr, res, "search_rows_read", "hnsw_index.search_execute",
                       "hnsw_index.search_rows_read", "rows")
        per_call_count(tr, res, "search_shuffle_bytes", "hnsw_index.search_execute",
                       "hnsw_index.search_shuffle_bytes", "bytes")
        per_call(tr, res, "hnsw_index.upsert", "hnsw_index.upsert_s")
        n_up = tr.calls("hnsw_index.upsert")
        res.layer["hnsw_index.upsert_write_amp"] = (
            tr.counts.get("upsert_bytes_added", 0) / (n_up * INGEST.upsert_size * DIM * 4)
            if n_up else 0.0, "ratio")
        res.layer["hnsw_index.live_generations"] = (tr.counts.get("live_generations", 0),
                                                    "count")
        per_call(tr, res, "hnsw_index.delete", "hnsw_index.delete_s")
        per_call(tr, res, "hnsw_index.compact", "hnsw_index.compact_s")
        res.layer["hnsw_index.compact_bytes_rewritten"] = (rewritten, "bytes")
        kernel_replay(inputs, res)
    return res


def kernel_replay(inputs: gen.Inputs, res: Result) -> None:
    """Driver-side replay of the HNSW kernel on one partition's share of
    the base vectors (id order, every n_parts-th row) and one query
    batch: the kernel's own insert and search cost, outside Spark."""
    from inside_vectordb_spark.operators.hnsw_kernel import HnswIndex

    order = np.argsort(inputs.ids)[:: HNSW["n_parts"]]
    kern = HnswIndex(dim=DIM, m=HNSW["m"], ef_construction=HNSW["ef_construction"], seed=42)
    mat = checks.unit_rows(inputs.vecs[order])
    t0 = time.perf_counter()
    kern.add_items(mat, inputs.ids[order])
    t1 = time.perf_counter()
    kern.set_ef(EF_SEARCH)
    _, qvecs = inputs.batch_queries(0)
    kern.knn_query(checks.unit_rows(qvecs), k=K)
    t2 = time.perf_counter()
    res.layer["hnsw_kernel.insert_us_per_vector"] = (1e6 * (t1 - t0) / len(order), "us")
    res.layer["hnsw_kernel.search_us_per_query"] = (1e6 * (t2 - t1) / len(qvecs), "us")
    # partitions search in parallel, one task each, so a batch waits
    # about one partition's kernel time; the rest of its latency is
    # spent outside the kernel
    batch_s = (res.layer["hnsw_index.search_construct_s"][0]
               + res.layer["hnsw_index.search_execute_s"][0])
    res.layer["hnsw_kernel.outside_share"] = (
        1.0 - (t2 - t1) / batch_s if batch_s else 0.0, "ratio")


WORKLOADS = {"exact-eval": exact_eval, "hnsw-ingest": hnsw_ingest}
