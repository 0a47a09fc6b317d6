"""Vector-search benchmark: one seeded workload per run, from outside the engine.

Run from the root of a checkout::

    python3 perfbench/run.py --workload exact-eval --seed 1 --seconds 5 --trace 0

Workloads (single client, closed loop; see ``workloads.py``):

- ``exact-eval``: exact GEMM top-100 of a 500-query batch over a
  20k x 64 corpus, then ``evaluation_report`` of that answer against the
  qrels. Only GEMM, Arrow transfer, the merge window and the metric
  aggregations work here; no HNSW layer runs.
- ``hnsw-ingest``: an HNSW index over 4k vectors (M=16,
  ef_construction=100, 4 partitions) built in set-up, and its recall@10
  at ef_search=10 measured untimed over every query batch; then each
  cycle upserts 16 vectors, tombstones 10 ids and serves two 16-query
  batches; the session ends with a full compaction.

Each engine call costs seconds of Spark job overhead at these sizes, so
a run of ``--seconds 5`` times one exact-eval request or one ingest
cycle, and repeated runs with other seeds supply the spread.

With ``--trace 0`` the last line of standard output is a JSON object with
the end-to-end metrics; with ``--trace 1`` it holds the per-layer metrics
of a traced run, and the spans are written to
``.perfbench/traces/<workload>-seed<seed>.json``. Lines before it give
every metric by name and unit, the run's environment, and for a traced
run each layer's self time and which end-to-end metric it should move.

Exit status: 0 when every correctness check passed, 1 when one failed
(the JSON line is still printed, with ``"correct": false``), 2 when the
run could not start (no JSON line).

Everything the run writes goes under ``.perfbench/`` in the checkout:
inputs, indexes, Spark's local and warehouse dirs and temp files live in
a per-run directory that is removed at the end.
"""

from __future__ import annotations

import argparse
import importlib.util
import json
import os
import platform
import shutil
import statistics
import sys
import threading

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# End-to-end metrics in the result line, name -> unit. Others are
# printed above it but not gated: latency_tail_ms, because a run holds
# too few requests for a tail percentile with ten samples beyond it;
# peak_rss_mb, because the JVM's heap growth moves it by a quarter
# between runs; and the ones that exist on hnsw-ingest only
# (index_build_s, upsert_p50_ms, compact_s, index_bytes_per_vector_byte),
# because the result line must carry every gated metric on every
# workload and exact-eval writes no index.
END_TO_END = {
    "setup_s": "s",
    "queries_per_s": "1/s",
    "latency_p50_ms": "ms",
    "recall_at_10": "ratio",
}
# Per-layer metrics, name -> (unit, the end-to-end metric and workload
# it should move)
PER_LAYER = {
    "session.start_s": ("s", "setup_s on both workloads"),
    "io.load_table_s": ("s", "setup_s on both workloads"),
    "io.scan_partitions": ("count", "setup_s on both; queries_per_s on exact-eval"),
    "topk.construct_s": ("s", "queries_per_s, latency_p50_ms on exact-eval"),
    "topk.execute_s": ("s", "queries_per_s, latency_p50_ms on exact-eval"),
    "topk.partial_rows": ("rows", "queries_per_s, latency_p50_ms on exact-eval"),
    "topk.spark_jobs": ("count", "queries_per_s, latency_p50_ms on exact-eval"),
    "topk.spark_tasks": ("count", "queries_per_s, latency_p50_ms on exact-eval"),
    "metrics.evaluate_s": ("s", "queries_per_s on exact-eval"),
    "metrics.spark_jobs": ("count", "queries_per_s on exact-eval"),
    "metrics.shuffle_bytes": ("bytes", "queries_per_s on exact-eval"),
    "hnsw_index.build_s": ("s", "setup_s (index_build_s) on hnsw-ingest"),
    "hnsw_index.build_tasks": ("count", "setup_s (index_build_s) on hnsw-ingest"),
    "hnsw_index.search_construct_s": ("s", "latency_p50_ms, queries_per_s on hnsw-ingest"),
    "hnsw_index.search_execute_s": ("s", "latency_p50_ms, queries_per_s on hnsw-ingest"),
    "hnsw_index.search_spark_jobs": ("count", "latency_p50_ms, queries_per_s on hnsw-ingest"),
    "hnsw_index.search_rows_read": ("rows", "latency_p50_ms, queries_per_s on hnsw-ingest"),
    "hnsw_index.search_shuffle_bytes": ("bytes",
                                        "latency_p50_ms, queries_per_s on hnsw-ingest"),
    "hnsw_index.upsert_s": ("s", "queries_per_s (upsert_p50_ms) on hnsw-ingest"),
    "hnsw_index.upsert_write_amp": ("ratio", "queries_per_s (upsert_p50_ms, "
                                             "index_bytes_per_vector_byte) on hnsw-ingest"),
    "hnsw_index.live_generations": ("count", "latency_p50_ms (index_bytes_per_vector_byte) "
                                             "on hnsw-ingest"),
    "hnsw_index.delete_s": ("s", "queries_per_s on hnsw-ingest"),
    "hnsw_index.compact_s": ("s", "queries_per_s (compact_s) on hnsw-ingest"),
    "hnsw_index.compact_bytes_rewritten": ("bytes", "queries_per_s (compact_s) on hnsw-ingest"),
    "hnsw_kernel.insert_us_per_vector": ("us", "setup_s (index_build_s), upsert_p50_ms on "
                                               "hnsw-ingest"),
    "hnsw_kernel.search_us_per_query": ("us", "latency_p50_ms on hnsw-ingest"),
    "hnsw_kernel.outside_share": ("ratio", "latency_p50_ms on hnsw-ingest"),
    "trace.overhead_ms": ("ms", "none: traced minus untraced request latency"),
    "trace.counters_s": ("s", "none: time the tracer spent counting"),
}


def parse_args(argv):
    nproc = os.cpu_count() or 1
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=["exact-eval", "hnsw-ingest"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--cores", type=int, default=min(4, nproc),
                   help="Spark local[N] threads (default: min(4, nproc))")
    args = p.parse_args(argv)
    if not 1 <= args.cores <= nproc:
        p.error(f"--cores must be between 1 and nproc ({nproc}), got {args.cores}")
    if args.seconds <= 0:
        p.error("--seconds must be positive")
    return args


class RssSampler:
    """Peak resident memory of this process and all its descendants
    (the JVM and the Python workers), sampled from /proc."""

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._page = os.sysconf("SC_PAGE_SIZE")

    def _tree_rss(self) -> int:
        parent = {}
        for d in os.listdir("/proc"):
            if not d.isdigit():
                continue
            try:
                with open(f"/proc/{d}/stat") as f:
                    stat = f.read()
            except OSError:
                continue
            parent[int(d)] = int(stat.rsplit(")", 1)[1].split()[1])
        tree, frontier = {os.getpid()}, [os.getpid()]
        while frontier:
            p = frontier.pop()
            kids = [c for c, pp in parent.items() if pp == p and c not in tree]
            tree.update(kids)
            frontier.extend(kids)
        total = 0
        for p in tree:
            try:
                with open(f"/proc/{p}/statm") as f:
                    total += int(f.read().split()[1]) * self._page
            except OSError:
                pass
        return total

    def _loop(self):
        while not self._stop.is_set():
            self.peak = max(self.peak, self._tree_rss())
            self._stop.wait(self.interval)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self.peak = max(self.peak, self._tree_rss())


def cpu_ticks() -> tuple[int, int]:
    """(all, stolen) CPU ticks since boot, from the first line of /proc/stat.
    Steal is time the hypervisor ran another guest on this machine's
    CPUs; on a shared host it is the main source of run-to-run noise."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return sum(fields[:8]), fields[7]


def git_commit(root: str) -> str:
    """The checkout's commit, read from .git without running git."""
    try:
        with open(os.path.join(root, ".git", "HEAD")) as f:
            head = f.read().strip()
        if not head.startswith("ref: "):
            return head
        ref = head[5:]
        path = os.path.join(root, ".git", ref)
        if os.path.exists(path):
            with open(path) as f:
                return f.read().strip()
        with open(os.path.join(root, ".git", "packed-refs")) as f:
            for line in f:
                if line.strip().endswith(" " + ref):
                    return line.split()[0]
    except OSError:
        pass
    return "unknown"


def prepare_env(run_dir: str, cores: int) -> dict[str, str]:
    """Environment and Spark settings that keep the run on ``cores``
    threads and every file it writes under ``run_dir``."""
    for d in ("spark-local", "warehouse", "tmp"):
        os.makedirs(os.path.join(run_dir, d), exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "2g")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    os.environ["TMPDIR"] = os.path.join(run_dir, "tmp")
    os.environ["PYTHONDONTWRITEBYTECODE"] = "1"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    return {
        "spark.local.dir": os.path.join(run_dir, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')} -XX:-UsePerfData",
        "spark.ui.showConsoleProgress": "false",
    }


def stop_jvm() -> None:
    """Stop the py4j gateway and wait for the JVM it launched to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)


def summarize(res, rss_peak: int) -> tuple[dict, dict]:
    """(end-to-end metrics, extra report-only metrics) of a run."""
    import workloads

    lat = res.latencies_ms
    p50 = statistics.median(lat) if lat else 0.0
    tail, pct = workloads.tail(lat) if lat else (0.0, 0.0)
    e2e = {
        "setup_s": (res.session_s + statistics.median(res.setup_reps_s) + res.setup_once_s,
                    "s"),
        "queries_per_s": res.e2e["queries_per_s"],
        "latency_p50_ms": (p50, "ms"),
        "recall_at_10": res.e2e["recall_at_10"],
    }
    extra = {k: v for k, v in res.e2e.items() if k not in e2e}
    extra["latency_tail_ms"] = (tail, "ms")
    extra["latency_tail_percentile"] = (pct, "%")
    extra["peak_rss_mb"] = (rss_peak / 2**20, "MB")
    extra["latency_samples"] = (len(lat), "count")
    extra["failed_ops_share"] = (res.failed / res.attempted if res.attempted else 0.0,
                                 "ratio")
    return e2e, extra


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.dont_write_bytecode = True
    sys.path.insert(0, ROOT)
    if importlib.util.find_spec("inside_vectordb_spark") is None:
        print(f"perfbench: the engine package inside_vectordb_spark is not under {ROOT}",
              file=sys.stderr)
        return 2

    import pyspark

    import spans
    import workloads

    out_dir = os.path.join(ROOT, ".perfbench")
    run_dir = os.path.join(out_dir, f"run-{args.workload}-{args.seed}-{os.getpid()}")
    load_start, ticks_start = os.getloadavg(), cpu_ticks()
    spark_conf = prepare_env(run_dir, args.cores)
    tracer = spans.Tracer(bool(args.trace))
    ctx = workloads.Context(run_dir, args.seed, args.seconds, tracer, spark_conf)
    try:
        with RssSampler() as rss:
            res = workloads.WORKLOADS[args.workload](ctx)
    finally:
        ctx.stop()
        stop_jvm()
        shutil.rmtree(run_dir, ignore_errors=True)

    e2e, extra = summarize(res, rss.peak)
    correct = res.failed == 0 and not res.problems
    ticks = [b - a for a, b in zip(ticks_start, cpu_ticks())]
    env = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "cores": args.cores, "nproc": os.cpu_count(),
        "loadavg_start": load_start, "loadavg_end": os.getloadavg(),
        "cpu_steal_share": round(ticks[1] / ticks[0], 4) if ticks[0] else 0.0,
        "spark": pyspark.__version__, "python": platform.python_version(),
        "commit": git_commit(ROOT),
    }
    print("# env " + json.dumps(env))
    print("# phases (s) " + " ".join(f"{k}={v:.1f}" for k, v in res.phases.items()))
    for name, (v, unit) in {**e2e, **extra}.items():
        print(f"{name} {v:.6g} {unit}")
    for p in res.problems[:20]:
        print(f"# check failed: {p}")

    if args.trace:
        if res.traced_ms and res.latencies_ms:
            res.layer["trace.overhead_ms"] = (
                statistics.median(res.traced_ms) - statistics.median(res.latencies_ms), "ms")
        res.layer["trace.counters_s"] = (
            spans.self_times(tracer.spans).get("trace.counters", 0.0), "s")
        print("# per-layer metric  value unit  -> should move")
        for name, (unit, moves) in PER_LAYER.items():
            v = res.layer.get(name, (0.0, unit))[0]
            print(f"{name} {v:.6g} {unit}  -> {moves}")
        print("# self time per span name (s)")
        for name, s in sorted(spans.self_times(tracer.spans).items()):
            print(f"#   {name} {s:.4f} over {tracer.calls(name)} calls")
        trace_dir = os.path.join(out_dir, "traces")
        os.makedirs(trace_dir, exist_ok=True)
        tracer.dump(os.path.join(trace_dir, f"{args.workload}-seed{args.seed}.json"))
        metrics = {n: {"value": float(res.layer.get(n, (0.0,))[0]), "unit": u}
                   for n, (u, _) in PER_LAYER.items()}
    else:
        metrics = {n: {"value": float(e2e[n][0]), "unit": e2e[n][1]} for n in END_TO_END}

    print(json.dumps({"correct": correct, "attempted": res.attempted,
                      "failed": res.failed, "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
