"""The repository's benchmark: crawl and analytics workloads against the
public API of ``bingcrawler_spark``, every output checked against its
oracle.

    python3 perfbench/run.py --workload crawl --seed 1 --seconds 10 --trace 0

Run it from the repository root.  One closed-loop client in one process at
``local[nproc]`` (``SPARK_GRAFT_CPUS`` overrides nproc): the next wave or
query starts only after the previous one returns.  ``--trace 0`` prints
the end-to-end metrics; ``--trace 1`` runs the same workload with spans,
the Spark event log and the session UDF profiler on, and prints the
per-layer metrics.  The last line of stdout is one JSON object; the exit
code is non-zero when any output differs from its oracle.  Metric names,
units and the reasons for each workload are in ``BENCHMARK.json``; the
metric-to-layer map is in ``perfbench/NOTES.md``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
from contextlib import nullcontext

import inputs
import tracing

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
CACHE = os.path.join(ROOT, ".perfbench_cache")

# min_ops: the timed loop runs for --seconds and at least this many waves
# or passes.  Both are set above what 10 s holds (a wave takes ~7 s, a pass
# ~4.5 s on 4 cores), so each run times the same number of ops and
# op_s_p50 is always the median of the same samples.
WORKLOADS = {
    # ~16 KB pages in 1024-url waves over a frontier 4x the wave, Bloom seen
    # filter on: the parse UDFs, the per-wave orchestration constant and
    # the seen-filter/state writes all carry a visible share of a wave
    "crawl": dict(
        kind="crawl", n_pages=8192, n_hosts=1024, n_words=1000,
        wave_size=1024, n_seeds=4096, use_bloom=True, min_ops=3,
    ),
    # read-only batch over the catalog (query_loop.QUERY_LAYER) on the
    # sf test tables
    "analytics": dict(kind="analytics", min_ops=4),
}

# the sf0.01 test tables (TESTDATA.md), copied into the benchmark so a run
# reads nothing outside its checkout; SPARK_GRAFT_SF_DIR points it at
# another sf directory, as in bench.py
SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", os.path.join(HERE, "sf0.01"))

SETUP_REPS = 3
KERNEL_SAMPLE = 64


def cores() -> int:
    env = os.environ.get("SPARK_GRAFT_CPUS")
    return int(env) if env else len(os.sched_getaffinity(0))


def spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def start_spark(work: str, n: int, trace: bool):
    from bingcrawler_spark.session import get_spark

    conf = {
        # a fixed heap (initial = max), so G1's heap-resizing policy does
        # not decide peak_rss_mb
        "spark.driver.memory": "2g",
        "spark.driver.extraJavaOptions": f"-Xms2g -Djava.io.tmpdir={work}",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
    }
    if trace:
        os.makedirs(os.path.join(work, "eventlog"))
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": os.path.join(work, "eventlog"),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
                "spark.sql.pyspark.udf.profiler": "perf",
            }
        )
    return get_spark("perfbench", cores=n, shuffle_partitions=n, extra_conf=conf)


def stop_spark(spark) -> None:
    """Stop the session and wait for its JVM to exit (the JVM exits when
    its stdin pipe closes, and takes its Python workers with it)."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is not None:
        SparkContext._gateway = SparkContext._jvm = None
        gw.shutdown()
        gw.proc.stdin.close()
        gw.proc.wait(timeout=60)


def generate(wl: dict, work: str) -> None:
    """Build the crawl workload's cached inputs."""
    spark = start_spark(work, cores(), trace=False)
    try:
        inputs.ensure_crawl_inputs(spark, CACHE, wl)
    finally:
        stop_spark(spark)


def kernel_us() -> dict:
    """µs per page of each pure-Python parse kernel (the ``py_*`` twins
    behind the parse UDFs) on a fixed sample of the crawl workload's pages,
    median of three passes.  Every traced run times them, the analytics
    one too, so no time metric reads a constant (NOTES.md)."""
    from bingcrawler_spark.functions.canon import py_canon_url
    from bingcrawler_spark.functions.extract import py_extract_links, py_extract_text
    from bingcrawler_spark.functions.simhash import py_simhash64
    from bingcrawler_spark.synth import page_exists, page_html, page_url

    wl = WORKLOADS["crawl"]
    n_pages, n_hosts = wl["n_pages"], wl["n_hosts"]
    ids = [i for i in range(4 * KERNEL_SAMPLE) if page_exists(i, n_pages)][:KERNEL_SAMPLE]
    pages = [(page_url(i, n_hosts), page_html(i, n_pages, n_hosts, wl["n_words"])) for i in ids]
    texts = [py_extract_text(h) for _, h in pages]
    links = [lnk for u, h in pages for lnk in py_extract_links(h.decode(), u)]

    def per_item(fn, items) -> float:
        reps = []
        for _ in range(3):
            t = time.perf_counter()
            for x in items:
                fn(x)
            reps.append(time.perf_counter() - t)
        return statistics.median(reps) / len(items) * 1e6

    return {
        "functions.extract_text_us_per_page": per_item(lambda p: py_extract_text(p[1]), pages),
        "functions.extract_links_us_per_page": per_item(
            lambda p: py_extract_links(p[1].decode(), p[0]), pages
        ),
        "functions.simhash64_us_per_page": per_item(py_simhash64, texts),
        "functions.canon_url_us_per_url": per_item(py_canon_url, links),
    }


def run(wl: dict, args, work: str) -> tuple[dict, int, int, str]:
    """One run: set-up, the timed closed loop, the output check and, when
    tracing, the trace-overhead measurement.  Returns (metrics, attempted,
    failed, summary line)."""
    n = cores()
    data_dir = inputs.cache_dir(CACHE, wl) if wl["kind"] == "crawl" else SF_DIR
    rss = tracing.RssSampler()
    t = time.time()
    spark = start_spark(work, n, args.trace)
    session_s = time.time() - t
    env = (
        f"cores={n} shuffle_partitions={spark.conf.get('spark.sql.shuffle.partitions')} "
        f"pyspark={spark.version} java={spark.sparkContext._jvm.System.getProperty('java.version')} "
        f"seed={args.seed}"
    )
    try:
        if wl["kind"] == "crawl":
            from crawl_loop import CrawlRun

            job = CrawlRun(spark, wl, args.seed, data_dir, work, n)
        else:
            from query_loop import QueryRun

            job = QueryRun(spark, wl, args.seed, data_dir, n)
        # traced runs record spans from set-up on (a Bloom filter built in
        # the warm-up wave is the one the timed waves probe); the per-layer
        # metrics keep the timed ops only
        spans, last = (tracing.Spans(spark.sparkContext), {}) if args.trace else (None, None)
        with job.traced(spans, last) if args.trace else nullcontext():
            reps = []
            for _ in range(SETUP_REPS):
                t = time.time()
                job.setup()
                reps.append(time.time() - t)
            t = time.time()
            job.warm_up()
            warm_s = time.time() - t
            m = {"setup_s": session_s + statistics.median(reps) + warm_s}
            if args.trace:
                spark.profile.clear()
            ticks = tracing.cpu_ticks()
            res = job.loop(args.seconds, wl["min_ops"])
            steal = tracing.steal_share(ticks, tracing.cpu_ticks())
        m["peak_rss_mb"] = rss.stop()
        m["items_per_s"] = res["items"] / res["wall_s"]
        m["op_s_p50"] = statistics.median(res["walls"])
        if args.trace:
            udf = tracing.udf_profile(spark, os.path.join(work, "udf_profile"))
        attempted, failed = job.check(res)
        if args.trace:
            overhead = job.trace_overhead(res, spans)
    finally:
        rss.stop()
        stop_spark(spark)
    summary = (
        f"{wl['name']}: {env} {job.summary(res)} failed={failed} "
        f"setup: session={session_s:.2f}s reps={[round(r, 2) for r in reps]} warm_up={warm_s:.2f}s "
        f"cpu_steal_in_loop={steal:.3f}"
    )
    if not args.trace:
        return m, attempted, failed, summary
    log = tracing.read_event_log(tracing.find_event_log(os.path.join(work, "eventlog")))
    by_span = tracing.attribute_jobs(log, spans.records)
    lm = job.layer_metrics(res, spans, by_span, last, udf)
    lm.update(kernel_us())
    lm["session.get_spark_s"] = session_s
    # busy share of the executor slots spent in Python UDF code
    lm["functions.udf_python_share"] = udf["python_s"] / (n * res["wall_s"])
    lm["trace.overhead_share"] = overhead
    # the layers the other kind of workload reaches read 0 here (NOTES.md)
    if wl["kind"] == "crawl":
        from query_loop import metric_names as unreached
    else:
        from crawl_loop import metric_names as unreached
    lm.update({k: 0 for k in unreached()})
    spans_out = os.path.join(CACHE, "spans", f"{wl['name']}-seed{args.seed}.json")
    os.makedirs(os.path.dirname(spans_out), exist_ok=True)
    spans.dump(spans_out)
    return lm, attempted, failed, f"{summary} spans={os.path.relpath(spans_out, ROOT)}"


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--generate", action="store_true", help=argparse.SUPPRESS)
    args = ap.parse_args()

    sys.path.insert(0, ROOT)
    try:
        import bingcrawler_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: run from the repository root ({e})", file=sys.stderr)
        return 2
    # the JVM's Python workers import the engine and this package too, and
    # every temp file stays inside the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join([ROOT, HERE, os.environ.get("PYTHONPATH", "")])
    work = os.path.join(ROOT, ".perfbench_work", str(os.getpid()))
    os.makedirs(work)
    os.environ["TMPDIR"] = work
    wl = dict(WORKLOADS[args.workload], name=args.workload)
    try:
        if args.generate:
            generate(wl, work)
            return 0
        if wl["kind"] == "crawl" and not os.path.isdir(inputs.cache_dir(CACHE, wl)):
            # generation runs in its own process and session, so nothing of
            # it stays in the measured JVM; it belongs to no metric
            subprocess.run(
                [sys.executable, os.path.abspath(__file__), "--workload", args.workload,
                 "--seed", str(args.seed), "--seconds", "0", "--generate"],
                check=True,
            )
        metrics, attempted, failed, summary = run(wl, args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    names = spec()["per_layer" if args.trace else "end_to_end"]
    print(summary)
    print(f"ops_failed_ratio={failed / attempted} ({failed}/{attempted} ops)")
    print(
        json.dumps(
            {
                "correct": failed == 0,
                "attempted": attempted,
                "failed": failed,
                "metrics": {
                    x["name"]: {"value": metrics[x["name"]], "unit": x["unit"]} for x in names
                },
            }
        )
    )
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
