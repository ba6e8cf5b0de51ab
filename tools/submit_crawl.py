"""spark-submit entrypoint for the crawl engine (north-rule launch shape).

The package ships to executors as a --py-files zip — the same deployment
path a multi-executor cluster uses; local[N] here stands in for the
cluster master URL:

    python -m zipfile -c /tmp/bingcrawler_spark.zip bingcrawler_spark
    spark-submit --master local[8] \
        --py-files /tmp/bingcrawler_spark.zip \
        --conf spark.sql.adaptive.enabled=true \
        --conf spark.sql.session.timeZone=UTC \
        --conf spark.sql.execution.arrow.pyspark.enabled=true \
        tools/submit_crawl.py \
        --warehouse /tmp/crawl_wh --waves 3 --wave-size 512 \
        --synth-pages 8000 --synth-hosts 64

Against real data, replace --synth-pages with --pages <parquet/iceberg
path> holding the input-contract columns (url, warc_ts, html, text, lang)
plus optional http_status/location for S4 redirect-follow.

Prints one JSON line per wave (the observe()-harvested metrics) and a
final summary line; resumable — re-submitting with the same --warehouse
continues from the last committed wave.
"""

from __future__ import annotations

import argparse
import json
import time


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--pages", help="parquet path of input-contract pages")
    ap.add_argument("--synth-pages", type=int, help="synthesize N pages instead")
    ap.add_argument("--synth-hosts", type=int, default=64)
    ap.add_argument("--synth-words", type=int, default=30)
    ap.add_argument("--warehouse", required=True)
    ap.add_argument("--waves", type=int, default=3)
    ap.add_argument("--wave-size", type=int, default=1000)
    ap.add_argument("--seeds", type=int, default=8)
    # default False: the r5 A/B at the 262k-wave protocol (BENCH/AB_CRAWL.md)
    # measured the exact anti-join FASTER than the Bloom prefilter at
    # sandbox state sizes (~1M rows: build 2.7+1.6 s + ~0.7 s delta/wave
    # buys nothing the anti-join doesn't already do), with per-wave
    # metrics identical both ways.  The prefilter pays at 10^10-url state,
    # where the exact anti-join's probe side is the full seen table.
    ap.add_argument("--bloom", action=argparse.BooleanOptionalAction, default=False)
    ap.add_argument("--fresh", action="store_true", help="bootstrap a new crawl")
    ap.add_argument(
        "--write-pages",
        help="synthesize the corpus, write it as parquet to this path, exit "
        "(lets N-vs-4N scaling reps share one on-disk corpus instead of "
        "re-synthesizing per leg)",
    )
    args = ap.parse_args()

    # spark-submit owns master/conf; just attach to the provided session
    from pyspark.sql import SparkSession

    spark = SparkSession.builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    from bingcrawler_spark.crawler import CrawlConfig, CrawlEngine
    from bingcrawler_spark.statestore import SnapshotStore
    from bingcrawler_spark.synth import robots_df, seed_urls, synth_pages_df

    if args.write_pages:
        n = args.synth_pages or 8000
        synth_pages_df(spark, n, args.synth_hosts, n_words=args.synth_words).write.mode(
            "overwrite"
        ).parquet(args.write_pages)
        print(json.dumps({"summary": "write_pages", "path": args.write_pages, "n": n}))
        return

    if args.pages:
        # parquet-backed corpus: scan it per wave like a cluster scans a
        # 100 TB pages table — pinning it in executor memory is neither
        # possible at scale nor necessary (the count below is metadata-only)
        pages = spark.read.parquet(args.pages)
        n_hosts = args.synth_hosts
    else:
        n = args.synth_pages or 8000
        n_hosts = args.synth_hosts
        # synthesized corpus: cache, else every wave re-generates it
        pages = synth_pages_df(spark, n, n_hosts, n_words=args.synth_words).cache()
    n_pages = pages.count()

    store = SnapshotStore(spark, args.warehouse)
    # state-table partitioning follows the session's shuffle partitions —
    # a 2-core run must not pay 32-task scheduling constants per stage
    # (per-wave constants are what cap full-loop scaling efficiency)
    n_parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    eng = CrawlEngine(
        spark,
        store,
        pages,
        robots_df(spark, n_hosts),
        CrawlConfig(
            wave_size=args.wave_size, use_bloom=args.bloom, n_partitions=n_parts
        ),
    )
    # an empty store starts a crawl; a warehouse in an older store format
    # raises here rather than reading as empty (bootstrap would truncate it)
    if args.fresh or store.wave < 0:
        eng.bootstrap(seed_urls(args.synth_pages or n_pages, n_hosts, args.seeds))

    t0 = time.time()
    fetched = 0
    for m in eng.run(args.waves):
        print(json.dumps(m))
        fetched += m.get("n_fetched", 0)
    wall = time.time() - t0
    print(
        json.dumps(
            {
                "summary": "crawl",
                "pages_in_corpus": n_pages,
                "urls_fetched": fetched,
                "wall_s": round(wall, 2),
                "urls_per_sec": round(fetched / wall, 1) if wall > 0 else None,
                "final_wave": eng.wave,
            }
        )
    )


if __name__ == "__main__":
    main()
