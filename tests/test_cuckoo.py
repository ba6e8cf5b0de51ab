"""Sharded cuckoo filter: no false negatives (even past capacity),
low fpp, incremental adds, and bloom-parity inside the crawl engine."""

import tempfile

from pyspark.sql import functions as F

from bingcrawler_spark.cuckoo import ShardedCuckoo


def _urls_df(spark, lo, hi, step=1):
    return spark.range(lo, hi, step).select(
        F.concat(F.lit("http://h/"), F.col("id").cast("string")).alias("url")
    )


def test_membership_and_fpp(spark):
    members = [f"http://h{i % 7}.example/p/{i}" for i in range(0, 4000, 2)]
    others = [f"http://h{i % 7}.example/p/{i}" for i in range(1, 4001, 2)]
    df = spark.createDataFrame([(u,) for u in members], ["url"]).repartition(4)
    ck = ShardedCuckoo.build(df, "url", expected_items=len(members), n_shards=4)
    probe = spark.createDataFrame(
        [(u, True) for u in members] + [(u, False) for u in others],
        ["url", "is_member"],
    )
    got = probe.withColumn("hit", ck.might_contain_col(F.col("url"))).collect()
    assert sum(1 for r in got if r["is_member"] and not r["hit"]) == 0
    # 16-bit fingerprints: fpp ~1e-4; allow generous slack on 2000 probes
    assert sum(1 for r in got if not r["is_member"] and r["hit"]) <= 4


def test_no_false_negatives_past_capacity(spark):
    # Undersized on purpose: kicks fail, victims list must still answer.
    df = _urls_df(spark, 0, 600)
    ck = ShardedCuckoo.build(df, "url", expected_items=40, n_shards=2)
    hits = df.select(ck.might_contain_col(F.col("url")).alias("m"))
    assert hits.where(~F.col("m")).count() == 0


def test_incremental_add(spark):
    ck = ShardedCuckoo.build(
        _urls_df(spark, 0, 800), "url", expected_items=2000, n_shards=2
    )
    ck.add_df(_urls_df(spark, 800, 1000), "url")
    hits = _urls_df(spark, 0, 1000).select(
        ck.might_contain_col(F.col("url")).alias("m")
    )
    assert hits.where(~F.col("m")).count() == 0


def test_engine_parity_cuckoo_vs_bloom(spark):
    """Wave metrics (pop/fetch/new/seen) must be IDENTICAL whichever
    prefilter structure screens the candidate set — the filter is an
    optimization, never semantics."""
    from bingcrawler_spark.crawler import CrawlConfig, CrawlEngine
    from bingcrawler_spark.statestore import SnapshotStore
    from bingcrawler_spark.synth import robots_df, seed_urls, synth_pages_df

    pages = synth_pages_df(spark, 300, 6).cache()
    pages.count()
    keys = ("n_popped", "n_fetched", "n_failed", "n_new", "seen_size")
    runs = {}
    for kind in ("bloom", "cuckoo"):
        eng = CrawlEngine(
            spark,
            SnapshotStore(spark, tempfile.mkdtemp()),
            pages,
            robots_df(spark, 6),
            CrawlConfig(wave_size=12, use_bloom=True, filter_kind=kind),
        )
        eng.bootstrap(seed_urls(300, 6))
        runs[kind] = [
            {k: w[k] for k in keys} for w in eng.run(3)
        ]
    assert runs["bloom"] == runs["cuckoo"]


def test_alt_bucket_scalar_matches_vectorized():
    """The kick path's scalar splitmix64 twin must place every key in the
    same bucket as the vectorized form used for batch inserts."""
    import numpy as np

    from bingcrawler_spark.cuckoo import _alt_bucket, _alt_bucket_int

    rng = np.random.RandomState(7)
    fp = rng.randint(1, 1 << 16, size=500).astype(np.int32)
    i1 = rng.randint(0, 1 << 20, size=500).astype(np.int64)
    mask = (1 << 20) - 1
    vec = _alt_bucket(fp, i1, mask).tolist()
    assert vec == [
        _alt_bucket_int(int(f), int(b), mask) for f, b in zip(fp, i1)
    ]
