"""Seen filters: no false negatives, bounded false positives, a pinned
Bloom bit layout, and a load count that tracks what was inserted."""

import tempfile

import pytest
from pyspark.sql import functions as F

from bingcrawler_spark.bloom import ShardedBloom
from bingcrawler_spark.crawler import FILTER_KINDS, CrawlConfig, CrawlEngine
from bingcrawler_spark.statestore import SnapshotStore
from bingcrawler_spark.synth import robots_df, seed_urls, synth_pages_df


def test_bloom_membership(spark):
    members = [f"http://h{i % 7}.example/p/{i}" for i in range(0, 4000, 2)]
    others = [f"http://h{i % 7}.example/p/{i}" for i in range(1, 4001, 2)]
    df = spark.createDataFrame([(u,) for u in members], ["url"]).repartition(4)
    bloom = ShardedBloom.build(df, "url", expected_items=len(members), fpp=0.01, n_shards=4)

    probe = spark.createDataFrame(
        [(u, True) for u in members] + [(u, False) for u in others],
        ["url", "is_member"],
    )
    got = probe.withColumn("hit", bloom.might_contain_col(F.col("url"))).collect()
    false_neg = sum(1 for r in got if r["is_member"] and not r["hit"])
    false_pos = sum(1 for r in got if not r["is_member"] and r["hit"])
    assert false_neg == 0  # Bloom guarantee
    assert false_pos <= len(others) * 0.05  # fpp 0.01 with slack


def test_incremental_add_equals_full_build(spark):
    """add_df deltas must reach the exact same positive set as one full
    build over the union (same hash family, same bitmaps ORed)."""
    from pyspark.sql import functions as F

    from bingcrawler_spark.bloom import ShardedBloom

    base = spark.range(0, 800).select(
        F.concat(F.lit("http://h/"), F.col("id").cast("string")).alias("url")
    )
    delta = spark.range(800, 1000).select(
        F.concat(F.lit("http://h/"), F.col("id").cast("string")).alias("url")
    )
    inc = ShardedBloom.build(base, "url", expected_items=2000, n_shards=2)
    inc.add_df(delta, "url")
    full = ShardedBloom.build(
        base.unionByName(delta), "url", expected_items=2000, n_shards=2
    )
    assert inc.shards == full.shards  # bit-identical bitmaps
    probe = spark.range(0, 1000).select(
        F.concat(F.lit("http://h/"), F.col("id").cast("string")).alias("url")
    )
    hits = probe.select(inc.might_contain_col(F.col("url")).alias("m"))
    assert hits.where(~F.col("m")).count() == 0  # no false negatives


def test_probe_udf_closure_excludes_bitmaps(spark):
    """Scale contract (VERDICT r3 task 8): the membership UDF's serialized
    closure must stay small and independent of filter size — the bitmap
    matrix rides an sc.broadcast (torrented once per executor), never the
    task closure (shipped with EVERY task; ~12 GiB at the 10^10-url design
    point)."""
    import pickle

    from pyspark import cloudpickle

    df = spark.createDataFrame(
        [(f"http://h{i % 7}.example/p/{i}",) for i in range(500)], ["url"]
    ).repartition(4)
    # size for 2M items -> ~2.4 MB of bitmaps; closure must not carry them
    bloom = ShardedBloom.build(df, "url", expected_items=2_000_000, n_shards=4)
    matrix_bytes = sum(len(b) for b in bloom.shards)
    assert matrix_bytes > 1_000_000
    udf = bloom.might_contain_udf()
    payload = len(cloudpickle.dumps(udf.func, protocol=pickle.HIGHEST_PROTOCOL))
    assert payload < 100_000, f"closure carries {payload} bytes"
    # broadcast is cached across calls and invalidated by a delta add
    bc_first = bloom._bc
    bloom.might_contain_udf()
    assert bloom._bc is bc_first
    bloom.add_df(df.limit(10), "url")
    assert bloom._bc is None
    # probe still answers correctly through the broadcast path
    got = df.withColumn("hit", bloom.might_contain_col(F.col("url"))).collect()
    assert all(r["hit"] for r in got)  # no false negatives


def test_cuckoo_probe_udf_closure_excludes_tables(spark):
    """Same closure contract for the cuckoo filter."""
    import pickle

    from pyspark import cloudpickle

    from bingcrawler_spark.cuckoo import ShardedCuckoo

    df = spark.createDataFrame(
        [(f"http://h{i % 7}.example/p/{i}",) for i in range(500)], ["url"]
    ).repartition(4)
    cuckoo = ShardedCuckoo.build(df, "url", expected_items=1_000_000, n_shards=4)
    table_bytes = sum(t.nbytes for t in cuckoo.tables)
    assert table_bytes > 1_000_000
    udf = cuckoo.might_contain_udf()
    payload = len(cloudpickle.dumps(udf.func, protocol=pickle.HIGHEST_PROTOCOL))
    assert payload < 100_000, f"closure carries {payload} bytes"
    # broadcast is invalidated by a delta add
    extra = spark.createDataFrame([("http://h0.example/extra",)], ["url"])
    cuckoo.add_df(extra, "url")
    assert cuckoo._bc is None
    got = (
        df.unionByName(extra)
        .withColumn("hit", cuckoo.might_contain_col(F.col("url")))
        .collect()
    )
    assert all(r["hit"] for r in got)  # no false negatives


def test_bitmap_bytes_pinned(spark):
    """The hash family and bit layout decide every probe: pin the bitmap
    bytes of a fixed input so a change to either cannot pass unnoticed
    (two builds of the same code always agree with each other)."""
    import hashlib

    df = spark.createDataFrame(
        [(f"http://h{i % 7}.example/p/{i}",) for i in range(2000)], ["url"]
    ).repartition(4)
    bloom = ShardedBloom.build(df, "url", expected_items=2000, n_shards=4)
    assert (bloom.m_bits, bloom.k) == (4800, 7)
    assert hashlib.sha256(b"".join(bloom.shards)).hexdigest() == (
        "61ed985a67587492fed6cd69630750bb082ca51e713d4026e8adba3e747cd680"
    )


@pytest.mark.parametrize("kind", ["bloom", "cuckoo"])
def test_full_once_items_pass_capacity(spark, kind):
    empty = spark.createDataFrame([], "url string")
    f = FILTER_KINDS[kind].build(empty, "url", expected_items=10)
    urls = [(f"http://h/{i}",) for i in range(11)]
    f.add_df(spark.createDataFrame(urls[:10], "url string"), "url")
    assert (f.items, f.full) == (10, False)
    f.add_df(spark.createDataFrame(urls[10:], "url string"), "url")
    assert (f.items, f.full) == (11, True)


@pytest.mark.parametrize("kind", ["bloom", "cuckoo"])
def test_filter_items_track_state_size(spark, kind):
    """The filter's own load count covers frontier ∪ seen after every wave:
    the build counts the existing urls, each delta adds the wave's new ones."""
    eng = CrawlEngine(
        spark,
        SnapshotStore(spark, tempfile.mkdtemp(prefix="wh_load_")),
        synth_pages_df(spark, 300, 6),
        robots_df(spark, 6),
        CrawlConfig(wave_size=12, use_bloom=True, filter_kind=kind),
    )
    eng.bootstrap(seed_urls(300, 6))
    for _ in range(3):
        row = eng.run_wave()
        assert eng._filter.items == row["frontier_size"] + row["seen_size"]
