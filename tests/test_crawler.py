"""Wave loop mechanics: checkpoint/resume, metrics lineage, politeness."""

import tempfile

import pytest

from bingcrawler_spark.crawler import CrawlConfig, CrawlEngine
from bingcrawler_spark.statestore import SnapshotStore
from bingcrawler_spark.synth import robots_df, seed_urls, synth_pages_df

N, H = 260, 8


def _engine(spark, wh, wave_size=8, use_bloom=False):
    pages = synth_pages_df(spark, N, H)
    cfg = CrawlConfig(wave_size=wave_size, max_depth=3, use_bloom=use_bloom)
    return CrawlEngine(spark, SnapshotStore(spark, wh), pages, robots_df(spark, H), cfg)


def test_kill_and_resume_identical(spark):
    # straight-through run
    wh_a = tempfile.mkdtemp(prefix="wh_a_")
    a = _engine(spark, wh_a)
    a.bootstrap(seed_urls(N, H))
    a.run(3)

    # killed after wave 2, resumed by a brand-new engine on the same store
    wh_b = tempfile.mkdtemp(prefix="wh_b_")
    b1 = _engine(spark, wh_b)
    b1.bootstrap(seed_urls(N, H))
    b1.run(2)
    del b1  # "crash"
    b2 = _engine(spark, wh_b)
    assert b2.wave == 2  # resumes from the last committed snapshot
    b2.run(1)

    key = lambda df: {  # noqa: E731
        (r["url"], r["weight"], r["depth"], tuple(r["referrers"]))
        for r in df.collect()
    }
    assert key(a.seen()) == key(b2.seen())
    assert key(a.frontier()) == key(b2.frontier())


def test_mid_wave_kill_and_resume_identical(spark):
    """A wave commits seen → frontier → ref_edges → metrics; a kill BETWEEN
    those commits leaves partial deltas ahead of the last frontier commit
    (the wave's commit point).  Resume must roll them back, not double-count
    them — appends are not idempotent."""
    from pyspark.sql import functions as F

    wh_a = tempfile.mkdtemp(prefix="wh_mwa_")
    a = _engine(spark, wh_a)
    a.bootstrap(seed_urls(N, H))
    a.run(3)

    wh_b = tempfile.mkdtemp(prefix="wh_mwb_")
    b1 = _engine(spark, wh_b)
    b1.bootstrap(seed_urls(N, H))
    b1.run(2)
    # simulate dying mid-wave-3: the seen delta and ref_edges delta landed,
    # the frontier commit (and metrics row) did not
    partial = b1.store.read("seen").where(F.col("settle_wave") == 2).withColumn(
        "settle_wave", F.lit(3).cast("int")
    )
    b1.store.append("seen", partial, wave=3)
    b1.store.append(
        "ref_edges",
        b1.store.read("ref_edges").limit(5).withColumn("wave", F.lit(3).cast("int")),
        wave=3,
    )
    del b1  # "crash"

    b2 = _engine(spark, wh_b)
    assert b2.wave == 2  # frontier (the commit point) is still at wave 2
    b2.run(1)

    key = lambda df: {  # noqa: E731
        (r["url"], r["weight"], r["depth"], tuple(r["referrers"]))
        for r in df.collect()
    }
    assert key(a.seen()) == key(b2.seen())
    assert key(a.frontier()) == key(b2.frontier())
    # no duplicated pop-log rows from the dead run's partial delta
    log = b2.pop_log().groupBy("url").count()
    assert log.where(F.col("count") > 1).count() == 0
    # metrics lineage is contiguous 1..3 with no stale wave-3 leftovers
    assert [r["wave"] for r in b2.metrics().orderBy("wave").collect()] == [1, 2, 3]


def test_bootstrap_resets_existing_state(spark):
    """F9 clearDb contract: bootstrap on a warehouse that already holds a
    crawl must not dedup against the stale seen-set (append tables would
    otherwise keep prior rows live)."""
    wh = tempfile.mkdtemp(prefix="wh_f9_")
    e1 = _engine(spark, wh)
    e1.bootstrap(seed_urls(N, H))
    e1.run(2)
    n_seen_1 = e1.seen().count()
    assert n_seen_1 > 0
    e2 = _engine(spark, wh)
    e2.bootstrap(seed_urls(N, H))
    assert e2.seen().count() == 0  # truncated, not unioned with the old crawl
    e2.run(2)
    assert e2.seen().count() == n_seen_1  # identical fresh crawl


def test_rebootstrap_same_engine_drops_seen_filter(spark):
    """A bootstrap on an engine that already ran waves starts a new crawl:
    the seen filter of the old one must go with its tables.  Kept, it
    answers 'definitely new' for the new crawl's seeds, and links to them
    insert them a second time."""
    from bingcrawler_spark.synth import page_url

    eng = _engine(spark, tempfile.mkdtemp(prefix="wh_f9b_"), use_bloom=True)
    eng.bootstrap(seed_urls(N, H))
    eng.run(2)

    def state_urls():
        return [
            r["url"]
            for t in ("frontier", "seen")
            for r in eng.store.read(t).select("url").collect()
        ]

    old = set(state_urls())
    urls = (page_url(i, H) for i in range(N))
    eng.bootstrap([(u, 100) for u in urls if u not in old][:20])
    eng.run(3)
    new = state_urls()
    assert len(new) == len(set(new))


def test_metrics_lineage(spark):
    wh = tempfile.mkdtemp(prefix="wh_m_")
    eng = _engine(spark, wh)
    eng.bootstrap(seed_urls(N, H))
    rows = eng.run(2)
    m = {r["wave"]: r for r in eng.metrics().collect()}
    assert set(m) == {1, 2}
    for r in rows:
        assert m[r["wave"]]["n_popped"] == r["n_popped"]
        assert m[r["wave"]]["seen_size"] == r["seen_size"]
    # per-wave snapshot lineage exists for every state table
    man = eng.store.manifest("frontier")
    assert [s["wave"] for s in man["snapshots"]] == [0, 1, 2]


def test_politeness_budget_respected(spark):
    wh = tempfile.mkdtemp(prefix="wh_p_")
    eng = _engine(spark, wh, wave_size=40)
    eng.bootstrap(seed_urls(N, H))
    eng.run(2)
    log = eng.pop_log()
    seen = eng.seen().select("url", "host")
    per_host = (
        log.join(seen, "url")
        .groupBy("wave", "host")
        .count()
        .collect()
    )
    # robots budgets: host0 → 8/wave, others → 16/wave (synth.robots_rows)
    for r in per_host:
        cap = 8 if r["host"] == "host0.example" else 16
        assert r["count"] <= cap, r


def test_default_budget_zero_means_zero(spark):
    """default_budget=0 is a legal config — hosts WITHOUT a robots
    crawl_budget row pop NOTHING (crawl only explicitly-budgeted hosts).
    Regression: a falsy-zero `or` once turned 0 into unlimited."""
    from pyspark.sql import functions as F

    from bingcrawler_spark import frontier as FR

    f = FR.seeds_to_frontier(spark, seed_urls(N, H))
    robots = robots_df(spark, H).where(F.col("host") == "host0.example")
    got = FR.pop_wave(f, 1000, robots=robots, default_budget=0)
    hosts = {r["host"] for r in got.select("host").distinct().collect()}
    assert hosts == {"host0.example"}


def test_hot_host_salted_popwave_exact(spark):
    """Skew fixture (SURVEY §7e): one host holds 60% of a 50k frontier.
    The two-phase salted top-k must return EXACTLY the rows a plain
    per-host row_number would — salting changes the plan, not the set."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window as W

    from bingcrawler_spark import frontier as FR

    n = 50_000
    base = spark.range(n).select(
        F.when(F.col("id") % 10 < 6, F.lit("hot.example"))
        .otherwise(F.concat(F.lit("h"), (F.col("id") % 37).cast("string"), F.lit(".example")))
        .alias("host"),
        F.col("id"),
    )
    frontier = base.select(
        F.concat(F.lit("http://"), "host", F.lit("/p/"), F.col("id").cast("string")).alias("url"),
        "host",
        (F.col("id") % 50 + 60).cast("int").alias("weight"),
        F.lit(0).cast("int").alias("depth"),
        F.lit(0).cast("int").alias("discovery_wave"),
        F.array().cast("array<string>").alias("referrers"),
    )
    robots = spark.createDataFrame(
        [("hot.example", 25)], "host string, crawl_budget int"
    )
    got = {
        (r.pop_rank, r.url)
        for r in FR.pop_wave(frontier, 400, robots=robots, default_budget=12).collect()
    }
    wh = W.partitionBy("host").orderBy(F.col("weight").desc(), F.col("url").desc())
    budget = F.when(F.col("host") == "hot.example", 25).otherwise(12)
    want_df = (
        frontier.withColumn("_r", F.row_number().over(wh))
        .where(F.col("_r") <= budget)
        .orderBy(F.col("weight").desc(), F.col("url").desc())
        .limit(400)
    )
    wg = W.orderBy(F.col("weight").desc(), F.col("url").desc())
    want = {
        (r.pop_rank, r.url)
        for r in want_df.withColumn("pop_rank", F.row_number().over(wg)).collect()
    }
    assert got == want


def test_resolve_redirects_unit(spark):
    """S4 operator in isolation: direct hit, 1-hop, chained 2-hop, chain
    over the hop cap, and a dangling location."""
    from pyspark.sql import functions as F

    from bingcrawler_spark.crawler import resolve_redirects

    rows = [
        ("a", "html-a", 200, None),
        ("r1", None, 301, "a"),          # 1 hop
        ("r2", None, 302, "r1"),         # 2 hops via r1
        ("r3", None, 301, "r4"),         # chain of 4 → over cap
        ("r4", None, 302, "r5"),
        ("r5", None, 301, "r6"),
        ("r6", None, 302, "a"),
        ("dang", None, 301, "missing"),  # dangling location
        ("ns", "html-ns", None, "a"),    # NULL status + location → not a redirect
    ]
    pages = spark.createDataFrame(
        rows, "url string, html string, http_status int, location string"
    )
    wave = pages.select("url")
    out = {
        r["url"]: (r["final_url"], r["html"], r["n_hops"])
        for r in resolve_redirects(pages, wave, max_hops=3).collect()
    }
    assert out["a"] == ("a", "html-a", 0)
    assert out["r1"] == ("a", "html-a", 1)
    assert out["r2"] == ("a", "html-a", 2)
    assert "r3" not in out  # needs 4 hops — over the cap → failed fetch
    assert out["r4"] == ("a", "html-a", 3)
    assert "dang" not in out
    # null-safety: a NULL http_status must land in `done` with its own
    # html, not vanish from both branches (NULL fails every filter)
    assert out["ns"] == ("ns", "html-ns", 0)


def test_scrub_filename_twins(spark):
    from pyspark.sql import functions as F

    from bingcrawler_spark.functions.canon import (
        py_scrub_filename,
        scrub_filename_col,
    )

    cases = ['a/b\\c:d', '*?"<>|', "clean.txt", 'x|y"z']
    df = spark.createDataFrame([(c,) for c in cases], "s string")
    got = [r.o for r in df.select(scrub_filename_col(F.col("s")).alias("o")).collect()]
    assert got == [py_scrub_filename(c) for c in cases]
    assert py_scrub_filename('a/b\\c:d') == "a~b~c~d"


def test_robots_parsed_rules_drive_the_crawl(spark):
    """robots.txt bodies → parse_robots/robots_table → the same crawl as
    the hand-constructed rules table (pop log identical)."""
    from pyspark.sql import functions as F

    from bingcrawler_spark.robots import robots_table

    # bodies that parse to synth.robots_rows: every host disallows
    # /private/; host0's Crawl-delay 2 halves the default budget 16 -> 8
    texts = spark.createDataFrame(
        [
            (
                f"host{h}.example",
                "User-agent: *\nDisallow: /private/\n"
                + ("Crawl-delay: 2\n" if h == 0 else ""),
            )
            for h in range(H)
        ],
        "host string, robots_txt string",
    )
    rules = robots_table(texts, default_budget=16)
    got = {
        (r["host"], tuple(r["disallow_prefixes"]), r["crawl_budget"])
        for r in rules.collect()
    }
    want = {
        (f"host{h}.example", ("/private/",), 8 if h == 0 else 16)
        for h in range(H)
    }
    assert got == want

    def crawl_with(robots):
        pages = synth_pages_df(spark, N, H)
        eng = CrawlEngine(
            spark,
            SnapshotStore(spark, tempfile.mkdtemp(prefix="wh_rb_")),
            pages,
            robots,
            CrawlConfig(wave_size=24, max_depth=3),
        )
        eng.bootstrap(seed_urls(N, H))
        eng.run(2)
        return [
            (r["wave"], r["pop_rank"], r["url"])
            for r in eng.pop_log().orderBy("wave", "pop_rank").collect()
        ]

    assert crawl_with(rules) == crawl_with(robots_df(spark, H))


def test_compaction_waves_identical_state(spark):
    """compact_every folds append deltas into overwrite snapshots without
    changing ANY state — and bounds the live snapshot count."""
    def run(compact_every):
        pages = synth_pages_df(spark, N, H)
        eng = CrawlEngine(
            spark,
            SnapshotStore(spark, tempfile.mkdtemp(prefix="wh_cmp_")),
            pages,
            robots_df(spark, H),
            CrawlConfig(wave_size=10, max_depth=3, compact_every=compact_every),
        )
        eng.bootstrap(seed_urls(N, H))
        eng.run(4)
        return eng

    a, b = run(0), run(2)
    key = lambda df: {  # noqa: E731
        (r["url"], r["weight"], r["depth"], r["status"], tuple(r["referrers"]))
        for r in df.collect()
    }
    assert key(a.seen()) == key(b.seen())
    ka = lambda df: {(r["url"], r["weight"]) for r in df.collect()}  # noqa: E731
    assert ka(a.frontier()) == ka(b.frontier())
    # compacted table's live set is the last overwrite + later appends only
    man = b.store.manifest("seen")
    modes = [s["mode"] for s in man["snapshots"]]
    assert "overwrite" in modes  # compaction actually happened
    live = b.store._live_ids(man)
    assert len(live) <= 3  # overwrite at wave 4 + nothing after


def test_recrawl_priorities_unit(spark):
    """Hand-vector: host A changes 2/4 (rate 5000e4 -> +25), host B 0/2."""
    import bingcrawler_spark.frontier as FR

    rows = [
        ("a1", "A", "x", "y", 100),
        ("a2", "A", "x", "z", 100),
        ("a3", "A", "x", "x", 100),
        ("a4", "A", "x", "x", 107),
        ("b1", "B", "x", "x", 100),
        ("b2", "B", "x", "x", 100),
    ]
    obs = spark.createDataFrame(
        rows, "url string, host string, old_fp string, new_fp string, weight int"
    )
    got = {
        r["url"]: (r["changed"], r["host_change_e4"], r["new_weight"])
        for r in FR.recrawl_priorities(obs).collect()
    }
    assert got == {
        "a1": (1, 5000, 145),
        "a2": (1, 5000, 145),
        "a3": (0, 5000, 125),
        "a4": (0, 5000, 132),
        "b1": (0, 0, 100),
        "b2": (0, 0, 100),
    }


def test_trap_filter_caps_exploding_prefix(spark):
    """A 120-url /cal/ space is capped to keep=5 smallest urls; the
    benign prefix passes untouched; flags carry exact counts."""
    import bingcrawler_spark.frontier as FR

    rows = [(f"http://t.example/cal/{i:04d}", "t.example") for i in range(120)]
    rows += [(f"http://t.example/about/{i}", "t.example") for i in range(3)]
    cand = spark.createDataFrame(rows, "url string, host string")
    flags = {
        (r["prefix"]): (r["n_urls"], r["trapped"], r["kept"])
        for r in FR.trap_flags(cand, threshold=100, keep=5).collect()
    }
    assert flags == {"cal": (120, 1, 5), "about": (3, 0, 3)}
    kept = FR.trap_filter(cand, threshold=100, keep=5).collect()
    urls = sorted(r["url"] for r in kept)
    assert len(urls) == 8  # 5 capped cal + 3 about
    assert [u for u in urls if "/cal/" in u] == [
        f"http://t.example/cal/{i:04d}" for i in range(5)
    ]


# -------------------------------------------------------------- snapshot diff


def test_snapshot_diff_classifies_all_four_ways(spark):
    from bingcrawler_spark import statestore as ST

    old = spark.createDataFrame(
        [("u1", "aa"), ("u2", "bb"), ("u3", "cc")], "url string, fp_md5 string"
    )
    new = spark.createDataFrame(
        [("u2", "bb"), ("u3", "cc2"), ("u4", "dd")], "url string, fp_md5 string"
    )
    got = {r["url"]: r["status"] for r in ST.snapshot_diff(old, new).collect()}
    assert got == {"u1": "removed", "u2": "same", "u3": "changed", "u4": "added"}


def test_snapshot_diff_null_fingerprints(spark):
    """A PRESENT row whose fingerprint is NULL (failed fetch, fp not yet
    backfilled) must classify by key presence, not fp nullness — and
    NULL↔non-NULL fingerprints on a shared key read as 'changed'.
    Both engines must agree."""
    import duckdb

    from bingcrawler_spark import statestore as ST

    schema = "url string, fp_md5 string"
    old = spark.createDataFrame(
        [("u1", None), ("u2", "bb"), ("u3", None)], schema
    )
    new = spark.createDataFrame(
        [("u1", "aa"), ("u2", None), ("u3", None), ("u4", None)], schema
    )
    got = {r["url"]: r["status"] for r in ST.snapshot_diff(old, new).collect()}
    assert got == {
        "u1": "changed",  # NULL -> 'aa'
        "u2": "changed",  # 'bb' -> NULL
        "u3": "same",     # NULL on both sides, key present in both
        "u4": "added",    # present only in new, despite NULL fp
    }
    con = duckdb.connect()
    con.register("o", old.toPandas())
    con.register("n", new.toPandas())
    want = {
        r[0]: r[1]
        for r in con.sql(
            ST.snapshot_diff_sql("SELECT * FROM o", "SELECT * FROM n")
        ).fetchall()
    }
    assert want == got


def test_snapshot_diff_matches_duckdb(spark):
    import duckdb

    from bingcrawler_spark import statestore as ST

    old = spark.createDataFrame(
        [(f"u{i}", f"f{i % 4}") for i in range(20)], "url string, fp_md5 string"
    )
    new = spark.createDataFrame(
        [(f"u{i}", f"f{i % 3}") for i in range(5, 25)], "url string, fp_md5 string"
    )
    got = sorted(tuple(r) for r in ST.snapshot_diff(old, new).collect())
    con = duckdb.connect()
    con.register("o", old.toPandas())
    con.register("n", new.toPandas())
    want = sorted(
        tuple(r)
        for r in con.sql(
            ST.snapshot_diff_sql("SELECT * FROM o", "SELECT * FROM n")
        ).fetchall()
    )
    assert got == want


# -------------------------------------------------------- cache freshness


def test_cache_decisions_tiers(spark):
    from bingcrawler_spark import frontier as FR

    rows = [
        # url, age, max_age, etag, last_modified
        ("u1", 10, 100, None, None),        # fresh, ttl 90
        ("u2", 100, 100, "e", None),        # expired -> etag
        ("u3", 100, 100, None, 5),          # expired -> last-modified
        ("u4", 100, 100, None, None),       # expired, no validators
        ("u5", 50, None, "e", 5),           # no max-age -> etag wins
        ("u6", 50, None, None, 5),          # -> last-modified
        ("u7", 50, None, None, None),       # -> refetch
    ]
    df = spark.createDataFrame(
        rows,
        "url string, age_s long, max_age_s long, etag string,"
        " last_modified_ts long",
    )
    got = {r["url"]: (r["decision"], r["ttl_left_s"])
           for r in FR.cache_decisions(df).collect()}
    assert got == {
        "u1": ("fresh", 90),
        "u2": ("revalidate_etag", 0),
        "u3": ("revalidate_lm", 0),
        "u4": ("refetch", 0),
        "u5": ("revalidate_etag", 0),
        "u6": ("revalidate_lm", 0),
        "u7": ("refetch", 0),
    }


# ---------------------------------------------------------- fetch slots


def test_fetch_slots_pop_order_and_delay(spark):
    from bingcrawler_spark import frontier as FR

    rows = [
        ("u/a", "h1", 100, None),
        ("u/b", "h1", 90, None),
        ("u/c", "h1", 100, None),   # ties with u/a -> url desc (F1): c first
        ("u/d", "h2", 50, 2000),
    ]
    df = spark.createDataFrame(
        rows, "url string, host string, weight int, crawl_delay_ms long"
    )
    got = {r["url"]: (r["slot"], r["fetch_at_ms"])
           for r in FR.fetch_slots(df).collect()}
    import hashlib
    stag = lambda h: int(hashlib.md5(h.encode()).hexdigest()[:4], 16) % 1000  # noqa: E731
    assert got["u/c"] == (1, stag("h1"))
    assert got["u/a"] == (2, stag("h1") + 500)
    assert got["u/b"] == (3, stag("h1") + 1000)
    assert got["u/d"] == (1, stag("h2"))


def test_host_budget_hamilton_exact(spark):
    import duckdb
    from bingcrawler_spark import frontier as FR

    hosts = spark.createDataFrame(
        [("a", 5, 100), ("b", 3, 2), ("c", 3, 100), ("d", 1, 100)],
        "host string, weight long, demand long",
    )
    out = {r["host"]: r for r in FR.host_budget(hosts, 10).collect()}
    # quotas: a=50/12=4r2, b=30/12=2r6, c=30/12=2r6, d=10/12=0r10
    # floor sum=8, leftover 2 -> d (r10) and b (r6, host-asc beats c)
    assert {h: r["alloc"] for h, r in out.items()} == {
        "a": 4, "b": 3, "c": 2, "d": 1}
    assert sum(r["alloc"] for r in out.values()) == 10
    assert out["b"]["effective"] == 2 and out["b"]["spare"] == 1
    con = duckdb.connect()
    con.register("hosts", hosts.toPandas())
    want = sorted(
        tuple(r)
        for r in con.sql(
            FR.host_budget_sql("SELECT * FROM hosts", 10)
        ).fetchall()
    )
    assert sorted(
        tuple(r) for r in FR.host_budget(hosts, 10).collect()
    ) == want


def test_in_process_retry_after_partial_commit(spark):
    """A promote that fails MID-COMMIT (seen delta landed, ref_edges and
    frontier did not — e.g. disk-full) followed by a retry in the SAME
    process must roll the partial delta back before re-running the wave;
    appends are not idempotent, so skipping the rollback would
    double-append every popped url's seen row."""
    from pyspark.sql import functions as F

    wh_a = tempfile.mkdtemp(prefix="wh_ra_")
    a = _engine(spark, wh_a)
    a.bootstrap(seed_urls(N, H))
    a.run(3)

    wh_b = tempfile.mkdtemp(prefix="wh_rb_")
    b = _engine(spark, wh_b)
    b.bootstrap(seed_urls(N, H))
    b.run(2)

    real_promote = b.store.promote

    def failing(token, wave):
        if token["table"] == "ref_edges":
            raise OSError("injected: disk full mid-commit")
        return real_promote(token, wave)

    b.store.promote = failing
    with pytest.raises(OSError):
        b.run_wave()
    b.store.promote = real_promote
    b.run_wave()  # same-process retry

    key = lambda df: {  # noqa: E731
        (r["url"], r["weight"], r["depth"], tuple(r["referrers"]))
        for r in df.collect()
    }
    assert key(a.seen()) == key(b.seen())
    assert key(a.frontier()) == key(b.frontier())
    log = b.pop_log().groupBy("url").count()
    assert log.where(F.col("count") > 1).count() == 0
    assert [r["wave"] for r in b.metrics().orderBy("wave").collect()] == [1, 2, 3]


@pytest.fixture(scope="module")
def uninterrupted_4(spark):
    a = _engine(spark, tempfile.mkdtemp(prefix="wh_wa_"))
    a.bootstrap(seed_urls(N, H))
    a.run(4)
    return a


def _crawl_state(eng):
    from pyspark.sql import functions as F

    key = lambda df: {  # noqa: E731
        (r["url"], r["weight"], r["depth"], tuple(r["referrers"]))
        for r in df.collect()
    }
    metrics = [
        {k: v for k, v in r.asDict().items() if k != "wall_s"}
        for r in eng.metrics().orderBy("wave").collect()
    ]
    log = eng.pop_log()
    assert log.groupBy("url").count().where(F.col("count") > 1).count() == 0
    return {
        "seen": key(eng.seen()),
        "frontier": key(eng.frontier()),
        "pop_log": {tuple(r) for r in log.collect()},
        "metrics": metrics,
    }


@pytest.mark.parametrize(
    "resume,use_bloom",
    [("same_process", False), ("fresh_engine", False), ("same_process", True)],
    ids=["same_process", "fresh_engine", "same_process-bloom"],
)
@pytest.mark.parametrize("kill_at", ["log_row", "frontier_promote"])
def test_kill_at_wave_commit_and_resume(
    spark, uninterrupted_4, kill_at, resume, use_bloom
):
    """A kill at the wave's last two commits: the metrics row (log_row) and
    the frontier promote, the wave's commit point.  The row is logged first,
    so either kill leaves the wave uncommitted (a row ahead of the frontier
    at worst, which the resume rollback drops).  Resuming, in the same
    process or from a fresh engine, re-runs the wave: metrics stay
    contiguous and every table equals the uninterrupted run's.  Both kills
    come after the killed wave added its new urls to the seen filter, so a
    same-process retry must drop the filter with the rolled-back rows: a
    kept one would count those urls twice."""
    wh_b = tempfile.mkdtemp(prefix="wh_wb_")
    b = _engine(spark, wh_b, use_bloom=use_bloom)
    b.bootstrap(seed_urls(N, H))
    b.run(2)

    real_log, real_promote = b.store.log_row, b.store.promote

    def failing_log(table, row):
        if table == "wave_metrics":
            raise OSError("injected: crash at the metrics row")
        return real_log(table, row)

    def failing_promote(token, wave):
        if token["table"] == "frontier":
            raise OSError("injected: crash at the frontier promote")
        return real_promote(token, wave)

    if kill_at == "log_row":
        b.store.log_row = failing_log
    else:
        b.store.promote = failing_promote
    with pytest.raises(OSError):
        b.run_wave()  # wave 3 dies uncommitted
    b.store.log_row, b.store.promote = real_log, real_promote
    assert b.wave == 2
    if resume == "fresh_engine":
        del b  # "crash"
        b = _engine(spark, wh_b)
        assert b.wave == 2
    b.run(2)  # re-runs wave 3, then wave 4

    got, want = _crawl_state(b), _crawl_state(uninterrupted_4)
    assert [m["wave"] for m in got["metrics"]] == [1, 2, 3, 4]
    assert got == want
    if use_bloom:
        last = got["metrics"][-1]
        assert b._filter.items == last["frontier_size"] + last["seen_size"]


def test_resume_from_manifests_without_schemas(spark, uninterrupted_4):
    """Manifests written before snapshots recorded their schema and row
    count: reads fall back to inference and sizes to the parquet footers,
    and the resumed crawl (whose new snapshots record both) ends in the
    uninterrupted run's state."""
    import json
    import os

    wh_b = tempfile.mkdtemp(prefix="wh_ws_")
    b = _engine(spark, wh_b)
    b.bootstrap(seed_urls(N, H))
    b.run(2)
    for t in ("frontier", "seen", "ref_edges"):
        man = b.store.manifest(t)
        man.pop("schemas")
        for s in man["snapshots"]:
            s.pop("schema")
            s.pop("n_rows")
        with open(os.path.join(wh_b, t, "_manifest.json"), "w") as f:
            json.dump(man, f)
    b = _engine(spark, wh_b)
    assert b.wave == 2
    for t in ("frontier", "seen", "ref_edges"):
        assert b.store.n_rows(t) == b.store.read(t).count(), t
    b.run(2)
    assert _crawl_state(b) == _crawl_state(uninterrupted_4)


# ------------------------------------------------------ store durability


def test_recorded_row_counts_match_the_tables(spark):
    """The sizes a wave reads are the snapshots' recorded row counts: they
    must equal a recount of each table after bootstrap, after plain
    append waves, after a compaction wave (an overwrite of an append
    table), after an append on top of it and after rolling that append
    back (compaction expires the older deltas, so no rollback reaches
    past it)."""
    eng = CrawlEngine(
        spark,
        SnapshotStore(spark, tempfile.mkdtemp(prefix="wh_nr_")),
        synth_pages_df(spark, N, H),
        robots_df(spark, H),
        CrawlConfig(wave_size=8, max_depth=3, compact_every=4),
    )
    st = eng.store

    def check(when):
        for t in ("frontier", "seen", "ref_edges"):
            assert st.n_rows(t) == st.read(t).count(), (when, t)

    eng.bootstrap(seed_urls(N, H))
    check("bootstrap")
    for _ in range(5):
        eng.run_wave()
        check(f"wave {eng.wave}")
    assert "overwrite" in [s["mode"] for s in st.manifest("seen")["snapshots"]]
    for t in ("frontier", "seen", "ref_edges"):
        assert st.rollback_to_wave(t, 4)
    check("rollback to wave 4")


def test_log_row_append_and_torn_tail(spark):
    """log_row is an O(1) append; a torn FINAL line (kill mid-append)
    is tolerated by read_rows, but a torn INTERIOR line is corruption
    and raises."""
    import os

    wh = tempfile.mkdtemp(prefix="wh_log_")
    st = SnapshotStore(spark, wh)
    for w in range(5):
        st.log_row("m", {"wave": w, "n": w * 10})
    assert [r["wave"] for r in st.read_rows("m")] == list(range(5))
    path = os.path.join(wh, "m", "rows.jsonl")
    with open(path, "a") as f:
        f.write('{"wave": 5, "n"')  # torn tail: kill mid-append
    assert [r["wave"] for r in st.read_rows("m")] == list(range(5))
    # a torn INTERIOR line is real corruption, not a torn tail
    with open(path) as f:
        lines = f.read().splitlines()
    lines[1] = lines[1][:5]
    with open(path, "w") as f:
        f.write("\n".join(lines) + "\n")
    import json as _json

    import pytest

    with pytest.raises(_json.JSONDecodeError):
        st.read_rows("m")


def test_rollbacks_on_clean_store_are_noops(spark):
    """With nothing ahead of the wave, both rollbacks report that they
    dropped nothing and leave the row log byte-identical, so a wave can
    always call them; a torn final line is still dropped."""
    import os

    wh = tempfile.mkdtemp(prefix="wh_rb0_")
    st = SnapshotStore(spark, wh)
    for w in (1, 2):
        st.append("t", spark.range(2).toDF("id"), wave=w)
        st.log_row("m", {"wave": w})
    path = os.path.join(wh, "m", "rows.jsonl")
    # a rewrite replaces the file: same bytes, new inode
    before = open(path, "rb").read(), os.stat(path).st_ino
    man = st.manifest("t")
    assert st.rollback_to_wave("t", 2) is False
    assert st.rollback_rows_to_wave("m", 2) is False
    assert (open(path, "rb").read(), os.stat(path).st_ino) == before
    assert st.manifest("t") == man
    with open(path, "a") as f:
        f.write('{"wave": 3')  # torn tail
    assert st.rollback_rows_to_wave("m", 2) is True
    assert open(path, "rb").read() == before[0]
    assert st.rollback_to_wave("t", 1) is True
    assert st.current_wave("t") == 1


def test_rollback_past_retention_refuses(spark):
    """rollback_to_wave to a wave whose snapshot dirs were expired by
    retention must raise with the manifest UNTOUCHED — not point current
    at a deleted directory and crash later inside read()."""
    import pytest

    wh = tempfile.mkdtemp(prefix="wh_rb2_")
    st = SnapshotStore(spark, wh)
    df = spark.range(3).toDF("id")
    # 7 overwrite commits; _expire(keep=4) deletes dirs for waves 1-3
    for w in range(1, 8):
        st.commit("t", df, wave=w)
    man_before = st.manifest("t")
    with pytest.raises(ValueError, match="expired by retention"):
        st.rollback_to_wave("t", 2)
    assert st.manifest("t") == man_before  # untouched
    # a rollback within the retention window still works and reads back
    st.rollback_to_wave("t", 5)
    assert st.read("t").count() == 3
    assert st.current_wave("t") == 5


def test_read_after_rollback_past_everything(spark):
    """Rolling an append-only table back past every snapshot leaves it
    empty: read() must raise the same FileNotFoundError contract as a
    never-written table, not call spark.read.parquet() with no paths."""
    import pytest

    wh = tempfile.mkdtemp(prefix="wh_rb3_")
    st = SnapshotStore(spark, wh)
    st.append("t", spark.range(2).toDF("id"), wave=1)
    st.rollback_to_wave("t", 0)
    with pytest.raises(FileNotFoundError):
        st.read("t")
