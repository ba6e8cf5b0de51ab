"""Wave loop mechanics: checkpoint/resume, metrics lineage, politeness."""

import json
import os
import re
import shutil
import tempfile

import pytest

from bingcrawler_spark.crawler import CrawlConfig, CrawlEngine
from bingcrawler_spark.statestore import SnapshotStore
from bingcrawler_spark.synth import robots_df, seed_urls, synth_pages_df

N, H = 260, 8


def _engine(spark, wh, wave_size=8, use_bloom=False, compact_every=64):
    pages = synth_pages_df(spark, N, H)
    cfg = CrawlConfig(
        wave_size=wave_size,
        max_depth=3,
        use_bloom=use_bloom,
        compact_every=compact_every,
    )
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
    # one store manifest records the committed wave and, per table, the
    # snapshot each wave committed
    man = eng.store.manifest()
    assert man["wave"] == eng.wave == 2
    for t in ("frontier", "seen", "ref_edges"):
        assert [s["wave"] for s in man["tables"][t]["snapshots"]] == [0, 1, 2], t


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
    changing ANY state — and the folded deltas leave the disk."""
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
    # the compaction at wave 4 is the seen table's newest snapshot, so its
    # live set is that one overwrite
    snaps = b.store.manifest()["tables"]["seen"]["snapshots"]
    assert (snaps[-1]["mode"], snaps[-1]["wave"]) == ("overwrite", 4)
    assert not _unreferenced_snap_dirs(b.store)


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


def _unreferenced_snap_dirs(store):
    """Snapshot dirs on disk that the store manifest does not reference."""
    man = store.manifest()
    on_disk = {
        (t, d)
        for t in os.listdir(store.warehouse)
        if os.path.isdir(os.path.join(store.warehouse, t))
        for d in os.listdir(os.path.join(store.warehouse, t))
        if d.startswith("snap-")
    }
    return on_disk - {
        (t, f"snap-{s['id']:05d}")
        for t, entry in man["tables"].items()
        for s in entry["snapshots"]
    }


@pytest.fixture(scope="module")
def at_wave_2(spark):
    """A warehouse holding a crawl committed through wave 2; each kill case
    runs on its own copy."""
    wh = tempfile.mkdtemp(prefix="wh_w2_")
    b = _engine(spark, wh)
    b.bootstrap(seed_urls(N, H))
    b.run(2)
    return wh


# kill point → the wave a resume finds committed.  The three stages, the
# metrics row and the promote before its rename leave wave 3 uncommitted;
# after the rename (the rest of the promote, the compaction promote, the
# seen filter's delta) wave 3 is committed
KILLS = {
    "stage_seen": 2,
    "stage_ref_edges": 2,
    "stage_frontier": 2,
    "log_row": 2,
    "frontier_promote": 2,
    "promote_after_rename": 3,
    "compaction_promote": 3,
    "add_df": 3,
}
RESUMES = {
    "same_process": ("same_process", False),
    "fresh_engine": ("fresh_engine", False),
    "same_process-bloom": ("same_process", True),
}


def _kill_next_wave(store, kill_at):
    """Make the store raise at `kill_at` once, as a kill there would stop
    the wave.  A stage raises after writing its dir and log_row after
    writing its row, so the dead wave's leftovers are on disk."""
    real_stage, real_log, real_promote = store.stage, store.log_row, store.promote

    def die():
        store.stage, store.log_row, store.promote = real_stage, real_log, real_promote
        raise OSError(f"injected: crash at {kill_at}")

    def stage(table, df, mode):
        token = real_stage(table, df, mode)
        if kill_at == f"stage_{table}":
            die()
        return token

    def log_row(table, row):
        real_log(table, row)
        if kill_at == "log_row":
            die()

    def promote(tokens, wave):
        compaction = tokens[0]["mode"] == "overwrite"
        if kill_at == "frontier_promote" or (
            kill_at == "compaction_promote" and compaction
        ):
            die()
        real_promote(tokens, wave)
        if kill_at == "promote_after_rename":
            die()

    store.stage, store.log_row, store.promote = stage, log_row, promote


@pytest.mark.parametrize(
    "kill_at,resume,use_bloom",
    [
        pytest.param(k, *RESUMES[r], id=f"{k}-{r}")
        for k in KILLS
        for r in RESUMES
        # the seen filter exists only with use_bloom
        if k != "add_df" or RESUMES[r][1]
    ],
)
def test_kill_at_wave_commit_and_resume(
    spark, monkeypatch, uninterrupted_4, at_wave_2, kill_at, resume, use_bloom
):
    """A kill at every commit boundary of wave 3: each of its three stages,
    its metrics row, its one promote (which lands frontier, seen and
    ref_edges together) before and after the manifest rename, the
    compaction promote (compact_every=3) and the seen filter's delta.
    Before the rename the store is still at wave 2, after it at wave 3 —
    never between.  Resuming, in the same process or from a fresh engine,
    runs on to wave 4: metrics are contiguous 1..4 with no row of the dead
    wave left over, the pop log has no duplicate, every table equals the
    uninterrupted run's and no snapshot dir outlives its manifest entry.
    A same-process retry keeps a seen filter that matches the committed
    state: a filter that had counted the dead wave's urls twice would not
    equal frontier_size + seen_size."""
    from bingcrawler_spark.bloom import ShardedBloom

    wh_b = tempfile.mkdtemp(prefix="wh_wb_")
    shutil.copytree(at_wave_2, wh_b, dirs_exist_ok=True)
    compact_every = 3 if kill_at == "compaction_promote" else 64
    b = _engine(spark, wh_b, use_bloom=use_bloom, compact_every=compact_every)
    if kill_at == "add_df":

        def failing_add_df(self, df, col):
            raise OSError("injected: crash at the seen filter's delta")

        monkeypatch.setattr(ShardedBloom, "add_df", failing_add_df)
    else:
        _kill_next_wave(b.store, kill_at)
    with pytest.raises(OSError, match="injected"):
        b.run_wave()
    monkeypatch.undo()
    committed = KILLS[kill_at]
    assert b.wave == committed
    # the dead wave's row, if it logged one, is not read until it commits
    assert [r["wave"] for r in b.metrics().collect()] == list(range(1, committed + 1))
    if resume == "fresh_engine":
        del b  # "crash"
        b = _engine(spark, wh_b, compact_every=compact_every)
        assert b.wave == committed
    b.run(4 - committed)

    got, want = _crawl_state(b), _crawl_state(uninterrupted_4)
    assert [m["wave"] for m in got["metrics"]] == [1, 2, 3, 4]
    assert got == want
    assert not _unreferenced_snap_dirs(b.store)
    if use_bloom:
        last = got["metrics"][-1]
        assert b._filter.items == last["frontier_size"] + last["seen_size"]


# ------------------------------------------------------ store durability


def test_recorded_row_counts_match_the_tables(spark):
    """The sizes a wave reads are the snapshots' recorded row counts: they
    must equal a recount of each table after bootstrap, after plain
    append waves, after a compaction wave (an overwrite of an append
    table) and after an append on top of it."""
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
    seen = st.manifest()["tables"]["seen"]["snapshots"]
    assert "overwrite" in [s["mode"] for s in seen]


def _hand_token(store, table, mode):
    """A stage token for an empty snapshot dir: the commit protocol with no
    Spark write."""
    man = store.manifest()
    snaps = man["tables"].get(table, {"snapshots": []})["snapshots"] if man else []
    snap_id = snaps[-1]["id"] + 1 if snaps else 0
    snap_dir = os.path.join(store.warehouse, table, f"snap-{snap_id:05d}")
    os.makedirs(snap_dir, exist_ok=True)
    return {
        "table": table,
        "id": snap_id,
        "dir": snap_dir,
        "mode": mode,
        "schema": '{"type":"struct","fields":[]}',
        "n_rows": 0,
        "max_file_rows": 0,
    }


def test_manifest_size_flat_in_wave_count(spark):
    """The manifest keeps only the entries whose data retention keeps on
    disk, so with compaction its size does not grow with the wave count:
    after 200 waves it holds no more entries than after 40."""
    st = SnapshotStore(spark, tempfile.mkdtemp(prefix="wh_flat_"))

    def entries():
        return sum(len(t["snapshots"]) for t in st.manifest()["tables"].values())

    sizes = {}
    tables = [("frontier", "overwrite"), ("seen", "append"), ("ref_edges", "append")]
    for wave in range(201):
        st.promote([_hand_token(st, t, m) for t, m in tables], wave)
        if wave and wave % 8 == 0:  # compaction
            st.promote(
                [_hand_token(st, t, "overwrite") for t in ("seen", "ref_edges")], wave
            )
        sizes[wave] = entries()
    assert st.wave == 200
    assert sizes[200] <= sizes[40]
    assert not _unreferenced_snap_dirs(st)


def test_stale_stage_token_refused(spark):
    """A token staged before another commit of its table would overwrite
    that commit's snapshot id: promote refuses it and changes nothing."""
    st = SnapshotStore(spark, tempfile.mkdtemp(prefix="wh_stale_"))
    st.promote([_hand_token(st, "t", "overwrite")], 0)
    stale = _hand_token(st, "t", "overwrite")
    st.promote([_hand_token(st, "t", "overwrite")], 1)
    before = st.manifest()
    with pytest.raises(RuntimeError, match="stale stage token"):
        st.promote([stale], 2)
    assert st.manifest() == before


def test_read_of_a_table_with_no_snapshots(spark):
    """Reading or sizing a table the store has never committed raises
    FileNotFoundError, in an empty store and in one holding other tables."""
    st = SnapshotStore(spark, tempfile.mkdtemp(prefix="wh_none_"))
    with pytest.raises(FileNotFoundError):
        st.read("t")
    st.promote([_hand_token(st, "other", "append")], 0)
    with pytest.raises(FileNotFoundError):
        st.read("t")
    with pytest.raises(FileNotFoundError):
        st.n_rows("t")


def test_older_store_format_refused(spark):
    """A warehouse of the older per-table-manifest format (no store
    manifest) is refused with an error naming it, never read as an empty
    store — a caller that bootstraps an empty store would truncate the
    crawl in it.  Bootstrapping a new crawl there is allowed."""
    wh = tempfile.mkdtemp(prefix="wh_old_")
    for t in ("frontier", "seen", "ref_edges"):
        os.makedirs(os.path.join(wh, t, "snap-00000"))
        with open(os.path.join(wh, t, "_manifest.json"), "w") as f:
            json.dump({"current": 0, "snapshots": [{"id": 0, "wave": 0}]}, f)
    eng = _engine(spark, wh)
    with pytest.raises(RuntimeError, match=re.escape(wh)):
        eng.wave  # noqa: B018
    with pytest.raises(RuntimeError, match=re.escape(wh)):
        eng.run_wave()
    eng.bootstrap(seed_urls(N, H))
    assert eng.wave == 0
    assert eng.run_wave()["wave"] == 1
