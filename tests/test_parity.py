"""North-rule correctness gate: the Spark engine's crawl ordering, seen-set
and frontier must equal the pure-Python oracle bit-for-bit (SURVEY.md §5.2).

wave_size=1 replays the reference's sequential pop loop exactly
(UrlsDbManager.java:384-408 + AbstractParser.java:60-82); wave_size=8 checks
the batched wave semantics; the bloom and cuckoo runs check the
prefilter changes nothing (no false negatives ⇒ same exact result).
"""

import tempfile

import pytest

from bingcrawler_spark.crawler import CrawlConfig, CrawlEngine
from bingcrawler_spark.oracle import OracleCrawl
from bingcrawler_spark.statestore import SnapshotStore
from bingcrawler_spark.synth import (
    robots_df,
    robots_rows,
    seed_urls,
    synth_pages_df,
    synth_pages_local,
)

N_PAGES, N_HOSTS = 260, 8
CHILD_W_SQL = "100 + pmod(length(curl), 3)"


def child_w(url: str) -> int:
    return 100 + len(url) % 3


def _spark_crawl(spark, n_waves, wave_size, filter_kind=None, with_robots=True):
    pages = synth_pages_df(spark, N_PAGES, N_HOSTS)
    robots = robots_df(spark, N_HOSTS) if with_robots else None
    store = SnapshotStore(spark, tempfile.mkdtemp(prefix="wh_parity_"))
    cfg = CrawlConfig(
        wave_size=wave_size,
        max_depth=3,
        use_bloom=filter_kind is not None,
        filter_kind=filter_kind or "bloom",
        child_weight_expr=CHILD_W_SQL,
    )
    eng = CrawlEngine(spark, store, pages, robots, cfg)
    eng.bootstrap(seed_urls(N_PAGES, N_HOSTS))
    eng.run(n_waves)
    return eng


def _oracle_crawl(n_waves, wave_size, with_robots=True):
    pages = {r["url"]: r["html"] for r in synth_pages_local(N_PAGES, N_HOSTS)}
    rb = (
        {r["host"]: (r["disallow_prefixes"], r["crawl_budget"]) for r in robots_rows(N_HOSTS)}
        if with_robots
        else None
    )
    o = OracleCrawl(pages, rb, max_depth=3, child_weight=child_w)
    o.bootstrap(seed_urls(N_PAGES, N_HOSTS))
    o.run(n_waves, wave_size)
    return o


def _assert_parity(eng, o):
    spark_log = [
        (r["wave"], r["pop_rank"], r["url"])
        for r in eng.pop_log().orderBy("wave", "pop_rank").collect()
    ]
    assert spark_log == o.pop_log  # crawl ORDERING parity (north rule)

    seen_spark = {
        (
            r["url"], r["host"], r["weight"], r["depth"], r["discovery_wave"],
            tuple(r["referrers"]), tuple(sorted((r["messages"] or {}).items())),
            r["status"], r["simhash"], r["settle_wave"],
        )
        for r in eng.seen().collect()
    }
    assert seen_spark == o.seen_tuples()  # seen-SET parity incl. simhash

    fr_spark = {
        (
            r["url"], r["host"], r["weight"], r["depth"], r["discovery_wave"],
            tuple(r["referrers"]), tuple(sorted((r["messages"] or {}).items())),
        )
        for r in eng.frontier().collect()
    }
    assert fr_spark == o.frontier_tuples()


@pytest.mark.parametrize(
    "n_waves,wave_size,filter_kind",
    [
        pytest.param(6, 1, None, id="6-1-False"),  # == the reference's sequential loop
        pytest.param(3, 8, None, id="3-8-False"),
        # seen-set prefilters must not change results
        pytest.param(3, 8, "bloom", id="3-8-True"),
        pytest.param(3, 8, "cuckoo", id="3-8-cuckoo"),
    ],
)
def test_crawl_parity(spark, n_waves, wave_size, filter_kind):
    eng = _spark_crawl(spark, n_waves, wave_size, filter_kind=filter_kind)
    o = _oracle_crawl(n_waves, wave_size)
    _assert_parity(eng, o)


def test_crawl_parity_with_redirects(spark):
    """S4 (CommonAnalysis.java:163-206): seeds landing on 301/302 stubs
    must settle with the terminal target's content (simhash, links), chains
    cap at 3 hops, dangling Locations fail — ordering/seen-set parity vs
    the oracle's recursive fetch."""
    from bingcrawler_spark.synth import (
        redirect_stub_url,
        redirects_local,
        synth_pages_with_redirects_df,
    )

    pages = synth_pages_with_redirects_df(spark, N_PAGES, N_HOSTS)
    store = SnapshotStore(spark, tempfile.mkdtemp(prefix="wh_redir_"))
    cfg = CrawlConfig(wave_size=8, max_depth=3, child_weight_expr=CHILD_W_SQL)
    eng = CrawlEngine(spark, store, pages, robots_df(spark, N_HOSTS), cfg)
    seeds = seed_urls(N_PAGES, N_HOSTS) + [
        (redirect_stub_url(i, N_HOSTS), 120) for i in (4, 21, 38)
    ]
    eng.bootstrap(seeds)
    eng.run(3)

    o_pages = {r["url"]: r["html"] for r in synth_pages_local(N_PAGES, N_HOSTS)}
    rb = {r["host"]: (r["disallow_prefixes"], r["crawl_budget"]) for r in robots_rows(N_HOSTS)}
    o = OracleCrawl(
        o_pages, rb, max_depth=3, child_weight=child_w,
        redirects=redirects_local(N_PAGES, N_HOSTS),
    )
    o.bootstrap(seeds)
    o.run(3, 8)
    _assert_parity(eng, o)
    # the redirect seeds actually settled through their targets
    seen = {r["url"]: r for r in eng.seen().collect()}
    stub = redirect_stub_url(4, N_HOSTS)
    assert stub in seen and seen[stub]["status"] in (1, -1)


def test_crawl_parity_with_messages(spark):
    """F7 (UrlsDbManager.java:117-236): seeds carry expected-title/author
    messages; the maps ride the frontier row through pop/settle into the
    seen-set, children start with empty maps — exact parity."""
    pages = synth_pages_df(spark, N_PAGES, N_HOSTS)
    store = SnapshotStore(spark, tempfile.mkdtemp(prefix="wh_msg_"))
    cfg = CrawlConfig(wave_size=8, max_depth=3, child_weight_expr=CHILD_W_SQL)
    eng = CrawlEngine(spark, store, pages, robots_df(spark, N_HOSTS), cfg)
    base = seed_urls(N_PAGES, N_HOSTS)
    seeds = [
        (u, w, {"expect_title": f"t{n}", "expect_author": f"a{n}"} if n % 2 == 0 else {})
        for n, (u, w) in enumerate(base)
    ]
    eng.bootstrap(seeds)
    eng.run(3)
    o = OracleCrawl(
        {r["url"]: r["html"] for r in synth_pages_local(N_PAGES, N_HOSTS)},
        {r["host"]: (r["disallow_prefixes"], r["crawl_budget"]) for r in robots_rows(N_HOSTS)},
        max_depth=3,
        child_weight=child_w,
    )
    o.bootstrap(seeds)
    o.run(3, 8)
    _assert_parity(eng, o)
    # the message-carrying seed really settled with its map intact
    seen = {r["url"]: (r["messages"] or {}) for r in eng.seen().collect()}
    assert seen[base[0][0]] == {"expect_title": "t0", "expect_author": "a0"}


def test_depth_cap_enforced(spark):
    eng = _spark_crawl(spark, 3, 8)
    assert eng.frontier().where("depth > 3").count() == 0
    assert eng.seen().where("depth > 3").count() == 0


def test_robots_disallow_enforced(spark):
    eng = _spark_crawl(spark, 3, 8)
    # seeds avoid /private/; everything else must respect the disallow
    assert eng.frontier().where("url like '%/private/%'").count() == 0
