"""Physical-plan contracts for the scale-path queries: the shapes that
must never regress silently.  A CartesianProduct in a pair-generating
query is the difference between a banded near-dup pass and an O(n²)
explosion at 10^10 docs; these assertions pin the plan class, not the
timing, so they hold on any host.

BroadcastNestedLoopJoin is allowed only where the design calls for a
crossJoin against a broadcast 1-row aggregate or a tiny centroid/stats
table (BM25's corpus stats, TF-IDF's N, IVF's centroids) — those are
listed explicitly; the banded dedup paths must be pure equi-joins.

The crawl's writes are pinned too: one existence join of the candidates
to the state per wave, its seen-filter probe (a Python UDF) once, over the
candidate urls, and its page parse once per page.  So is the number of
Spark jobs a wave launches, so instrumentation cannot add an action
unnoticed, and the py4j commands a rebuild of the wave's frontier plans
sends, so a per-wave Column rebuild shows up too."""

import re
import tempfile
import threading

import py4j.clientserver
import pytest
from pyspark import SparkContext
from pyspark.sql import functions as F

from bingcrawler_spark import driver_queries as DQ
from bingcrawler_spark import frontier as FR
from bingcrawler_spark.crawler import CrawlConfig, CrawlEngine
from bingcrawler_spark.statestore import SnapshotStore
from bingcrawler_spark.synth import robots_df, seed_urls, synth_pages_df

# pair-generating / heavy queries: equi-join-only contract
EQUI_ONLY = [
    "dd_minhash_lsh",
    "dd_simhash_neardup",
    "dd_containment",
    "dd_ngram_jaccard",
    "r12_banded_nn",
    "f18_dust_rules",
    "ds_split_leakage",
    "dd_embedding_clones",
    "ann_lsh_topk",
]

# broadcast-crossJoin-by-design (1-row aggregates / tiny broadcast dims)
BROADCAST_OK = [
    "ix_tfidf_keywords",
    "ix_bm25_search",
    "ann_ivf_topk",
    "ann_bruteforce_topk",
    "f1_frontier_pop",
    "f10_politeness_pop",
    "p9_tender_pipeline",
]


def _plan(spark, sf_dir, name):
    df = DQ.QUERIES[name](spark, sf_dir)
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.mark.parametrize("name", EQUI_ONLY)
def test_no_cartesian_or_nested_loop(spark, sf_dir, name):
    plan = _plan(spark, sf_dir, name)
    assert "CartesianProduct" not in plan, name
    assert "BroadcastNestedLoopJoin" not in plan, name


@pytest.mark.parametrize("name", BROADCAST_OK)
def test_no_cartesian(spark, sf_dir, name):
    plan = _plan(spark, sf_dir, name)
    assert "CartesianProduct" not in plan, name


# ------------------------------------------------ crawl seen-filter probe


def _staged_plans(spark, cfg, n_waves, *tables):
    """Optimized plans of the tables' staged writes over an n-wave crawl,
    {table: [plan of wave 1, ...]}."""
    store = SnapshotStore(spark, tempfile.mkdtemp(prefix="wh_plan_"))
    eng = CrawlEngine(
        spark, store, synth_pages_df(spark, 120, 4), robots_df(spark, 4), cfg
    )
    eng.bootstrap(seed_urls(120, 4))
    plans = {t: [] for t in tables}
    stage = store.stage

    def capture(t, df, mode):
        if t in plans:
            plans[t].append(df._jdf.queryExecution().optimizedPlan().toString())
        return stage(t, df, mode)

    store.stage = capture
    eng.run(n_waves)
    assert all(len(p) == n_waves for p in plans.values())
    return plans


@pytest.mark.parametrize("filter_kind", ["bloom", "cuckoo"])
def test_seen_filter_probed_once_over_candidates(spark, filter_kind):
    """The seen-filter probe is a Python UDF: it must run once per distinct
    candidate url, never over the state side (frontier ∪ seen) of the
    existence join.  Catalyst infers might_contain(url) from curl = url
    and pushes it into the state scans whenever the probe sits in a filter
    rather than in the join condition.
    Probes are counted by result id: the cached existence join is already
    materialized when the write is planned, and an executed adaptive plan
    prints both its initial and final form."""
    cfg = CrawlConfig(wave_size=8, use_bloom=True, filter_kind=filter_kind)
    for plan in _staged_plans(spark, cfg, 2, "frontier")["frontier"]:
        probes = re.findall(r"might_contain\((\w+)#\d+\)#(\d+)", plan)
        assert probes and {arg for arg, _ in probes} == {"curl"}
        assert len({rid for _, rid in probes}) == 1


@pytest.mark.parametrize("use_bloom", [False, True], ids=["exact", "bloom"])
def test_one_existence_join_per_wave(spark, use_bloom):
    """Both dedup outputs (new frontier rows, referrer edges) derive from
    one left outer join of the candidates to the state, so the state side
    is scanned and shuffled by url once per wave, not once per output."""
    cfg = CrawlConfig(wave_size=8, use_bloom=use_bloom)
    plans = _staged_plans(spark, cfg, 2, "frontier", "ref_edges")
    for wave_plans in zip(plans["frontier"], plans["ref_edges"]):
        text = "\n".join(wave_plans)
        logical = re.findall(r"Join (\w+), .*?curl#(\d+) = url#(\d+)", text)
        physical = [
            (kind, c, u)
            for c, u, kind in re.findall(
                r"Join \[curl#(\d+)\], \[url#(\d+)\], (\w+)", text
            )
        ]
        joins = set(logical + physical)
        assert len(joins) == 1, joins
        assert joins.pop()[0] == "LeftOuter"


def _join_right(node, pattern):
    """The right child of the first join (pre-order) whose plan line
    matches `pattern`, as a tree string; None when there is none."""
    line = node.toString().split("\n", 1)[0]
    if re.match(pattern, line):
        return node.right().toString()
    kids = node.children()
    for i in range(kids.size()):
        found = _join_right(kids.apply(i), pattern)
        if found is not None:
            return found
    return None


@pytest.mark.parametrize("use_bloom", [False, True], ids=["exact", "bloom"])
def test_existence_join_reads_committed_state(spark, monkeypatch, use_bloom):
    """The state side of the existence join is the frontier and seen
    tables as committed before the wave: two stored-table scans, no
    per-wave lineage.  A pop-set removal (a left-anti join to the cached
    pop set) or the wave's settled rows (the cached parse) on that side
    would tie the state to this wave's plan, and a union with such a
    branch cannot keep a bucketed table's partitioning."""
    state_sides = []
    resolve = FR.resolve_attempts

    def capture(*args, **kwargs):
        df = resolve(*args, **kwargs)
        plan = df._jdf.queryExecution().optimizedPlan()
        state_sides.append(_join_right(plan, r"Join LeftOuter, .*curl#\d+ = url#"))
        return df

    monkeypatch.setattr(FR, "resolve_attempts", capture)
    _staged_plans(spark, CrawlConfig(wave_size=8, use_bloom=use_bloom), 2)
    assert len(state_sides) == 2
    for side in state_sides:
        assert side is not None
        assert "LeftAnti" not in side, side
        assert "InMemoryRelation" not in side, side
        assert len(re.findall(r"Relation \[", side)) >= 2, side


def test_parse_udf_runs_once_per_page(spark):
    """links and simhash are two fields of one parse_page_udf call; a
    second call (other arguments, or chained under another UDF) would run
    the page parse twice.  Calls are counted by result id: the wave's
    cached parse is already materialized when the seen write is planned,
    and an executed adaptive plan prints both its initial and final form."""
    (plan,) = _staged_plans(spark, CrawlConfig(wave_size=8), 1, "seen")["seen"]
    assert len(set(re.findall(r"parse_page_udf\(.*?\)#\d+", plan))) == 1


# ------------------------------------------------ crawl jobs per wave


@pytest.mark.parametrize(
    "use_bloom,expected",
    [
        # state reads carry their schema: no footer-reading inference job
        # for the frontier and seen reads or the filter's read-back.  The
        # one existence join runs in the candidate-count action over the
        # committed frontier and seen tables: one shuffle of two scans, no
        # broadcast of the pop set and no branch over the parse cache
        pytest.param(False, [24, 24, 24], id="exact"),
        # wave 1 builds the filter from the two committed tables (one
        # job); later waves extend it
        pytest.param(True, [27, 26, 26], id="bloom"),
    ],
)
def test_spark_jobs_per_wave(spark, use_bloom, expected):
    """Each Spark job a wave launches adds to the per-wave driver constant.
    The count is deterministic for a fixed input, so a new action (a
    measurement-only count, a re-run for timing) shows up here."""
    sc = spark.sparkContext

    def last_job_id():
        # job-start events reach the status tracker through the async
        # listener bus: drain it so the newest job is visible
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return max(sc.statusTracker().getJobIdsForGroup(None), default=-1)

    store = SnapshotStore(spark, tempfile.mkdtemp(prefix="wh_jobs_"))
    eng = CrawlEngine(
        spark, store, synth_pages_df(spark, 300, 6), robots_df(spark, 6),
        CrawlConfig(wave_size=12, n_partitions=4, use_bloom=use_bloom),
    )
    before = last_job_id()
    eng.bootstrap(seed_urls(300, 6))
    # the seeds write (two jobs: the first-occurrence window's shuffle,
    # then the write) and the two empty appends; the seed count is the
    # frontier snapshot's recorded row count, not an action
    assert last_job_id() - before == 4
    jobs = []
    for _ in expected:
        before = last_job_id()
        assert not eng.run_wave().get("done")
        jobs.append(last_job_id() - before)
    assert jobs == expected


# ------------------------------------------------ wave plan building


def test_wave_plan_rebuild_py4j_commands(spark, monkeypatch):
    """Each py4j command is a driver↔JVM round trip paid every wave before
    Spark runs anything (one F.col is ~13 of them, canon_url_col ~140).
    The frontier operators build their wave-invariant expressions once
    per SparkContext, so a second build of a wave's plans sends only the
    DataFrame operations and the per-wave values: 210 commands here,
    against ~2,100 when every expression was rebuilt each wave.  One
    canon_url_col rebuild per wave makes it 350: the bound sits midway."""
    robots = robots_df(spark, 4)
    frontier = FR.seeds_to_frontier(spark, seed_urls(120, 4, n_seeds=20))
    parsed = FR.pop_wave(frontier, 8, robots=robots).select(
        "*",
        F.lit(1).alias("status"),
        F.lit(None).cast("long").alias("simhash"),
        F.array("url").alias("links"),
    )

    def build_wave(wave):
        FR.pop_wave(frontier, 8, robots=robots, default_budget=3)
        settled = FR.settle(parsed, None, wave)
        cand = FR.robots_filter(FR.make_candidates(parsed), robots)
        FR.dedup_insert(FR.resolve_attempts(cand, frontier, settled), wave)

    build_wave(1)
    sent = [0]
    send = py4j.clientserver.ClientServerConnection.send_command

    builder = threading.current_thread()

    def counting_send(self, command):
        # py4j releases dropped JVM handles from its own finalizer thread,
        # whenever that thread runs (it added ~200-500 commands to some
        # builds): those commands are not the build's
        if threading.current_thread() is builder:
            sent[0] += 1
        return send(self, command)

    monkeypatch.setattr(
        py4j.clientserver.ClientServerConnection, "send_command", counting_send
    )
    build_wave(2)
    assert sent[0] <= 280, sent[0]


def test_memo_expr_rebuilds_under_another_spark_context(monkeypatch):
    """A memoized Column holds JVM handles of the context that built it: a
    restarted session must rebuild it, never reuse it."""
    builds = []

    def build():
        builds.append(object())
        return builds[-1]

    monkeypatch.setattr(SparkContext, "_active_spark_context", object())
    first = FR.memo_expr(("memo_test",), build)
    assert FR.memo_expr(("memo_test",), build) is first
    monkeypatch.setattr(SparkContext, "_active_spark_context", object())
    assert FR.memo_expr(("memo_test",), build) is not first
    assert len(builds) == 2
