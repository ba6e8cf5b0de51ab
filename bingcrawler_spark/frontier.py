"""Frontier wave algebra (SURVEY.md §2.1 F1-F9) — pure DataFrame transforms.

Semantics reproduced from kelleszzz/BingCrawler (file:line cites per op):

F1 pop order         UrlsDbManager.java:389-408 — secondary-cursor getLast on
   the weight index; BDB duplicates sort by primary key bytes ascending, so
   getLast ⇒ (weight DESC, url DESC) — reproduced as an explicit sort spec.
F2 dedup-insert      UrlsDbManager.java:541-618 — existence check (seen, then
   frontier) BEFORE depth check; a duplicate attempt appends its referrer to
   the existing row (even if its own depth exceeds the cap); a NEW insert
   does NOT record its own referrer (the constructor never adds it — quirk
   preserved): referrers of a new url = attempts strictly AFTER the winning
   insert, in (pop_rank, link_pos) order.
F3 depth cap         UrlsDbManager.java:592-601 — child rejected iff
   parent.depth+1 > max_depth (parent looked up in the settled set; waves
   settle parents before inserting children, so the lookup always hits).
F4 settle            UrlsDbManager.java:346-381 — pop-set leaves the
   frontier and enters seen with statusCode (+ simhash, F6 :292-297).
F10 politeness       generalizes maxThreads=5 (AbstractParser.java:136) into
   per-host per-wave budgets (north rule); skew-proofed by two-phase salted
   top-k (no single hot-host window partition).

Every transform here is JVM-side (no UDFs): the parse UDF only extracts
raw links, and make_candidates canonicalizes them with a Column expression.

Plan building is driver work paid every wave before Spark runs anything,
and each Column a function builds costs py4j round trips (one F.col ~13,
canon_url_col ~160).  Expressions no wave changes are therefore built once
per SparkContext (`memo_expr`), and each step is as few DataFrame
operations as its plan allows (each one is a full JVM analysis pass).
"""

from __future__ import annotations

import threading

from pyspark import SparkContext
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window as W

from bingcrawler_spark.functions.canon import canon_url_col, host_name_col

DEFAULT_WEIGHT = 100  # CrawlUrl.java:12
DEFAULT_MAX_DEPTH = 3  # AbstractParser.java:138

FRONTIER_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("host", T.StringType(), True),
        T.StructField("weight", T.IntegerType(), False),
        T.StructField("depth", T.IntegerType(), False),
        T.StructField("discovery_wave", T.IntegerType(), False),
        T.StructField("referrers", T.ArrayType(T.StringType()), False),
        # F7: per-URL k-v metadata (UrlsDbManager.java:117-236) — the
        # reference threads expected-title/author messages from the search
        # parse through the crawl to the R16 gate; every row carries a
        # (possibly empty) map, like the BDB row's messages HashMap
        T.StructField("messages", T.MapType(T.StringType(), T.StringType()), True),
    ]
)

SEEN_SCHEMA = T.StructType(
    FRONTIER_SCHEMA.fields
    + [
        T.StructField("status", T.IntegerType(), True),
        T.StructField("simhash", T.LongType(), True),
        T.StructField("settle_wave", T.IntegerType(), True),
        # pop_rank rides the seen row so the pop log is a projection of the
        # seen table, not a separate per-wave write (fewer jobs per wave)
        T.StructField("pop_rank", T.IntegerType(), True),
    ]
)

_memo_cache: dict = {}
_memo_sc: SparkContext | None = None
_memo_lock = threading.RLock()  # re-entrant: a build may memo its parts


def memo_expr(key: tuple, build):
    """build() once per SparkContext and key.  `key` is the expression's
    name plus every config value it depends on.  A Column holds JVM
    handles of the context it was built in, so a stopped or restarted
    session drops the cache instead of reusing stale handles."""
    global _memo_sc
    with _memo_lock:
        sc = SparkContext._active_spark_context
        if sc is not _memo_sc:
            _memo_cache.clear()
            _memo_sc = sc
        if key not in _memo_cache:
            _memo_cache[key] = build()
        return _memo_cache[key]


def _wave_lit(wave: int, name: str) -> Column:
    """A per-wave int literal column: one F.expr, not lit + cast + alias."""
    return F.expr(f"CAST({int(wave)} AS INT) AS {name}")


def _pop_order():
    return memo_expr(
        ("pop_order",), lambda: [F.col("weight").desc(), F.col("url").desc()]
    )


def empty_seen(spark: SparkSession) -> DataFrame:
    return spark.createDataFrame([], SEEN_SCHEMA)


_EMPTY_MSGS = 'cast(map() as map<string,string>)'


def seeds_df_to_frontier(seeds: DataFrame) -> DataFrame:
    """Seed injection (F12, BingParser.java:81-107) as a pure plan:
    seeds(raw_url, weight, seed_pos [, messages]) → canon (P1) +
    first-occurrence-wins (putUrl: later duplicates are KEYEXIST no-ops,
    AbstractParser.java:167-173) + default frontier fields.  DataFrame in,
    DataFrame out — a derived seed list of any size never touches the
    driver (the list overload below is for genuinely small literal seed
    sets).  An optional `messages` map column seeds F7 metadata
    (BingParser.java:98-105 putMessage on the injected search url)."""
    w_first = W.partitionBy("url").orderBy("seed_pos")
    msgs = (
        F.coalesce(F.col("messages"), F.expr(_EMPTY_MSGS))
        if "messages" in seeds.columns
        else F.expr(_EMPTY_MSGS)
    )
    return (
        seeds.withColumn("messages", msgs)
        .select(
            canon_url_col(F.col("raw_url")).alias("url"),
            F.col("weight").cast("int").alias("weight"),
            "seed_pos",
            "messages",
        )
        .withColumn("_rn", F.row_number().over(w_first))
        .where(F.col("_rn") == 1)
        .withColumn("host", host_name_col(F.col("url")))
        .withColumn("depth", F.lit(0))
        .withColumn("discovery_wave", F.lit(0))
        .withColumn("referrers", F.array().cast("array<string>"))
        .select([f.name for f in FRONTIER_SCHEMA.fields])
    )


def seeds_to_frontier(spark: SparkSession, seeds: list) -> DataFrame:
    """List overload of seeds_df_to_frontier: (url, weight) or
    (url, weight, messages-dict) tuples."""
    seed_schema = T.StructType(
        [
            T.StructField("raw_url", T.StringType(), False),
            T.StructField("weight", T.IntegerType(), False),
            T.StructField("seed_pos", T.IntegerType(), False),
            T.StructField(
                "messages", T.MapType(T.StringType(), T.StringType()), True
            ),
        ]
    )
    rows = [
        (s[0], int(s[1]), i, dict(s[2]) if len(s) > 2 and s[2] else {})
        for i, s in enumerate(seeds)
    ]
    df = spark.createDataFrame(rows, seed_schema)
    return seeds_df_to_frontier(df)


# --------------------------------------------------------------------- F1


def pop_wave(
    frontier: DataFrame,
    wave_size: int,
    robots: DataFrame | None = None,
    default_budget: int | None = None,
    n_salts: int = 16,
) -> DataFrame:
    """Select this wave's pop set: per-host politeness budget (two-phase
    salted top-k so one hot host can't serialize a window partition), then a
    global top-`wave_size` in (weight DESC, url DESC) order. Adds `pop_rank`
    (1-based position in the reference's sequential pop order)."""
    f = frontier
    if robots is not None or default_budget is not None:
        if robots is not None:
            budgets = memo_expr(
                ("robots_budget",), lambda: [F.col("host"), F.col("crawl_budget")]
            )
            f = f.join(F.broadcast(robots.select(*budgets)), "host", "left")
        else:
            no_budget = memo_expr(("null_int",), lambda: F.lit(None).cast("int"))
            f = f.withColumn("crawl_budget", no_budget)
        r1, keep1, r2, keep2 = memo_expr(
            ("pop_budget", default_budget, n_salts),
            lambda: _budget_ranks(default_budget, n_salts),
        )
        # phase 1: top-budget within (host, salt) — bounded partitions;
        # phase 2: exact top-budget per host over ≤ budget*n_salts survivors
        f = f.withColumn("_r1", r1).where(keep1).withColumn("_r2", r2).where(keep2)
    # global top-k compiles to TakeOrderedAndProject — per-partition top-k
    # map-side, then ONE task merges n_partitions × k rows.  Feed that
    # single-task merge the narrowest possible rows — (url, weight) only —
    # and broadcast the ≤k winners back onto the frontier to recover the
    # wide columns: referrers arrays / messages maps never pass through the
    # merge (measured 3-5 s/wave of non-scaling single-task time at
    # wave_size 65536), and the frontier side joins broadcast-hash with no
    # shuffle at all.  urls are unique in the frontier (keyed store,
    # UrlsDbManager semantics), so the equi-join is an exact identity on
    # the pop set.  The rank window orders k narrow rows — a single
    # partition is fine.
    url, weight, pop_rank = memo_expr(
        ("pop_rank",),
        lambda: (
            F.col("url"),
            F.col("weight"),
            F.row_number().over(W.orderBy(*_pop_order())).alias("pop_rank"),
        ),
    )
    ranked = (
        f.select(url, weight)
        .orderBy(*_pop_order())
        .limit(wave_size)
        .select(url, pop_rank)
    )
    return frontier.join(F.broadcast(ranked), "url", "inner")


def _budget_ranks(default_budget: int | None, n_salts: int) -> tuple:
    """pop_wave's two politeness ranks and their keep predicates."""
    # explicit None test: default_budget=0 is a legal config meaning
    # "unbudgeted hosts pop nothing" — `or` would turn it unlimited
    budget = F.coalesce(
        F.col("crawl_budget"),
        F.lit(default_budget if default_budget is not None else 1 << 30),
    )
    salt = F.pmod(F.xxhash64("url"), F.lit(n_salts))
    w1 = W.partitionBy("host", salt).orderBy(*_pop_order())
    w2 = W.partitionBy("host").orderBy(*_pop_order())
    return (
        F.row_number().over(w1),
        F.col("_r1") <= budget,
        F.row_number().over(w2),
        F.col("_r2") <= budget,
    )


# --------------------------------------------------------------------- F4


def settle(
    popped_results: DataFrame, seen: DataFrame | None, wave: int
) -> DataFrame:
    """popped_results: frontier cols + pop_rank + status + simhash.
    Returns the settled wave rows (seen-schema); pass seen to get the
    unioned set, or None for the append delta alone (the engine appends —
    the seen table is append-only so wave cost never scales with |seen|)."""
    has_msgs = "messages" in popped_results.columns
    head, pop_rank = memo_expr(
        ("settle_cols", has_msgs), lambda: _settle_cols(has_msgs)
    )
    settled = popped_results.select(
        *head, _wave_lit(wave, "settle_wave"), pop_rank
    )
    if seen is None:
        return settled
    # allowMissingColumns: a pre-F7 seen-shaped input (no messages column)
    # unions with null messages
    return seen.unionByName(settled, allowMissingColumns=True)


def _settle_cols(has_msgs: bool) -> tuple[list[Column], Column]:
    """settle's select list around the per-wave settle_wave literal."""
    msgs = (
        F.coalesce(F.col("messages"), F.expr(_EMPTY_MSGS))
        if has_msgs
        else F.expr(_EMPTY_MSGS)
    )
    frontier_cols = ("url", "host", "weight", "depth", "discovery_wave", "referrers")
    head = [F.col(c) for c in frontier_cols] + [
        msgs.alias("messages"),
        F.col("status").cast("int"),
        F.col("simhash").cast("long"),
    ]
    return head, F.col("pop_rank").cast("int")


# --------------------------------------------------------------------- F2/F3


def make_candidates(
    parsed: DataFrame,
    child_weight: Column | None = None,
) -> DataFrame:
    """parsed: url, depth, pop_rank, links(array). One row per (parent, link
    position): canon (P1, CrawlUrl.java:88-89) + child depth/weight.
    child_weight defaults to DEFAULT_WEIGHT; a given one may read any
    candidate column (curl, child_depth, raw_link, ...)."""
    c = memo_expr(("cand_cols",), _cand_cols)
    cand = parsed.select(*c["explode"]).where(c["has_link"])
    if child_weight is None:
        return cand.select(*c["keep"], *c["derived"], c["default_weight"])
    return cand.select("*", *c["derived"]).select(
        *c["out"], child_weight.cast("int").alias("child_weight")
    )


def _cand_cols() -> dict:
    raw = F.col("raw_link")
    keep = [F.col(n) for n in ("parent_url", "pop_rank", "parent_depth", "link_pos")]
    return {
        "explode": [
            F.col("url").alias("parent_url"),
            F.col("pop_rank"),
            F.col("depth").alias("parent_depth"),
            F.posexplode_outer("links").alias("link_pos", "raw_link"),
        ],
        "has_link": raw.isNotNull(),
        "keep": keep,
        "derived": [
            canon_url_col(raw).alias("curl"),
            (F.col("parent_depth") + 1).alias("child_depth"),
        ],
        "out": keep + [F.col("curl"), F.col("child_depth")],
        "default_weight": F.lit(DEFAULT_WEIGHT).cast("int").alias("child_weight"),
    }


_ROBOTS_PATH_RE = r"^[A-Za-z][A-Za-z0-9+.-]*://[^/]*(/.*)?$"


def robots_filter(cand: DataFrame, robots: DataFrame) -> DataFrame:
    """Drop candidates whose path matches a disallowed prefix for its host
    (north-rule addition; broadcast join — robots is a small dim table)."""
    host, path, rules, allowed = memo_expr(
        ("robots_cols",),
        lambda: (
            host_name_col(F.col("curl")).alias("_host"),
            F.regexp_extract(F.col("curl"), _ROBOTS_PATH_RE, 1).alias("_path"),
            [F.col("host").alias("_host"), F.col("disallow_prefixes")],
            F.col("disallow_prefixes").isNull()
            | ~F.exists("disallow_prefixes", lambda p: F.col("_path").startswith(p)),
        ),
    )
    joined = cand.select("*", host, path).join(
        F.broadcast(robots.select(*rules)), "_host", "left"
    )
    return joined.where(allowed).drop("_host", "_path", "disallow_prefixes")


def merge_referrers(state: DataFrame, edges: DataFrame) -> DataFrame:
    """View helper: fold the append-only referrer edge table
    (url, parent_url) into a state table's `referrers` arrays.  This runs
    at READ time (analytics / parity checks) — the wave loop itself never
    rewrites state rows to append referrers (UrlsDbManager.java:555-580
    semantics preserved, O(state)-per-wave rewrite avoided)."""
    agg = edges.groupBy("url").agg(F.collect_set("parent_url").alias("_edge_refs"))
    j = state.join(agg, "url", "left")
    merged = F.when(F.col("_edge_refs").isNull(), F.array_sort("referrers")).otherwise(
        F.array_sort(F.array_union("referrers", "_edge_refs"))
    )
    return j.withColumn("referrers", merged).drop("_edge_refs")


def resolve_attempts(
    cand: DataFrame,
    frontier: DataFrame,
    seen: DataFrame,
    bloom=None,
) -> DataFrame:
    """F2 existence check, once per wave: one row per distinct candidate
    url — `curl`, `_arr` (its attempts in the reference's sequential
    order) and `_exists` (already in frontier ∪ seen).  dedup_insert
    derives both of its outputs from this one join.

    cand: parent_url, pop_rank, link_pos, curl, child_depth, child_weight.
    frontier and seen are the url-keyed, disjoint state tables as
    committed before the wave; the wave's pop set is still in frontier,
    and a url popped this wave is a known url all the same (putUrl checks
    the stores as they stand).  A group matches at most one state row.
    bloom: optional SeenFilter (bloom.py) over their urls, probed once
    per distinct candidate url; its flag is a conjunct of the join
    condition, so only positives can match (SURVEY.md §4.1)."""
    # shuffle-hash join, built on the candidate side: the state side is
    # O(state), so it is never broadcast (a broadcast collects the whole
    # state url set to the driver every wave — measured: 1-2.6 s
    # broadcast-build stages per wave, BENCH/SUBMIT_SCALING.md) and never
    # the hash-map side (each task would hold 1/n of frontier ∪ seen: at
    # 16M + 16M urls on 4 cores that build died with SparkOutOfMemoryError).
    # With url-hash-bucketed state tables the state-side exchange is elided.
    existing = frontier.select("url").unionByName(seen.select("url"))
    c = memo_expr(("attempt_cols",), _attempt_cols)
    # ONE shuffle groups all attempts per target url; the sorted struct
    # array encodes the reference's sequential attempt order
    attempts = cand.groupBy(c["curl"]).agg(c["arr"])
    on = c["on"]
    if bloom is not None:
        # the probe flag is a projected column in the join condition, not a
        # filter: Catalyst would infer might_contain(url) from curl = url and
        # push that Python probe onto every state-side scan
        attempts = attempts.withColumn("_maybe", bloom.might_contain_col(c["curl"]))
        on = c["on_maybe"]
    return attempts.hint("shuffle_hash").join(existing, on, "left_outer").select(
        *c["out"]
    )


def _attempt_cols() -> dict:
    """resolve_attempts' expressions."""
    attempt = F.struct(
        "pop_rank", "link_pos", "parent_url", "child_depth", "child_weight"
    )
    curl = F.col("curl")
    on = curl == F.col("url")
    return {
        "curl": curl,
        "arr": F.array_sort(F.collect_list(attempt)).alias("_arr"),
        "on": on,
        "on_maybe": on & F.col("_maybe"),
        "out": [curl, F.col("_arr"), F.col("url").isNotNull().alias("_exists")],
    }


def dedup_insert(
    resolved: DataFrame,
    wave: int,
    max_depth: int | None = DEFAULT_MAX_DEPTH,
) -> tuple[DataFrame, DataFrame]:
    """F2 from resolve_attempts' result: (new_frontier_rows, referrer_edges).

    referrer_edges = (url, parent_url) for every attempt whose target
    already exists, whatever its depth (the KEYEXIST append path,
    UrlsDbManager.java:555-580).  A new url's first attempt within the
    depth cap wins, and the attempts after it become its initial
    referrers — so full referrers(url) = initial ∪ edges, folded in by
    merge_referrers at read time."""
    c = memo_expr(("dedup_cols", max_depth), lambda: _dedup_cols(max_depth))
    edges = resolved.where(c["exists"]).select(*c["edge"], _wave_lit(wave, "wave"))
    # winner selection (first ELIGIBLE attempt) and later-referrer
    # accumulation are array expressions, not a window + self-join
    new_rows = (
        resolved.select("*", c["elig"])
        .where(c["is_new"])
        .select(*c["head"], _wave_lit(wave, "discovery_wave"), *c["tail"])
    )
    return new_rows, edges


def _dedup_cols(max_depth: int | None) -> dict:
    """dedup_insert's expressions; only the wave literals are per call."""
    elig = (
        F.filter("_arr", lambda x: x["child_depth"] <= F.lit(max_depth))
        if max_depth is not None
        else F.col("_arr")
    )
    winner = elig[0]
    # referrers of a new url = attempts strictly after the winner (any depth)
    later = F.filter(
        "_arr",
        lambda x: (x["pop_rank"] > winner["pop_rank"])
        | (
            (x["pop_rank"] == winner["pop_rank"])
            & (x["link_pos"] > winner["link_pos"])
        ),
    )
    first = F.col("_elig")[0]
    curl = F.col("curl")
    exists = F.col("_exists")
    return {
        "exists": exists,
        "edge": [curl.alias("url"), F.explode("_arr.parent_url").alias("parent_url")],
        "elig": elig.alias("_elig"),
        "is_new": ~exists & (F.size("_elig") > 0),
        "head": [
            curl.alias("url"),
            host_name_col(curl).alias("host"),
            first["child_weight"].alias("weight"),
            first["child_depth"].alias("depth"),
        ],
        "tail": [
            F.array_sort(
                F.array_distinct(F.transform(later, lambda x: x["parent_url"]))
            ).alias("referrers"),
            # a url found as a link starts with no messages (putUrl's
            # constructor); F7 maps enter through the seeds
            F.expr(_EMPTY_MSGS).alias("messages"),
        ],
    }


# --------------------------------------------------------------------- F5


def update_weights(frontier: DataFrame, deltas: DataFrame) -> DataFrame:
    """MERGE-style weight update (UrlsDbManager.java:272-289): deltas(url,
    new_weight nullable, weight_delta nullable)."""
    j = frontier.join(F.broadcast(deltas), "url", "left")
    new_w = F.coalesce(
        F.col("new_weight"),
        F.col("weight") + F.coalesce(F.col("weight_delta"), F.lit(0)),
    )
    return j.withColumn("weight", new_w.cast("int")).drop("new_weight", "weight_delta")


# --------------------------------------------------------------------- F7


def merge_messages(state: DataFrame, updates: DataFrame) -> DataFrame:
    """F7 per-URL k-v metadata merge (UrlsDbManager.java:117-236): the
    reference putMessage overwrites the key within the url's map; here a
    broadcast MERGE — updates(url, messages: map<string,string>) folds into
    the state's `messages` column with update-wins semantics
    (map_concat keeps the LAST occurrence per key in Spark when
    spark.sql.mapKeyDedupPolicy=LAST_WIN; we splice explicitly so the
    semantics hold regardless of session config)."""
    upd = updates.select("url", F.col("messages").alias("_upd"))
    j = state.join(F.broadcast(upd), "url", "left")
    base = F.coalesce(F.col("messages"), F.expr(_EMPTY_MSGS))
    new = F.coalesce(F.col("_upd"), F.expr(_EMPTY_MSGS))
    # update-wins: keep base entries whose key is NOT updated, then add new
    kept = F.map_filter(base, lambda k, _: ~F.array_contains(F.map_keys(new), k))
    merged = F.map_concat(kept, new)
    return j.withColumn("messages", merged).drop("_upd")


# ------------------------------------------------------------- recrawl


def recrawl_priorities(
    observations: DataFrame,
    change_bonus: int = 20,
    host_divisor: int = 200,
) -> DataFrame:
    """Adaptive revisit scheduling — the incremental-crawl extension of
    F5's static weight MERGE (UrlsDbManager.java:272-289).  The
    reference crawls once; a production frontier re-pops settled urls
    at a rate driven by how often their content changes (the classic
    change-frequency refresh policy).

    Input: observations(url, host, old_fp, new_fp, weight) — last
    stored fingerprint vs the freshly fetched one.  Output adds:

    * ``changed``        — 1 if the fingerprint moved;
    * ``host_change_e4`` — host-level change rate in fixed-point e4
      (integer division: 10000 * changed / observed — hosts are the
      unit of revisit budgeting, matching the politeness grain);
    * ``new_weight``     — weight + host_change_e4 // host_divisor
      + change_bonus per changed url: hot hosts rise as a block,
      changed urls rise further, so the next ``pop_wave`` naturally
      front-loads fast-moving content.

    Scale shape: one groupBy(host) over narrow columns + a broadcast-
    friendly host-rate join back; integer arithmetic end-to-end so the
    schedule is bit-identical on any cluster."""
    obs = observations.withColumn(
        "changed", (F.col("old_fp") != F.col("new_fp")).cast("int")
    )
    rates = (
        obs.groupBy("host")
        .agg(
            F.sum("changed").alias("_chg"),
            F.count(F.lit(1)).alias("_n"),
        )
        # integer div, not float-divide-then-cast: bit-exact vs the
        # oracle's `//` and across engines
        .select("host", F.expr("div(10000 * _chg, _n)").alias("host_change_e4"))
    )
    return (
        obs.join(F.broadcast(rates), "host")
        .withColumn(
            "new_weight",
            (
                F.col("weight")
                + F.expr(f"div(host_change_e4, {int(host_divisor)})")
                + F.col("changed") * change_bonus
            ).cast("int"),
        )
        .select(
            "url", "host", "changed", "host_change_e4", "new_weight"
        )
    )


# ------------------------------------------------------------ trap guard


def trap_flags(
    cand: DataFrame,
    threshold: int = 100,
    keep: int = 50,
    prefix_pattern: str = r"^[a-z]+://[^/]+/([^/]+)/",
) -> DataFrame:
    """Spider-trap detection: flag (host, path-prefix) URL spaces that
    explode (calendars, faceted search, session-id mills) before they
    drown the frontier.  The reference has no defense — its frontier
    admits every novel url (UrlsDbManager.putUrl) and a trap host
    starves the weight queue; at 10^10-URL scale this is a first-order
    crawl-quality control (classic crawler-trap budgeting).

    Per (host, first-path-segment): count distinct urls; prefixes over
    ``threshold`` are trapped and budget-capped to ``keep`` urls.
    Output: (host, prefix, n_urls, trapped, kept) — all exact
    integers.  One groupBy over narrow derived columns; candidates'
    text/payload never moves."""
    p = cand.select(
        "host",
        F.regexp_extract(F.col("url"), prefix_pattern, 1).alias("prefix"),
        "url",
    )
    g = p.groupBy("host", "prefix").agg(
        F.count_distinct("url").alias("n_urls")
    )
    return g.select(
        "host",
        "prefix",
        F.col("n_urls").cast("long").alias("n_urls"),
        (F.col("n_urls") > threshold).cast("int").alias("trapped"),
        F.when(F.col("n_urls") > threshold, F.least(F.col("n_urls"), F.lit(keep)))
        .otherwise(F.col("n_urls"))
        .cast("long")
        .alias("kept"),
    )


def trap_filter(
    cand: DataFrame,
    threshold: int = 100,
    keep: int = 50,
    prefix_pattern: str = r"^[a-z]+://[^/]+/([^/]+)/",
) -> DataFrame:
    """Apply trap budgeting to a candidate set: within a trapped
    (host, prefix), keep the ``keep`` smallest urls (deterministic
    tie-break = url order, matching the engine's pop tie-break
    discipline) and drop the rest.  WindowGroupLimit shape — the rank
    prunes partition-local before the exchange."""
    p = cand.withColumn(
        "_prefix", F.regexp_extract(F.col("url"), prefix_pattern, 1)
    )
    w = W.partitionBy("host", "_prefix").orderBy("url")
    flags = trap_flags(cand, threshold, keep, prefix_pattern).where(
        F.col("trapped") == 1
    )
    ranked = p.withColumn("_rn", F.row_number().over(w))
    out = (
        ranked.join(
            F.broadcast(flags.select("host", F.col("prefix").alias("_prefix"))),
            ["host", "_prefix"],
            "left_semi",
        )
        .where(F.col("_rn") <= keep)
        .unionByName(
            ranked.join(
                F.broadcast(
                    flags.select("host", F.col("prefix").alias("_prefix"))
                ),
                ["host", "_prefix"],
                "left_anti",
            )
        )
        .drop("_prefix", "_rn")
    )
    return out


# -------------------------------------------------------- cache freshness


def cache_decisions(obs: DataFrame) -> DataFrame:
    """RFC 9111 freshness triage for the recrawl planner: given the
    cached response's validators per url — ``age_s`` (seconds since
    fetch), nullable ``max_age_s``, nullable ``etag``, nullable
    ``last_modified_ts`` — classify the next visit as

      * ``fresh``            age < max-age: skip the fetch entirely,
      * ``revalidate_etag``  conditional GET with If-None-Match,
      * ``revalidate_lm``    conditional GET with If-Modified-Since,
      * ``refetch``          no validators: full download.

    ``ttl_left_s`` carries the remaining freshness budget for `fresh`
    rows (the scheduler sorts by it to batch soon-expiring urls).  The
    reference refetches unconditionally (BingCrawlerTask re-GETs every
    popped url); at 100 TB the conditional tiers are what keep recrawl
    bandwidth sublinear in corpus size.  Pure per-row expressions:
    shuffle-free, partitioning-exact."""
    fresh = F.col("max_age_s").isNotNull() & (F.col("age_s") < F.col("max_age_s"))
    return obs.select(
        "url",
        F.when(fresh, F.lit("fresh"))
        .when(F.col("etag").isNotNull(), F.lit("revalidate_etag"))
        .when(F.col("last_modified_ts").isNotNull(), F.lit("revalidate_lm"))
        .otherwise(F.lit("refetch"))
        .alias("decision"),
        F.when(fresh, F.col("max_age_s") - F.col("age_s"))
        .otherwise(F.lit(0))
        .cast("long")
        .alias("ttl_left_s"),
    )


def cache_decisions_sql(obs_sql: str) -> str:
    """DuckDB twin of cache_decisions over the same observation rows."""
    return f"""
    SELECT url,
           CASE WHEN max_age_s IS NOT NULL AND age_s < max_age_s
                  THEN 'fresh'
                WHEN etag IS NOT NULL THEN 'revalidate_etag'
                WHEN last_modified_ts IS NOT NULL THEN 'revalidate_lm'
                ELSE 'refetch' END AS decision,
           (CASE WHEN max_age_s IS NOT NULL AND age_s < max_age_s
                  THEN max_age_s - age_s ELSE 0 END)::BIGINT AS ttl_left_s
    FROM ({obs_sql})
    """


# ---------------------------------------------------------- fetch slots


def fetch_slots(frontier: DataFrame, default_delay_ms: int = 500) -> DataFrame:
    """Politeness schedule materialization: rank each host's queued
    urls in pop order (weight DESC, url DESC — F1's comparator, the
    same tie-break `_pop_order` gives pop_wave, so a fetcher executes
    ties in exactly the order the frontier pops them) and
    assign concrete fetch timestamps ``stagger + (slot-1) * delay`` so
    a fetcher fleet executes the wave without any coordination beyond
    reading its slice.  The per-host stagger (md5(host) mod 1000 ms)
    de-synchronizes hosts so wave starts don't thundering-herd shared
    upstreams.  One window keyed by host over (url, weight) rows —
    the same politeness shuffle shape as pop_wave, never the corpus."""
    w = W.partitionBy("host").orderBy(*_pop_order())
    stagger = (
        F.conv(F.substring(F.md5(F.col("host")), 1, 4), 16, 10).cast("long")
        % 1000
    )
    delay = F.coalesce(F.col("crawl_delay_ms"), F.lit(default_delay_ms))
    return (
        frontier.withColumn("slot", F.row_number().over(w))
        .select(
            "url",
            "host",
            F.col("slot").cast("int").alias("slot"),
            (stagger + (F.col("slot") - 1) * delay)
            .cast("long")
            .alias("fetch_at_ms"),
        )
    )


def fetch_slots_sql(frontier_sql: str, default_delay_ms: int = 500) -> str:
    return f"""
    WITH r AS (
      SELECT url, host, crawl_delay_ms,
             row_number() OVER (PARTITION BY host
                                ORDER BY weight DESC, url DESC) AS slot
      FROM ({frontier_sql}))
    SELECT url, host, slot::INT AS slot,
           (('0x' || substr(md5(host), 1, 4))::BIGINT % 1000
            + (slot - 1) * coalesce(crawl_delay_ms, {default_delay_ms})
           )::BIGINT AS fetch_at_ms
    FROM r
    """


# ------------------------------------------------------- host budget split


def host_budget(hosts: DataFrame, budget: int) -> DataFrame:
    """Split a global per-wave fetch budget across hosts proportionally
    to weight, with largest-remainder (Hamilton) rounding — the
    allocation a cluster-scale crawler computes every wave so that
    Σ alloc == budget EXACTLY and no host is starved by float rounding.
    The reference's scheduler has no global budget (one WebDriver pulls
    whatever tops the queue, `BingCrawlerTask.java` run loop); at
    1000 executors the wave budget IS the contract between the frontier
    and the fetch fleet.

    Input: (host, weight, demand) — weight drives the share, demand
    (frontier backlog) caps what the host can actually use; `effective`
    = min(alloc, demand) and `spare` is what re-enters the next wave's
    pool.  All arithmetic is integer (alloc = ⌊budget·w/W⌋ + 1 for the
    `budget − Σ⌊⌋` largest remainders, ties broken host-asc), so the
    result is cross-engine hash-stable and independent of partitioning.

    Scale shape: two unpartitioned window functions over the HOSTS
    table (not the frontier) — 10^6-10^7 small rows through one sort,
    trivially sized; the frontier itself never moves."""
    total_w = F.sum("weight").over(W.partitionBy())
    num = F.lit(budget).cast("long") * F.col("weight").cast("long")
    d = hosts.select(
        "host",
        F.col("weight").cast("long").alias("weight"),
        F.col("demand").cast("long").alias("demand"),
        num.alias("num"),
        total_w.cast("long").alias("tw"),
    ).select(
        "host",
        "weight",
        "demand",
        # div() is exact 64-bit integral division — no double rounding
        # even when budget·weight approaches 2^63
        F.expr("div(num, tw)").alias("base"),
        (F.col("num") % F.col("tw")).alias("rem"),
    )
    leftover = F.lit(budget) - F.sum("base").over(W.partitionBy())
    rnk = F.row_number().over(
        W.partitionBy().orderBy(F.col("rem").desc(), F.col("host").asc())
    )
    alloc = F.col("base") + (rnk <= leftover).cast("long")
    return d.select(
        "host",
        "weight",
        "demand",
        alloc.alias("alloc"),
        F.least(alloc, F.col("demand")).alias("effective"),
        F.greatest(alloc - F.col("demand"), F.lit(0).cast("long")).alias("spare"),
    )


def host_budget_sql(hosts_sql: str, budget: int) -> str:
    """DuckDB twin of :func:`host_budget` — same integer Hamilton split."""
    return f"""
    WITH d AS (
      SELECT host, weight::BIGINT AS weight, demand::BIGINT AS demand,
             ({budget}::BIGINT * weight) // sum(weight) OVER () AS base,
             ({budget}::BIGINT * weight) % sum(weight) OVER () AS rem
      FROM ({hosts_sql})
    ), r AS (
      SELECT *,
             {budget} - sum(base) OVER () AS leftover,
             row_number() OVER (ORDER BY rem DESC, host ASC) AS rnk
      FROM d
    )
    SELECT host, weight, demand,
           (base + CASE WHEN rnk <= leftover THEN 1 ELSE 0 END)::BIGINT AS alloc,
           least(base + CASE WHEN rnk <= leftover THEN 1 ELSE 0 END,
                 demand)::BIGINT AS effective,
           greatest(base + CASE WHEN rnk <= leftover THEN 1 ELSE 0 END
                    - demand, 0)::BIGINT AS spare
    FROM r
    """
