"""The crawl wave loop (SURVEY.md §3.1 Spark rebuild) with checkpoint/resume.

Each wave (one snapshot set + a metrics row):

  wave_k:  top      = politeness-budgeted top-k of frontier        # F1+F10
           fetched  = pages ⋈ broadcast(top) on url                # S1..S4
           parsed   = links/simhash, one parse pandas UDF          # P4,P5,P12
           seen    += settled wave rows        (APPEND delta)      # F4
           cand     = explode(links) → canon → depth+1 → robots    # P1,F3
           resolved = attempts per url ⟕ frontier ∪ seen           # F2, once
           new,edges= dedup_insert(resolved, ...)                  # F2
           frontier = (frontier \\ top) ∪ new  (overwrite)         # F5
           ref_edges+= edges                   (APPEND delta)
           metrics += wave row                 (APPEND delta)      # lineage

The pop log is a projection of seen (pop_rank rides the settled row).

"Fetching" a url is a join against the pages table per the input hint —
the wave side is broadcast (a wave is thousands of rows; the pages table is
the 100 TB side and is never shuffled: broadcast-hash-join streams it).

Scale invariant: per-wave write cost ∝ wave size, NOT state size.  The
seen-set, referrer edges and metrics are append-only tables (each
wave writes only its delta); only the frontier — the bounded working set —
is rewritten.  Referrer accumulation on existing rows (the reference's
KEYEXIST path, UrlsDbManager.java:555-580) therefore never rewrites the
seen-set: edges land in `ref_edges` and fold in at read time
(frontier.merge_referrers).  State sizes are tracked arithmetically in the
metrics lineage instead of re-counting O(state) tables every wave.

State lives in a SnapshotStore; a killed run resumes at the last committed
wave (test: kill-and-resume in tests/test_crawler.py).
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from bingcrawler_spark import frontier as FR
from bingcrawler_spark.bloom import SeenFilter, ShardedBloom
from bingcrawler_spark.cuckoo import ShardedCuckoo
from bingcrawler_spark.functions.extract import parse_page_udf
from bingcrawler_spark.statestore import SnapshotStore

POP_LOG_SCHEMA = T.StructType(
    [
        T.StructField("wave", T.IntegerType()),
        T.StructField("pop_rank", T.IntegerType()),
        T.StructField("url", T.StringType()),
    ]
)

EDGES_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType()),
        T.StructField("parent_url", T.StringType()),
        T.StructField("wave", T.IntegerType()),
    ]
)

METRICS_SCHEMA = T.StructType(
    [
        T.StructField("wave", T.IntegerType()),
        T.StructField("n_popped", T.LongType()),
        T.StructField("n_fetched", T.LongType()),
        T.StructField("n_failed", T.LongType()),
        T.StructField("n_candidates", T.LongType()),
        T.StructField("n_new", T.LongType()),
        T.StructField("frontier_size", T.LongType()),
        T.StructField("seen_size", T.LongType()),
        T.StructField("max_partition_rows", T.LongType()),
        T.StructField("wall_s", T.DoubleType()),
    ]
)


def _harvest(obs: Observation, name: str, fallback) -> int:
    """Observation.get with an AQE guard.  When an observed subtree turns
    out empty at runtime, AQE's empty-relation propagation replaces it —
    CollectMetrics node included — with an empty LocalTableScan, the metric
    never fires, and Spark completes the observation with a schema-less
    empty row that Observation.get cannot deserialize.  Fall back to the
    direct count then: it only happens on waves whose observed set IS
    empty, so the recount job is O(0)."""
    try:
        return int(obs.get[name] or 0)
    except Exception:
        return int(fallback())


def _max_file_rows(snap_dir: str) -> int:
    """Max per-file row count of a committed snapshot, read from parquet
    footers (each write partition = one file) — the per-partition lineage
    metric without a Spark job, the way Iceberg manifests carry it."""
    try:
        import pyarrow.parquet as pq

        rows = [
            pq.ParquetFile(os.path.join(snap_dir, f)).metadata.num_rows
            for f in os.listdir(snap_dir)
            if f.endswith(".parquet")
        ]
        return max(rows) if rows else 0
    except Exception:
        return -1


REDIRECT_STATUSES = (301, 302, 303, 307)  # ifRedirect, CommonAnalysis.java:202-207


def resolve_redirects(
    pages: DataFrame, wave: DataFrame, max_hops: int = 3
) -> DataFrame:
    """S4 redirect-follow (CommonAnalysis.java:163-206): httpClientGetHtml
    recursively re-fetches the Location header for 301/302/303/307 until a
    terminal response.  Spark shape: the recursion unrolls into `max_hops`
    broadcast joins — each hop joins the (tiny, ≤ wave-size) still-pending
    set against the pages table on the location url, so the 100 TB pages
    side never shuffles.  Returns (url, final_url, html, n_hops) for every
    wave url whose chain TERMINATES at a 200 within the hop budget; chains
    that dangle (location missing from the table) or still redirect after
    max_hops produce no row — the caller treats absence as a failed fetch,
    matching the reference's null return."""
    # null-safe: a NULL http_status must read as "not a redirect" — a bare
    # NULL predicate would drop the row from BOTH the done and pend branches
    # (NULL fails every filter), silently losing a fetchable page.
    is_red = F.coalesce(
        F.col("http_status").isin(*REDIRECT_STATUSES)
        & F.col("location").isNotNull(),
        F.lit(False),
    )
    base = pages.select("url", "html", "http_status", "location")
    cur = base.join(F.broadcast(wave.select("url")), "url", "left_semi").select(
        F.col("url").alias("orig_url"),
        F.col("url").alias("cur_url"),
        "html",
        "http_status",
        "location",
        F.lit(0).cast("int").alias("n_hops"),
    )
    done = cur.where(~is_red)
    pend = cur.where(is_red)
    for _ in range(max_hops):
        step = base.join(
            F.broadcast(
                pend.select(
                    "orig_url", F.col("location").alias("url"), "n_hops"
                )
            ),
            "url",
        ).select(
            "orig_url",
            F.col("url").alias("cur_url"),
            "html",
            "http_status",
            "location",
            (F.col("n_hops") + 1).cast("int").alias("n_hops"),
        )
        done = done.unionByName(step.where(~is_red))
        pend = step.where(is_red)
    return done.select(
        F.col("orig_url").alias("url"),
        F.col("cur_url").alias("final_url"),
        "html",
        "n_hops",
    )


FILTER_KINDS = {"bloom": ShardedBloom, "cuckoo": ShardedCuckoo}


def _wave_cols() -> dict:
    """run_wave's wave-invariant expressions (built once: FR.memo_expr)."""
    return {
        "parse": {
            "status": F.when(F.col("html").isNull(), -1).otherwise(1),
            "_parse": parse_page_udf(F.col("html"), F.col("url")),
        },
        "parsed": [
            F.col("status"),
            F.col("_parse.links").alias("links"),
            F.col("_parse.simhash").alias("simhash"),
        ],
        "settle_obs": [
            F.sum((F.col("status") < 0).cast("long")).alias("n_failed"),
            F.count(F.lit(1)).alias("n_popped"),
        ],
        "count": F.count(F.lit(1)).alias("n"),
        "n_cand": F.coalesce(F.sum(F.size("_arr")), F.lit(0)),
        # partition by (host, salt): host-locality for the politeness rank,
        # salt so a hot host (30%+ of a web crawl) cannot pin one partition
        "frontier_parts": [F.col("host"), F.pmod(F.xxhash64("url"), F.lit(8))],
    }


@dataclass
class CrawlConfig:
    wave_size: int = 1000
    max_depth: int | None = FR.DEFAULT_MAX_DEPTH
    default_budget: int | None = None  # per-host per-wave politeness cap
    min_weight: int | None = None  # priorityBottomLine (F10)
    use_bloom: bool = False
    # seen-set prefilter kind when use_bloom is on, a FILTER_KINDS key:
    # "bloom" (ShardedBloom, OR-mergeable deltas) or "cuckoo"
    # (ShardedCuckoo, 16-bit fingerprints) — the north rule names both
    filter_kind: str = "bloom"
    child_weight_expr: str | None = None  # SQL expr over `curl`, default 100
    n_partitions: int = 32  # state-table partitioning (host-hash at scale)
    # append-table compaction cadence: every Nth wave the seen/ref_edges
    # delta is written as a full OVERWRITE snapshot instead of an append,
    # bounding read amplification (a W-wave crawl otherwise unions W delta
    # dirs).  Amortized cost O(state/N) per wave; 0 disables.  The Iceberg
    # analogue is rewrite_data_files maintenance.
    compact_every: int = 64


class CrawlEngine:
    """Drives waves over (pages, robots) with snapshotted state."""

    def __init__(
        self,
        spark: SparkSession,
        store: SnapshotStore,
        pages: DataFrame,
        robots: DataFrame | None = None,
        config: CrawlConfig | None = None,
    ):
        self.spark = spark
        self.store = store
        self.pages = pages
        self.robots = robots
        self.cfg = config or CrawlConfig()
        if self.cfg.use_bloom and self.cfg.filter_kind not in FILTER_KINDS:
            raise ValueError(
                f"filter_kind {self.cfg.filter_kind!r} is not one of "
                f"{sorted(FILTER_KINDS)}"
            )
        self._sizes: dict[str, int] | None = None  # {"frontier": n, "seen": n}
        # incremental seen filter: built once (or on resume), then each
        # wave adds only its new-url delta; rebuilt when it is full
        # (amortized doubling)
        self._filter: SeenFilter | None = None

    # -- state ---------------------------------------------------------------
    def bootstrap(self, seeds: list[tuple[str, int]]) -> None:
        # F9 clearDb (UrlsDbManager.java:300-309): bootstrap means a NEW
        # crawl — truncate every state table first.  seen/ref_edges are
        # append-only, so without this a re-bootstrap over an existing
        # warehouse would dedup against the PREVIOUS crawl's seen rows.
        for t in ("frontier", "seen", "ref_edges", "wave_metrics"):
            self.store.truncate(t)
        f = FR.seeds_to_frontier(self.spark, seeds).cache()
        n_seeds = f.count()
        self.store.commit("frontier", f, wave=0)
        self.store.append("seen", FR.empty_seen(self.spark), wave=0)
        self.store.append(
            "ref_edges", self.spark.createDataFrame([], EDGES_SCHEMA), wave=0
        )
        self.store.log_row(
            "wave_metrics",
            {"wave": 0, "frontier_size": int(n_seeds), "seen_size": 0},
        )
        f.unpersist()
        self._sizes = {"frontier": int(n_seeds), "seen": 0}
        self._filter = None  # it holds the truncated crawl's urls

    @property
    def wave(self) -> int:
        return self.store.current_wave("frontier")

    def _load_sizes(self) -> dict[str, int]:
        if self._sizes is None:  # resume path: lineage carries the sizes
            rows = self.store.read_rows("wave_metrics")
            m = rows[-1] if rows else {}
            if rows and int(m.get("wave", -1)) == self.wave:
                self._sizes = {
                    "frontier": int(m.get("frontier_size", 0)),
                    "seen": int(m.get("seen_size", 0)),
                }
            else:
                # the metrics row for the committed wave is missing: run_wave
                # logs it before the frontier promote (the wave's commit
                # point), so only a bootstrap killed between its frontier
                # commit and log_row, or a lost row log, gets here.  The
                # lineage is broken: recount from the tables once.
                # O(state), odd-resume path only.
                self._sizes = {
                    "frontier": self.store.read("frontier").count(),
                    "seen": self.store.read("seen").count(),
                }
        return self._sizes

    def frontier(self) -> DataFrame:
        """Frontier view with referrer edges folded in (read-time merge)."""
        return FR.merge_referrers(
            self.store.read("frontier"), self.store.read("ref_edges")
        )

    def seen(self) -> DataFrame:
        """Seen-set view with referrer edges folded in (read-time merge)."""
        return FR.merge_referrers(
            self.store.read("seen"), self.store.read("ref_edges")
        )

    def metrics(self) -> DataFrame:
        fields = [f.name for f in METRICS_SCHEMA.fields]
        rows = [
            {k: r.get(k) for k in fields}
            for r in self.store.read_rows("wave_metrics")
            if r["wave"] > 0
        ]
        return self.spark.createDataFrame(rows, METRICS_SCHEMA) if rows else (
            self.spark.createDataFrame([], METRICS_SCHEMA)
        )

    def pop_log(self) -> DataFrame:
        """Pop-order log — a projection of the seen table (pop_rank rides
        the settled row; no separate per-wave write)."""
        return self.store.read("seen").select(
            F.col("settle_wave").alias("wave"), "pop_rank", "url"
        )

    # -- one wave --------------------------------------------------------------
    def _child_weight(self) -> Column | None:
        """The configured child-weight expression; None means
        make_candidates' DEFAULT_WEIGHT."""
        expr = self.cfg.child_weight_expr
        if not expr:
            return None
        return FR.memo_expr(("child_weight", expr), lambda: F.expr(expr))

    def run_wave(self) -> dict:
        t0 = time.time()
        wave = self.wave + 1
        # mid-wave-kill recovery: a wave commits seen delta → ref_edges
        # delta → metrics row → frontier, and the FRONTIER commit is the
        # wave's commit point (self.wave derives from it).  A kill between
        # commits leaves deltas (and the metrics row) ahead of the last
        # frontier commit; appends are not idempotent, so roll those back
        # before re-running the wave (tests/test_crawler.py mid-wave kill
        # cases).  The manifests say whether anything is ahead, so a retry
        # in the same process (a promote that raised) is covered too.
        dropped = [
            self.store.rollback_to_wave("seen", wave - 1),
            self.store.rollback_to_wave("ref_edges", wave - 1),
            self.store.rollback_rows_to_wave("wave_metrics", wave - 1),
        ]
        if any(dropped):
            # the lineage sizes and the filter delta are updated after the
            # seen promote, so they are stale exactly when something was
            # rolled back: drop both so they rebuild from disk
            self._sizes = None
            self._filter = None
        sizes = self._load_sizes()
        frontier = self.store.read("frontier")
        seen = self.store.read("seen")  # union of append deltas

        top = FR.pop_wave(
            frontier,
            self.cfg.wave_size,
            robots=self.robots,
            default_budget=self.cfg.default_budget,
            min_weight=self.cfg.min_weight,
        )
        # pop_wave's top-k compiles to TakeOrderedAndProject, which lands
        # the whole wave in ONE partition — spread it back out so the parse
        # UDF below uses every core, then cache (it feeds fetch, settle AND
        # removal)
        top = top.repartition(self.cfg.n_partitions).cache()
        # n_popped is NOT counted here: it rides the settle write's
        # observe() below, merging the pop job into the first write job —
        # one less Spark action per wave (the per-wave driver constant is
        # what caps full-loop scaling efficiency, BENCH/SUBMIT_SCALING.md).
        # The only lost fast path is the empty-pop wave, handled after the
        # write by rolling the (empty) delta back — termination-only cost.
        if sizes["frontier"] <= 0 and wave > 1:
            top.unpersist()
            return {"wave": wave, "n_popped": 0, "done": True}

        # fetch: the pages table is the 100 TB side — never shuffle it.
        # (1) broadcast-SEMI the wave into pages (build side = wave ✓;
        #     at cluster scale a bucketed/partitioned pages table makes this
        #     a pruned scan), then (2) left-join the tiny hit set back onto
        #     the wave (auto-broadcast: ≤ wave_size rows).
        # S4: when the pages table carries http_status/location, redirect
        # chains resolve first (bounded broadcast-join recursion); the html
        # a redirecting url yields is its terminal target's.
        if {"http_status", "location"}.issubset(set(self.pages.columns)):
            hits = resolve_redirects(self.pages, top).select("url", "html")
        else:
            hits = self.pages.select("url", "html").join(
                F.broadcast(top.select("url")), "url", "left_semi"
            )
        # join the hit set back onto the wave as a SHUFFLE join, not a
        # broadcast: both sides are O(wave) rows but hits carries html, and
        # broadcasting wave-sized html serializes through one driver thread
        # (and at cluster scale would ship O(wave) bytes to every
        # executor); shuffling it is parallel and O(wave) total.
        fetched = top.join(hits.hint("shuffle_hash"), "url", "left")
        # one Python crossing per page: links and simhash are two fields of
        # one struct, so each page's text is extracted once and only hashed
        c = FR.memo_expr(("wave_cols",), _wave_cols)
        keep = tuple(n for n in fetched.columns if n != "html")
        parsed = (
            fetched.withColumns(c["parse"])
            .select(
                *FR.memo_expr(("cols",) + keep, lambda: [F.col(n) for n in keep]),
                *c["parsed"],
            )
            .cache()
        )

        # F4: settle — append ONLY the wave delta (commit 1).  Delta writes
        # land as few files: a wave-sized table written as
        # shuffle-partition-many tiny files pays file-open cost for nothing.
        # n_failed rides the write as an observe() metric — counts no longer
        # cost extra jobs.  The few-files squeeze MUST be repartition(), not
        # coalesce(): coalesce propagates up to the nearest exchange, and the
        # nearest exchange above this write is the wave shuffle-hash join —
        # so coalesce(n_delta) would run the join stage that hosts the parse
        # pandas UDF (and fills the `parsed` cache) at n_delta tasks,
        # serializing the wave's dominant CPU onto one core at small
        # parallelism (measured: t_seen_append 35-46 s/wave at 2 cores,
        # full-loop N->4N efficiency capped at ~0.42).  repartition inserts
        # its own exchange: parse runs at join parallelism, only the parquet
        # encode runs at n_delta, and the extra shuffle is O(wave) rows of
        # already-parsed text — trivial next to the UDF work it unblocks.
        n_delta = max(1, self.cfg.n_partitions // 4)
        settled = FR.settle(parsed, None, wave)
        obs_settle = Observation(f"settle_w{wave}")
        seen_delta = settled.observe(obs_settle, *c["settle_obs"]).repartition(
            n_delta
        )

        # F2/F3: candidates → dedup-insert
        cand = FR.make_candidates(parsed, child_weight=self._child_weight())
        if self.robots is not None:
            cand = FR.robots_filter(cand, self.robots)

        # incremental: frontier ∪ seen only ever GROWS by each wave's
        # new rows, so the filter is built once (first wave / resume /
        # capacity overflow — amortized O(state) on doubling) and then
        # extended with O(wave) deltas below — never an O(state)
        # re-scan per wave
        if self.cfg.use_bloom and (self._filter is None or self._filter.full):
            est = 2 * (sizes["frontier"] + sizes["seen"]) + 1000
            self._filter = FILTER_KINDS[self.cfg.filter_kind].build(
                frontier.select("url").unionByName(seen.select("url")), "url", est
            )

        # ONE existence join per wave, to the state as committed before it
        # (the pop set is still in `frontier`): both dedup outputs derive
        # from the cached result, so the state side is shuffled once, in
        # the n_cand action below
        resolved = FR.resolve_attempts(
            cand, frontier, seen, bloom=self._filter
        ).cache()
        new_rows, edges = FR.dedup_insert(
            resolved, wave, max_depth=self.cfg.max_depth
        )
        obs_new = Observation(f"new_w{wave}")
        new_rows = new_rows.observe(obs_new, c["count"])
        frontier_rest = frontier.join(top.select("url"), "url", "left_anti")
        frontier_final = frontier_rest.unionByName(new_rows).repartition(
            self.cfg.n_partitions, *c["frontier_parts"]
        )

        # commits (atomic snapshot per table, per wave).  ALL THREE writes
        # STAGE concurrently — seen delta, ref_edges delta, frontier
        # overwrite — then PROMOTE (the microsecond manifest rename, the
        # real commit point) in recovery order seen → edges → metrics row →
        # frontier.  Safe: the three jobs share only the parsed/resolved
        # caches, which the n_cand action just before the pool fills on this
        # thread (no two writes race to build a cache, so the jobs per wave
        # are fixed); Spark's scheduler is thread-safe; a kill between promotes
        # leaves exactly the "delta ahead of the frontier commit point" case
        # the resume rollback already removes; a kill during staging leaves
        # no manifest change at all (orphan dirs are overwritten by the next
        # stage).
        # Overlapping all three hides two actions' planning + commit latency
        # — per-wave driver constants that executor count cannot reduce, the
        # full-loop N→4N scaling cap (BENCH/SUBMIT_SCALING.md).
        # repartition, not coalesce, for the deltas: coalesce would collapse
        # the parse/dedup-insert join stages feeding them to n_delta tasks;
        # delta rows are narrow, the exchange is cheap.
        from concurrent.futures import ThreadPoolExecutor

        n_cand = resolved.select(c["n_cand"]).first()[0]
        with ThreadPoolExecutor(max_workers=2) as pool:
            seen_fut = pool.submit(self.store.stage, "seen", seen_delta, "append")
            edges_fut = pool.submit(
                self.store.stage, "ref_edges", edges.repartition(n_delta), "append"
            )
            frontier_tok = self.store.stage("frontier", frontier_final, "overwrite")
            seen_tok = seen_fut.result()
            edges_tok = edges_fut.result()

        n_popped = _harvest(obs_settle, "n_popped", top.count)
        if n_popped == 0:
            # politeness/min-weight filtered the whole frontier: the crawl
            # is done.  Nothing was promoted — drop the staged dirs so a
            # resumed run re-decides cleanly.
            for tok in (seen_tok, edges_tok, frontier_tok):
                self.store.discard(tok)
            top.unpersist()
            parsed.unpersist()
            resolved.unpersist()
            return {"wave": wave, "n_popped": 0, "done": True}

        self.store.promote(seen_tok, wave)
        self.store.promote(edges_tok, wave)

        # harvest the observed counts (all fired by the writes above —
        # the whole wave normally runs the n_cand action + 3 writes,
        # nothing more; the fallbacks only trigger on empty-set waves)
        n_failed = _harvest(
            obs_settle, "n_failed", lambda: parsed.where(F.col("status") < 0).count()
        )
        n_new = _harvest(obs_new, "n", new_rows.count)

        # lineage sizes: pure arithmetic — never an O(state) recount
        sizes["seen"] += int(n_popped)
        sizes["frontier"] = sizes["frontier"] - int(n_popped) + int(n_new)

        # filter delta: add ONLY this wave's new urls (read back from the
        # staged frontier snapshot — a bounded-frontier scan, no shuffle)
        if self._filter is not None and n_new > 0:
            self._filter.add_df(
                self.store.read_staged(frontier_tok)
                .where(F.expr(f"discovery_wave = {wave}"))
                .select("url"),
                "url",
            )
        # per-partition lineage (north rule): how balanced is the frontier
        # across its partitions after the salted repartition?  Read from
        # the staged snapshot's parquet FOOTERS (one row-count per file
        # = per partition) — Iceberg-manifest-style metadata, zero jobs.
        max_part = _max_file_rows(frontier_tok["dir"])
        row = {
            "wave": wave,
            "n_popped": int(n_popped),
            "n_fetched": int(n_popped - n_failed),
            "n_failed": int(n_failed),
            "n_candidates": int(n_cand),
            "n_new": int(n_new),
            "frontier_size": sizes["frontier"],
            "seen_size": sizes["seen"],
            "max_partition_rows": max_part,
            "wall_s": time.time() - t0,
        }
        # the metrics row lands BEFORE the frontier promote (the wave's
        # commit point): a kill between the two leaves a row for an
        # uncommitted wave, which the resume rollback discards — the other
        # order would leave a committed wave with no row at all
        self.store.log_row("wave_metrics", row)
        self.store.promote(frontier_tok, wave)
        top.unpersist()
        parsed.unpersist()
        resolved.unpersist()

        # append-table compaction (Iceberg rewrite_data_files analogue):
        # every Nth wave, fold the accumulated deltas into one overwrite
        # snapshot so `read` unions O(n_partitions) files instead of O(W)
        # delta dirs.  Runs AFTER the wave's own reads/writes — the write
        # completes before _expire retires the now-dead delta dirs, so no
        # in-flight plan reads a deleted file.  Amortized O(state/N)/wave.
        if self.cfg.compact_every and wave % self.cfg.compact_every == 0:
            for t in ("seen", "ref_edges"):
                self.store.commit(
                    t,
                    self.store.read(t).repartition(self.cfg.n_partitions),
                    wave,
                )
        row["done"] = False
        return row

    def run(self, n_waves: int) -> list[dict]:
        out = []
        for _ in range(n_waves):
            r = self.run_wave()
            out.append(r)
            if r.get("done"):
                break
        return out
