"""The crawl wave loop (SURVEY.md §3.1 Spark rebuild) with checkpoint/resume.

Each wave (one snapshot set + a metrics row, committed together):

  wave_k:  top      = politeness-budgeted top-k of frontier        # F1+F10
           fetched  = pages ⋈ broadcast(top) on url                # S1..S4
           parsed   = links/simhash, one parse pandas UDF          # P4,P5,P12
           seen    += settled wave rows        (APPEND delta)      # F4
           cand     = explode(links) → canon → depth+1 → robots    # P1,F3
           resolved = attempts per url ⟕ frontier ∪ seen           # F2, once
           new,edges= dedup_insert(resolved, ...)                  # F2
           frontier = (frontier \\ top) ∪ new  (overwrite)         # F5
           ref_edges+= edges                   (APPEND delta)
           metrics += wave row                 (one row file)      # lineage
           commit   = ONE promote of the three staged snapshots

The pop log is a projection of seen (pop_rank rides the settled row).

"Fetching" a url is a join against the pages table per the input hint —
the wave side is broadcast (a wave is thousands of rows; the pages table is
the 100 TB side and is never shuffled: broadcast-hash-join streams it).

Writes: the seen-set, referrer edges and metrics are append-only (each
wave writes only its delta, cost ∝ wave size); only the frontier — the
bounded working set — is rewritten, at O(frontier).  Referrer
accumulation on existing rows (the reference's KEYEXIST path,
UrlsDbManager.java:555-580) therefore never rewrites the seen-set: edges
land in `ref_edges` and fold in at read time (frontier.merge_referrers).
State sizes are the store's per-snapshot row counts
(SnapshotStore.n_rows), never a re-count of O(state) tables.

State lives in a SnapshotStore whose one manifest rename per wave is the
commit point: a run killed anywhere resumes at the last committed wave
(test: kill-at-every-commit-boundary in tests/test_crawler.py).
"""

from __future__ import annotations

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
        "n_failed": F.sum((F.col("status") < 0).cast("long")).alias("n_failed"),
        "n_cand": F.coalesce(F.sum(F.size("_arr")), F.lit(0)),
        # partition by (host, salt): host-locality for the politeness rank,
        # salt so a hot host (30%+ of a web crawl) cannot pin one partition
        "frontier_parts": [F.col("host"), F.pmod(F.xxhash64("url"), F.lit(8))],
    }


@dataclass
class CrawlConfig:
    wave_size: int = 1000
    max_depth: int | None = FR.DEFAULT_MAX_DEPTH
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
        # incremental seen filter: built once (or on resume), then each
        # wave adds only its new-url delta; rebuilt when it is full
        # (amortized doubling)
        self._filter: SeenFilter | None = None

    # -- state ---------------------------------------------------------------
    def bootstrap(self, seeds: list[tuple[str, int]]) -> None:
        # F9 clearDb (UrlsDbManager.java:300-309): bootstrap means a NEW
        # crawl — truncate the store first.  seen/ref_edges are append-only,
        # so without this a re-bootstrap over an existing warehouse would
        # dedup against the PREVIOUS crawl's seen rows.  Wave 0 commits like
        # any wave: three stages, one promote.
        self.store.truncate()
        self._filter = None  # it holds the truncated crawl's urls
        self.store.promote(
            [
                self.store.stage(
                    "frontier", FR.seeds_to_frontier(self.spark, seeds), "overwrite"
                ),
                self.store.stage("seen", FR.empty_seen(self.spark), "append"),
                self.store.stage(
                    "ref_edges", self.spark.createDataFrame([], EDGES_SCHEMA), "append"
                ),
            ],
            wave=0,
        )

    @property
    def wave(self) -> int:
        return self.store.wave

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
        return self.spark.createDataFrame(
            [tuple(r[k] for k in fields) for r in self.store.read_rows("wave_metrics")],
            METRICS_SCHEMA,
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
        # state sizes are the store's per-snapshot row counts: no job
        n_frontier = self.store.n_rows("frontier")
        if n_frontier == 0:
            return {"wave": wave, "n_popped": 0, "done": True}
        n_seen = self.store.n_rows("seen")
        frontier = self.store.read("frontier")
        seen = self.store.read("seen")  # union of append deltas

        top = FR.pop_wave(frontier, self.cfg.wave_size, robots=self.robots)
        # pop_wave's top-k compiles to TakeOrderedAndProject, which lands
        # the whole wave in ONE partition — spread it back out so the parse
        # UDF below uses every core, then cache (it feeds fetch, settle AND
        # removal)
        top = top.repartition(self.cfg.n_partitions).cache()
        # n_popped is NOT counted here: the staged seen delta records it
        # (one settled row per popped url), so the pop costs no action of
        # its own (the per-wave driver constant is what caps full-loop
        # scaling efficiency, BENCH/SUBMIT_SCALING.md).  A wave whose
        # politeness budgets pop nothing is caught after the writes, by
        # discarding the (empty) staged snapshots — termination-only cost.

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
        seen_delta = settled.observe(obs_settle, c["n_failed"]).repartition(
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
            est = 2 * (n_frontier + n_seen) + 1000
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
        frontier_rest = frontier.join(top.select("url"), "url", "left_anti")
        frontier_final = frontier_rest.unionByName(new_rows).repartition(
            self.cfg.n_partitions, *c["frontier_parts"]
        )

        # the wave's commit: ALL THREE writes STAGE concurrently — seen
        # delta, ref_edges delta, frontier overwrite — then ONE promote (the
        # store manifest's rename) lands them together.  Safe: the three
        # jobs share only the parsed/resolved caches, which the n_cand action
        # just before the pool fills on this thread (no two writes race to
        # build a cache, so the jobs per wave are fixed); Spark's scheduler
        # is thread-safe; a kill during staging changes no manifest (orphan
        # dirs are deleted by the next promote).
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

        n_popped = seen_tok["n_rows"]
        if n_popped == 0:
            # the politeness budgets filtered out the whole frontier: the
            # crawl is done.  Nothing was promoted — drop the staged dirs so a
            # resumed run re-decides cleanly.
            for tok in (seen_tok, edges_tok, frontier_tok):
                self.store.discard(tok)
            top.unpersist()
            parsed.unpersist()
            resolved.unpersist()
            return {"wave": wave, "n_popped": 0, "done": True}

        # the settle write fired the observation.  Its subtree holds the
        # n_popped > 0 settled rows, so AQE cannot have replaced it with an
        # empty relation (which would drop the metric)
        n_failed = obs_settle.get["n_failed"]
        # the frontier overwrite is (frontier \ top) ∪ new, and top ⊆ frontier
        n_new = frontier_tok["n_rows"] - (n_frontier - n_popped)

        # max_partition_rows (north rule): how balanced is the frontier
        # across its partitions after the salted repartition?  The staged
        # snapshot recorded its largest file's row count (one file per
        # partition) from the parquet footers — zero jobs.
        row = {
            "wave": wave,
            "n_popped": n_popped,
            "n_fetched": n_popped - n_failed,
            "n_failed": n_failed,
            "n_candidates": int(n_cand),
            "n_new": n_new,
            "frontier_size": frontier_tok["n_rows"],
            "seen_size": n_seen + n_popped,
            "max_partition_rows": frontier_tok["max_file_rows"],
            "wall_s": time.time() - t0,
        }
        # the row lands before the promote, as its own file: a kill between
        # the two leaves a row of an uncommitted wave, which readers skip
        # and the wave's re-run replaces
        self.store.log_row("wave_metrics", row)
        try:
            self.store.promote([seen_tok, edges_tok, frontier_tok], wave)
            # filter delta: add ONLY this wave's new urls (read back from
            # the frontier snapshot — a bounded-frontier scan, no shuffle)
            if self._filter is not None and n_new > 0:
                self._filter.add_df(
                    self.store.read_staged(frontier_tok)
                    .where(F.expr(f"discovery_wave = {wave}"))
                    .select("url"),
                    "url",
                )
        except BaseException:
            # the rename may or may not have landed, and the delta may be
            # half added: rebuild the filter from the committed tables
            self._filter = None
            raise
        top.unpersist()
        parsed.unpersist()
        resolved.unpersist()

        # append-table compaction (Iceberg rewrite_data_files analogue):
        # every Nth wave, fold the accumulated deltas into one overwrite
        # snapshot so `read` unions O(n_partitions) files instead of O(W)
        # delta dirs.  Runs AFTER the wave's own reads/writes — the writes
        # complete before the promote deletes the now-dead delta dirs, so
        # no in-flight plan reads a deleted file.  It changes no state, so a
        # kill in it leaves the committed wave as it was.  Amortized
        # O(state/N)/wave.
        if self.cfg.compact_every and wave % self.cfg.compact_every == 0:
            self.store.promote(
                [
                    self.store.stage(
                        t,
                        self.store.read(t).repartition(self.cfg.n_partitions),
                        "overwrite",
                    )
                    for t in ("seen", "ref_edges")
                ],
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
