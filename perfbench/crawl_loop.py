"""The crawl workload: a closed loop of ``CrawlEngine.run_wave`` calls,
checked against ``OracleCrawl`` on the same pages, robots and config."""

from __future__ import annotations

import hashlib
import os
import random
import statistics
import sys
import time
import traceback
from unittest import mock

import pyarrow.parquet as pq

from bingcrawler_spark import frontier as FR
from bingcrawler_spark import oracle as oracle_mod
from bingcrawler_spark.bloom import ShardedBloom
from bingcrawler_spark.crawler import CrawlConfig, CrawlEngine
from bingcrawler_spark.functions.simhash import to_unsigned64
from bingcrawler_spark.oracle import OracleCrawl
from bingcrawler_spark.statestore import SnapshotStore
from bingcrawler_spark.synth import page_exists, page_url, robots_rows

import tracing


def metric_names() -> list[str]:
    """The crawl-only per-layer metrics (``layer_metrics`` also returns
    the ``op.*`` and ``functions.*`` ones every workload has)."""
    return [
        "frontier.candidates_per_popped", "frontier.new_per_candidate",
        "frontier.fetch_ok_ratio", "frontier.partition_skew",
        "bloom.builds_per_run", "bloom.filter_bytes", "bloom.build_share",
        "bloom.add_df_share", "statestore.stage_share",
        "statestore.promote_share", "statestore.read_share",
        "statestore.bytes_written_per_url", "statestore.live_snapshot_dirs",
    ]


def seed_sample(wl: dict, seed: int) -> list[tuple[str, int]]:
    """The bootstrap seeds: ``n_seeds`` existing, robots-allowed pages
    drawn by the CLI seed, with weights 90-110 (so the seed also sets the
    pop order)."""
    rng = random.Random(seed)
    n_pages, n_hosts = wl["n_pages"], wl["n_hosts"]
    ids = [i for i in range(n_pages) if page_exists(i, n_pages) and "/private/" not in page_url(i, n_hosts)]
    return [(page_url(i, n_hosts), 90 + rng.randrange(21)) for i in rng.sample(ids, wl["n_seeds"])]


def _du(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs
    )


def _snapshot_dirs(warehouse: str) -> int:
    return sum(
        1
        for t in os.listdir(warehouse)
        if os.path.isdir(os.path.join(warehouse, t))
        for s in os.listdir(os.path.join(warehouse, t))
        if s.startswith("snap-")
    )


class CrawlRun:
    def __init__(self, spark, wl: dict, seed: int, data_dir: str, work_dir: str, cores: int):
        self.spark = spark
        self.wl = wl
        self.seed = seed
        self.data_dir = data_dir
        self.work_dir = work_dir
        self.cores = cores
        self.seeds = seed_sample(wl, seed)
        self._n_stores = 0

    def _engine(self) -> CrawlEngine:
        """Register the inputs and bootstrap a fresh crawl."""
        self._n_stores += 1
        store = SnapshotStore(self.spark, os.path.join(self.work_dir, f"wh{self._n_stores}"))
        pages = self.spark.read.parquet(os.path.join(self.data_dir, "pages"))
        robots = self.spark.read.parquet(os.path.join(self.data_dir, "robots"))
        cfg = CrawlConfig(
            wave_size=self.wl["wave_size"],
            use_bloom=self.wl["use_bloom"],
            n_partitions=self.cores,
        )
        eng = CrawlEngine(self.spark, store, pages, robots, cfg)
        eng.bootstrap(self.seeds)
        return eng

    def setup(self) -> None:
        """Input registration and bootstrap (the repeated part of set-up)."""
        self.eng = self._engine()

    def warm_up(self) -> None:
        """The crawl's first wave, untimed: it starts the Python workers and
        compiles the wave's plans (~2x a warm wave's wall).  It is checked
        with the timed waves."""
        self.warm_rows = [self.eng.run_wave()]
        self.bytes_before_loop = _du(self.eng.store.warehouse)

    def traced(self, spans: tracing.Spans, last: dict):
        return tracing.instrumented(spans, self.TRACE_TARGETS, last)

    def trace_overhead(self, res: dict, spans: tracing.Spans) -> float:
        """(traced − untraced) ÷ untraced wall of the timed waves: they run
        again, from a fresh bootstrap and an untimed first wave, with spans
        and the UDF profiler off.  The event log cannot be switched off in
        a running session, so its cost is in neither side."""
        self.spark.conf.unset("spark.sql.pyspark.udf.profiler")
        eng = self._engine()
        eng.run_wave()
        untraced = self.loop(0, eng=eng, n_waves=len(res["rows"]))["wall_s"]
        return (res["wall_s"] - untraced) / untraced

    def loop(
        self, seconds: float, min_ops: int = 1, eng: CrawlEngine | None = None,
        n_waves: int | None = None,
    ) -> dict:
        """Closed loop: the next wave starts when the previous returns.
        Runs until ``seconds`` have passed and at least ``min_ops`` waves
        have run, or exactly ``n_waves`` waves.  ``items`` counts the URLs
        popped."""
        eng = eng or self.eng
        rows, walls = [], []
        t0 = time.time()
        while True:
            t = time.time()
            try:
                row = eng.run_wave()
            except Exception:  # a failed op ends the crawl; check counts it
                traceback.print_exc(file=sys.stderr)
                row = {"raised": True}
            walls.append(time.time() - t)
            rows.append(row)
            if row.get("done") or row.get("raised"):
                break
            if n_waves is not None:
                if len(rows) >= n_waves:
                    break
            elif time.time() - t0 >= seconds and len(rows) >= min_ops:
                break
        return {
            "wall_s": time.time() - t0,
            "walls": walls,
            "rows": rows,
            "items": sum(r.get("n_popped", 0) for r in rows),
        }

    # ------------------------------------------------------------ check

    def check(self, res: dict) -> tuple[int, int]:
        """Replay every wave (the warm-up wave too) in ``OracleCrawl`` and
        compare each wave's pop-log and settled seen rows.  Returns (waves
        checked, waves whose output differs); a wave that found the
        frontier empty counts as differing, since no workload is sized to
        exhaust it, and so does a wave that raised."""
        rows = self.warm_rows + res["rows"]
        n_waves = len(rows)
        o = self._oracle(n_waves)
        spark_log, oracle_log = {}, {}
        for r in self.eng.pop_log().collect():
            spark_log.setdefault(r["wave"], []).append((r["pop_rank"], r["url"]))
        for w, rank, url in o.pop_log:
            oracle_log.setdefault(w, []).append((rank, url))
        spark_seen, oracle_seen = {}, {}
        for r in self.eng.seen().collect():
            t = (
                r["url"], r["host"], r["weight"], r["depth"], r["discovery_wave"],
                tuple(r["referrers"]), tuple(sorted((r["messages"] or {}).items())),
                r["status"], r["simhash"], r["settle_wave"],
            )
            spark_seen.setdefault(r["settle_wave"], set()).add(t)
        for t in o.seen_tuples():
            oracle_seen.setdefault(t[-1], set()).add(t)
        failed = 0
        for w in range(1, n_waves + 1):
            same = sorted(spark_log.get(w, [])) == sorted(oracle_log.get(w, [])) and (
                spark_seen.get(w, set()) == oracle_seen.get(w, set())
            )
            if not same or rows[w - 1].get("done") or rows[w - 1].get("raised"):
                failed += 1
        self.digests = {
            "pop_log": _digest(sorted(o.pop_log)),
            "seen": _digest(sorted(map(repr, o.seen_tuples()))),
        }
        return n_waves, failed

    def _oracle(self, n_waves: int) -> OracleCrawl:
        """``OracleCrawl`` with its three parse calls served from the
        oracle-parse table (``inputs.oracle_parse``: the same pure-Python
        functions, run once per checkout).  A page's ``html`` is replaced by
        a handle, its url as bytes; the frontier logic runs unchanged."""
        tbl = pq.read_table(os.path.join(self.data_dir, "oracle_parse")).to_pydict()
        sim = {u.encode(): to_unsigned64(s) for u, s in zip(tbl["url"], tbl["simhash"])}
        links = dict(zip(tbl["url"], tbl["links"]))
        robots = {
            r["host"]: (r["disallow_prefixes"], r["crawl_budget"])
            for r in robots_rows(self.wl["n_hosts"])
        }
        o = OracleCrawl({u: u.encode() for u in tbl["url"]}, robots, max_depth=FR.DEFAULT_MAX_DEPTH)
        o.bootstrap(self.seeds)
        with mock.patch.multiple(
            oracle_mod,
            py_extract_text=lambda handle: handle,
            py_simhash64=lambda handle: sim[handle],
            py_extract_links=lambda _html, url: list(links[url]),
        ):
            o.run(n_waves, self.wl["wave_size"])
        return o

    # ------------------------------------------------------------ trace

    TRACE_TARGETS = [
        (CrawlEngine, "run_wave", "crawler.run_wave"),
        (SnapshotStore, "stage", "statestore.stage"),
        (SnapshotStore, "promote", "statestore.promote"),
        (SnapshotStore, "read", "statestore.read"),
        (SnapshotStore, "log_row", "statestore.log_row"),
        (ShardedBloom, "build", "bloom.build"),
        (ShardedBloom, "add_df", "bloom.add_df"),
        (FR, "pop_wave", "frontier.pop_wave"),
        (FR, "dedup_insert", "frontier.dedup_insert"),
    ]

    def layer_metrics(self, res: dict, spans: tracing.Spans, by_span: dict, last: dict, udf: dict) -> dict:
        """Per-layer metrics of the timed waves.  The Bloom build ones count
        the warm-up wave too: the filter is built in the first wave and
        rebuilt only when it overflows, which a timed wave may never see."""
        recs = spans.records
        all_waves = spans.named("crawler.run_wave")
        waves = all_waves[-len(res["rows"]):]

        def wave_of(r: dict, among: list[dict]) -> int | None:
            ids = {w["id"] for w in among}
            p = r["parent"]
            while p is not None and p not in ids:
                p = recs[p]["parent"]
            return p

        def share(name: str, among: list[dict] = waves) -> float:
            # union per wave: a wave's three stage() calls overlap
            per_wave: dict[int, list] = {}
            for r in spans.named(name):
                w = wave_of(r, among)
                if w is not None:
                    per_wave.setdefault(w, []).append((r["start"], r["end"]))
            wall = sum(w["end"] - w["start"] for w in among)
            return sum(tracing.union_s(v) for v in per_wave.values()) / wall

        rows = [r for r in res["rows"] if not r.get("done")]
        popped = res["items"]
        cands = sum(r["n_candidates"] for r in rows)
        ops = [tracing.op_profile(recs, by_span, w, self.cores) for w in waves]
        bloom = last.get("bloom.build")
        m = {
            "frontier.candidates_per_popped": cands / popped,
            "frontier.new_per_candidate": sum(r["n_new"] for r in rows) / cands,
            "frontier.fetch_ok_ratio": sum(r["n_fetched"] for r in rows) / popped,
            "frontier.partition_skew": statistics.mean(
                r["max_partition_rows"] * self.cores / r["frontier_size"] for r in rows
            ),
            "bloom.builds_per_run": sum(
                wave_of(r, all_waves) is not None for r in spans.named("bloom.build")
            ),
            "bloom.filter_bytes": sum(len(s) for s in bloom.shards) if bloom else 0,
            "bloom.build_share": share("bloom.build", all_waves),
            "bloom.add_df_share": share("bloom.add_df"),
            "statestore.stage_share": share("statestore.stage"),
            "statestore.promote_share": share("statestore.promote"),
            "statestore.read_share": share("statestore.read"),
            "statestore.bytes_written_per_url": (
                _du(self.eng.store.warehouse) - self.bytes_before_loop
            ) / popped,
            "statestore.live_snapshot_dirs": _snapshot_dirs(self.eng.store.warehouse),
            # per-row kernel calls inside the parse UDFs, per popped url
            "functions.udf_calls_per_page": sum(
                udf["calls"].get(k, 0)
                for k in ("py_extract_text", "py_extract_links", "py_simhash64")
            ) / popped,
        }
        m.update(tracing.op_metrics(ops))
        return m

    def summary(self, res: dict) -> str:
        return (
            f"waves={len(res['rows'])} popped={res['items']} "
            f"wave_walls={[round(w, 3) for w in res['walls']]} "
            f"pop_log_digest={self.digests['pop_log']} seen_digest={self.digests['seen']}"
        )


def _digest(items) -> str:
    h = hashlib.sha256()
    for x in items:
        h.update(repr(x).encode())
    return h.hexdigest()[:16]
