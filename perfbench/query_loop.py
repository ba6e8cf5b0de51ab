"""Analytics workload: a closed loop over catalog queries, each run to a
collected result and checked against its DuckDB oracle by row count and
order-insensitive value hash (``tools/gatecheck.py`` semantics)."""

from __future__ import annotations

import hashlib
import random
import statistics
import sys
import time
import traceback
from contextlib import contextmanager, nullcontext

import duckdb

from bingcrawler_spark import driver_queries as DQ

import tracing

# The query set, each mapped to the engine module whose operator it runs
# (that names its per-layer metrics): the frontier pop plus one query per
# analytics module, so a warm pass over sf0.01 takes ~5 s on 4 cores.
# NOTES.md lists what was left out and why.
QUERY_LAYER = {
    "f1_frontier_pop": "frontier",
    "r10_keyword_cooccurrence": "analytics",
    "dd_semdedup": "dataops.similarity",
    "gr_host_pagerank": "graph",
    "ix_bm25_search": "indexing",
}

TABLES = ["customer", "orders", "nation", "documents", "embeddings"]

# untimed passes before the timed loop: the first compiles every query's
# plans, the second lets the JIT settle (a second pass still runs 10-25%
# slower than the third)
WARM_PASSES = 2


def _norm_cell(v) -> str:
    if v is None:
        return "<null>"
    if isinstance(v, float):
        return f"{v:.6g}"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_norm_cell(x) for x in v) + "]"
    return str(v)


def value_hash(cols: list[str], rows: list[tuple]) -> str:
    """Order-insensitive hash: columns sorted by name, rows sorted, values
    stringified — the same rule as ``tools/gatecheck.value_hash``."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted("\x1f".join(_norm_cell(r[i]) for i in order) for r in rows)
    h = hashlib.sha256()
    for ln in lines:
        h.update(ln.encode())
        h.update(b"\n")
    return h.hexdigest()[:16]


def metric_names() -> list[str]:
    """The per-query per-layer metrics, ``<module>.<query>.<what>``."""
    return [f"{QUERY_LAYER[q]}.{q}.{k}" for q in QUERY_LAYER for k in ("share", "jobs", "shuffle_bytes")]


class QueryRun:
    def __init__(self, spark, wl: dict, seed: int, data_dir: str, cores: int):
        self.spark = spark
        self.data_dir = data_dir
        self.cores = cores
        self.queries = list(QUERY_LAYER)
        random.Random(seed).shuffle(self.queries)
        self.expected: dict[str, tuple[int, str]] = {}
        self.results: list[tuple[str, int, str]] = []
        self._spans: tracing.Spans | None = None

    def _oracle(self) -> None:
        """DuckDB answers for every query, computed once per invocation."""
        con = duckdb.connect()
        try:
            for t in TABLES:
                con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{self.data_dir}/{t}.parquet'")
            for q in self.queries:
                res = con.sql(DQ.ORACLES[q])
                rows = res.fetchall()
                self.expected[q] = (len(rows), value_hash(res.columns, rows))
        finally:
            con.close()

    def run_query(self, q: str) -> tuple[list[str], list[tuple]]:
        """One op: the query run to a collected result."""
        span = self._spans.span(f"{QUERY_LAYER[q]}.{q}") if self._spans else nullcontext()
        with span:
            df = DQ.QUERIES[q](self.spark, self.data_dir)
            return df.columns, [tuple(r) for r in df.collect()]

    def warm_up(self) -> None:
        """``WARM_PASSES`` untimed passes, so the timed passes measure
        query work, not plan compilation and JIT warm-up.  Their results
        are checked too."""
        self.loop(0, passes=WARM_PASSES)

    def setup(self) -> None:
        """Input registration: resolve every table's files and schema."""
        for t in TABLES:
            self.spark.read.parquet(f"{self.data_dir}/{t}.parquet").schema

    @contextmanager
    def traced(self, spans: tracing.Spans, last: dict):
        self._spans = spans
        try:
            yield
        finally:
            self._spans = None

    def trace_overhead(self, res: dict, spans: tracing.Spans) -> float:
        """(traced − untraced) ÷ untraced wall of one more pass each: first
        with spans and the UDF profiler off, then on.  The event log stays
        on for both."""
        profiler = "spark.sql.pyspark.udf.profiler"
        self.spark.conf.unset(profiler)
        untraced = self.loop(0, passes=1)["wall_s"]
        self.spark.conf.set(profiler, "perf")
        with self.traced(spans, {}):
            traced = self.loop(0, passes=1)["wall_s"]
        return (traced - untraced) / untraced

    def loop(self, seconds: float, min_ops: int = 1, passes: int | None = None) -> dict:
        """Closed loop of whole passes over the query set: the next query
        starts when the previous one's result is collected.  Runs passes
        until ``seconds`` have passed and at least ``min_ops`` passes have
        run, or exactly ``passes`` passes.
        ``walls`` holds one wall per pass, the sum of its query walls;
        ``items`` counts the queries."""
        walls: list[float] = []
        pass_walls: list[float] = []
        t0 = time.time()
        while True:
            start = len(walls)
            for q in self.queries:
                t = time.time()
                try:
                    cols, rows = self.run_query(q)
                except Exception:  # a failed op: counted, and the loop goes on
                    traceback.print_exc(file=sys.stderr)
                    self.results.append((q, -1, "raised"))
                    continue
                finally:
                    walls.append(time.time() - t)
                # hashing is the check, not the op: it runs off the op's clock
                self.results.append((q, len(rows), value_hash(cols, rows)))
                self.spark.catalog.clearCache()  # release per-query persists
            pass_walls.append(sum(walls[start:]))
            if (passes is not None and len(pass_walls) >= passes) or (
                passes is None and time.time() - t0 >= seconds and len(pass_walls) >= min_ops
            ):
                break
        return {"wall_s": sum(walls), "walls": pass_walls, "query_walls": walls, "items": len(walls)}

    def check(self, res: dict) -> tuple[int, int]:
        """(query runs, runs that raised or whose row count or value hash
        differs from the oracle's)."""
        if not self.expected:
            self._oracle()
        return len(self.results), sum(1 for q, n, h in self.results if (n, h) != self.expected[q])

    def layer_metrics(self, res: dict, spans: tracing.Spans, by_span: dict, last: dict, udf: dict) -> dict:
        """Per-query share of the timed passes' wall, Spark jobs and
        shuffle bytes, plus the per-query Spark profile averages."""
        recs = spans.records
        names = {f"{QUERY_LAYER[q]}.{q}" for q in self.queries}
        ops = [r for r in recs if r["name"] in names and r["end"] is not None]
        # the timed passes: after the warm-up passes, before the overhead ones
        n, k = len(res["query_walls"]), len(self.queries) * WARM_PASSES
        ops = ops[k : k + n]
        profs = [tracing.op_profile(recs, by_span, o, self.cores) for o in ops]
        total = sum(p["wall_s"] for p in profs)
        m = {}
        for q in self.queries:
            base = f"{QUERY_LAYER[q]}.{q}"
            mine = [p for o, p in zip(ops, profs) if o["name"] == base]
            m[f"{base}.share"] = sum(p["wall_s"] for p in mine) / total
            m[f"{base}.jobs"] = statistics.mean(p["jobs"] for p in mine)
            m[f"{base}.shuffle_bytes"] = statistics.mean(p["shuffle_bytes"] for p in mine)
        m["functions.udf_calls_per_page"] = 0  # no crawled pages here
        m.update(tracing.op_metrics(profs))
        return m

    def summary(self, res: dict) -> str:
        return (
            f"pass_walls={[round(w, 3) for w in res['walls']]} order={self.queries} "
            f"query_walls={[round(w, 3) for w in res['query_walls']]}"
        )
