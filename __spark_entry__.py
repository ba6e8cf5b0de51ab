"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs each
``queries()[name]`` at sf=0.01 and compares it against the matching
``oracle_sql()[name]`` via DuckDB (row-count + schema + order-insensitive
value-hash → CORRECTNESS_r{N}.json).

The catalog lives in :mod:`bingcrawler_spark.driver_queries` — one entry
per implemented operator from SURVEY.md §2 (frontier algebra, sources
incl. S4 redirects, parsers incl. the P7/P8 DOM walkers, analytics,
robots parsing) plus the training-data pipeline operators (dedup /
similarity / text-stats / multimodal / event windows).  Entries without
an oracle (crawl_3waves, p12_simhash64) are the genuinely
non-SQL-expressible ops — the wave loop and the Python-2-hash-clone
SimHash — checked instead by tests/test_parity.py and tests/test_simhash.py.
"""

from __future__ import annotations

import os
import sys
import warnings
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from bingcrawler_spark import driver_queries as DQ  # noqa: E402


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: a 3-wave politeness-budgeted crawl (pop log + settle
    outcomes) — the end-to-end path every SURVEY §2.1 operator feeds."""
    return DQ.crawl_3waves(spark, "/root/testdata/sf0.001")


# Run-order policy (VERDICT r3 task 1): the driver checks only the first
# ~50 catalog entries per round, so the order ROTATES itself from the
# CORRECTNESS_r*.json files committed in the repo root — queries verified
# in the FEWEST prior rounds go first (never-checked ones lead), so every
# round's window covers the least-verified remainder and the union
# converges to the full catalog without a hand-maintained list.
# crawl_3waves (rows-only, the wall-clock long pole, and already smoke-run
# via entry()) goes LAST.


def _rounds_checked() -> dict[str, float]:
    """query name -> verification weight across prior driver rounds: a
    value-hash-green row counts 1, a rows-only green row counts 0.5 (it
    IS driver coverage, but the weaker kind — so a query whose oracle was
    upgraded since its rows-only check sorts ahead of fully-verified
    peers and gets its value-hash row at the next opportunity)."""
    import glob
    import json

    here = os.path.dirname(os.path.abspath(__file__))
    counts: dict[str, float] = {}
    for path in glob.glob(os.path.join(here, "CORRECTNESS_r*.json")):
        try:
            with open(path) as f:
                rows = json.load(f)
        except (OSError, ValueError):
            continue
        if not isinstance(rows, dict):
            continue
        for name, row in rows.items():
            if not isinstance(row, dict):
                continue
            if row.get("rows_match") and not row.get("err"):
                counts[name] = counts.get(name, 0) + 1
            elif row.get("err") == "no_oracle" and (row.get("spark_rows") or 0) > 0:
                # rows-only green (the no-oracle ops, or an op whose
                # oracle landed in a later round)
                counts[name] = counts.get(name, 0) + 0.5
            else:
                counts.setdefault(name, 0)
    return counts


def _ordered(d: dict) -> dict:
    seen_rounds = _rounds_checked()
    body = sorted(
        (k for k in d if k != "crawl_3waves"),
        key=lambda k: (seen_rounds.get(k, 0), k),
    )
    tail = [k for k in ("crawl_3waves",) if k in d]
    return {k: d[k] for k in body + tail}


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return _ordered(dict(DQ.QUERIES))


def oracle_sql() -> dict[str, str]:
    # ORACLES values may be zero-arg callables (literal tables precomputed
    # in Python over the gate corpus, e.g. ts_compression's zlib VALUES) —
    # resolve them to plain SQL strings here, at contract-build time.  A
    # callable that fails (its corpus file is missing or unreadable) drops
    # only its own entry: that query falls back to a rows-only check
    # instead of taking the whole contract down.
    out = {}
    for k, v in DQ.ORACLES.items():
        if not callable(v):
            out[k] = v
            continue
        try:
            out[k] = v()
        except Exception as e:
            warnings.warn(f"oracle for {k} unavailable, rows-only: {e!r}")
    return _ordered(out)
