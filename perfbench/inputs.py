"""Crawl inputs, generated once per checkout and cached as parquet.

The pages and robots tables stand in for the pages table the engine reads
in production (an Iceberg table there, a parquet directory here), so the
engine is handed ``spark.read.parquet(...)`` exactly as it would be.  The
analytics workload needs no generation: it reads a copy of the ``sf0.01``
test tables kept in ``perfbench/sf0.01`` (TESTDATA.md).

Generation belongs to no metric: it runs before the timed set-up starts,
and a later run of the same workload reuses the cache.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil

import pandas as pd

# bump when the generator code changes (the cache key covers the page
# generator's parameters), so a stale cache is never reused
CACHE_VERSION = 1


def cache_dir(root: str, wl: dict) -> str:
    """The workload's cache directory, keyed by its generator parameters
    so a changed workload never reads a stale cache."""
    gen = [CACHE_VERSION] + [wl[k] for k in ("n_pages", "n_hosts", "n_words")]
    key = json.dumps(gen).encode()
    return os.path.join(root, f"{wl['name']}-{hashlib.sha256(key).hexdigest()[:12]}")


def _publish(tmp: str, final: str) -> None:
    """Rename a finished directory into place, so an interrupted
    generation never leaves a half-written cache behind."""
    if os.path.isdir(final):
        shutil.rmtree(tmp, ignore_errors=True)
        return
    os.replace(tmp, final)


def oracle_parse(pdf: pd.DataFrame) -> pd.DataFrame:
    """Pure-Python oracle parse of each page: the SimHash and the link list
    exactly as ``OracleCrawl.run_wave`` computes them."""
    from bingcrawler_spark.functions.extract import py_extract_links, py_extract_text
    from bingcrawler_spark.functions.simhash import py_simhash64, to_signed64

    sims, links = [], []
    for url, html in zip(pdf["url"], pdf["html"]):
        html = bytes(html)
        sims.append(to_signed64(py_simhash64(py_extract_text(html))))
        links.append(py_extract_links(html.decode("utf-8", "replace"), url))
    return pd.DataFrame({"url": pdf["url"], "simhash": sims, "links": links})


def ensure_crawl_inputs(spark, root: str, wl: dict) -> str:
    """Pages + robots parquet for one crawl workload, plus the oracle's
    parse of every page (computed on all cores with the same pure-Python
    functions the oracle calls, so the per-run oracle replay costs only
    its frontier logic)."""
    from pyspark.sql import types as T

    from bingcrawler_spark.synth import robots_df, synth_pages_df

    final = cache_dir(root, wl)
    if os.path.isdir(final):
        return final
    tmp = final + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    n_pages, n_hosts = wl["n_pages"], wl["n_hosts"]
    pages = synth_pages_df(spark, n_pages, n_hosts, n_words=wl["n_words"])
    pages.write.parquet(os.path.join(tmp, "pages"))
    robots_df(spark, n_hosts).coalesce(1).write.parquet(os.path.join(tmp, "robots"))
    schema = T.StructType(
        [
            T.StructField("url", T.StringType()),
            T.StructField("simhash", T.LongType()),
            T.StructField("links", T.ArrayType(T.StringType())),
        ]
    )
    (
        spark.read.parquet(os.path.join(tmp, "pages"))
        .select("url", "html")
        .mapInPandas(lambda it: (oracle_parse(p) for p in it), schema)
        .write.parquet(os.path.join(tmp, "oracle_parse"))
    )
    _publish(tmp, final)
    return final
