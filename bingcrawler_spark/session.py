"""SparkSession factory.

Local mode for tests/bench; the same settings carry to a real cluster via
spark-submit --py-files. AQE on (skew-join + partition coalescing), Arrow on
(every UDF in this engine is a pandas/Arrow UDF — no per-row Python), UTC
session timezone so DuckDB-oracle comparisons are stable.

The engine runs the same plans again and again (one wave plan per crawl
wave, the same query set on every analytics pass), so the codegen cache
is sized to hold the engine's whole working set (CODEGEN_CACHE_ENTRIES):
a warm wave or pass then reuses the classes the first one compiled
instead of recompiling them with Janino.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# spark.sql.codegen.cache.maxEntries (default 100; a static conf, read when
# the session starts).  Spark keys the cache by (context classloader,
# generated code), so the driver's validation compile and the executor
# tasks' compile are separate entries, and an LRU cache smaller than a
# cyclic working set hits 0%: at 100 entries every warm pass of the five
# perfbench analytics queries compiled ~130 classes again, and every warm
# crawl wave 39-59.  Measured as classes compiled (CodegenMetrics
# compilation count over py4j) with a cache too large to evict and the
# CODEGEN_CONF below, local[4], one session: every registered query at
# sf0.001 once, 1619; a second catalog pass, 2 more; a 5-wave Bloom crawl,
# 30; a third catalog pass, 14: 1667 in all, with 203 MB of JVM metaspace.
# The perfbench analytics pass needs 133, and it plus bench.HEADLINE's 43
# queries at sf0.01 773.  4096 holds the whole catalog and a crawl with
# more than twice the room.
CODEGEN_CACHE_ENTRIES = 4096

# The codegen settings every engine session starts with.  Without a stage
# id in the generated class name, the same stage renumbered by adaptive
# execution (ids follow the order in which shuffle stages finish) is the
# same code, so a warm pass hits the cache instead of compiling it again.
CODEGEN_CONF = {
    "spark.sql.codegen.cache.maxEntries": str(CODEGEN_CACHE_ENTRIES),
    "spark.sql.codegen.useIdInClassName": "false",
}


def get_spark(
    app_name: str = "bingcrawler_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    cores: local[N] thread count; defaults to $SPARK_GRAFT_CPUS or '*'.
    shuffle_partitions: default = cores (local shuffles through one JVM;
    200 partitions over 60k rows is pure overhead, and at cluster scale the
    caller sizes this to data volume / target partition bytes instead).
    """
    if cores is None:
        env = os.environ.get("SPARK_GRAFT_CPUS")
        master = f"local[{env}]" if env else "local[*]"
        n = int(env) if env else (os.cpu_count() or 8)
    else:
        master = f"local[{cores}]"
        n = cores
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or n))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config(map=CODEGEN_CONF)
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
