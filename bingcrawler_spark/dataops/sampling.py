"""Deterministic sampling operators for training-data mixture control.

A 100 TB corpus is never trained on uniformly: the pipeline assigns each
source/domain a target inclusion rate (e.g. wikipedia x3 oversample,
common-crawl 30%) and materializes the mixture.  Random sampling is
non-reproducible across runs and engines; these operators sample by a
deterministic content-derived bucket (md5 of the doc id → [0, 1000)), so

* the same doc always lands in the same bucket — resumable, auditable,
  and identical on Spark and the DuckDB oracle (cross-engine md5 parity
  via :mod:`bingcrawler_spark.xhash`);
* rate changes are monotone: raising a source's rate only ADDS docs
  (bucket < rate keeps being true), never churns the kept set.

Scale shape: pure per-row column expressions — no shuffle, no UDF, no
driver round-trip; the rates table broadcasts (it is a handful of rows
per source).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.window import Window as W

from bingcrawler_spark import xhash as X

BUCKETS = 1000  # per-mille rates: rate=125 keeps 12.5% of a source


def sample_bucket_col(id_col: str = "doc_id"):
    """Deterministic per-doc bucket in [0, BUCKETS): 32-bit md5 prefix of
    the id, reduced mod 1000 — uniform enough for rate control and exactly
    reproducible in ANSI SQL."""
    return (X.h32_col(F.col(id_col)) % F.lit(BUCKETS)).cast("int")


def sample_bucket_sql(id_col: str = "doc_id") -> str:
    # cast to VARCHAR: h32_col stringifies the id on the Spark side, and
    # DuckDB's md5 only accepts strings
    return f"(({X.h32_sql(f'{id_col}::VARCHAR')}) % {BUCKETS})::INT"


def domain_mixture(
    docs: DataFrame,
    rates: dict[str, int],
    default_rate: int = 0,
    source_col: str = "source",
    id_col: str = "doc_id",
) -> DataFrame:
    """Stratified mixture sampling: keep a doc iff its deterministic bucket
    falls under its source's per-mille rate.  ``rates`` maps source name →
    rate in [0, 1000]; sources absent from the map use ``default_rate``.

    Returns the KEPT rows as (id_col, source_col, bucket) — the mixture
    manifest.  Joining the manifest back to the full table recovers the
    text; the manifest itself is narrow so downstream shuffles stay cheap.
    """
    rate_map = F.create_map(
        *[x for s, r in sorted(rates.items()) for x in (F.lit(s), F.lit(int(r)))]
    )
    bucket = sample_bucket_col(id_col)
    rate = F.coalesce(
        rate_map[F.col(source_col)], F.lit(int(default_rate))
    )
    return (
        docs.select(F.col(id_col), F.col(source_col), bucket.alias("bucket"))
        .where(F.col("bucket") < rate)
    )


def domain_mixture_sql(
    docs_sql: str,
    rates: dict[str, int],
    default_rate: int = 0,
    source_col: str = "source",
    id_col: str = "doc_id",
) -> str:
    cases = " ".join(
        f"WHEN '{s}' THEN {int(r)}" for s, r in sorted(rates.items())
    )
    return f"""
    SELECT {id_col}, {source_col}, {sample_bucket_sql(id_col)} AS bucket
    FROM ({docs_sql})
    WHERE {sample_bucket_sql(id_col)} <
          (CASE {source_col} {cases} ELSE {int(default_rate)} END)
    """


def stratified_topk(
    docs: DataFrame,
    k: int,
    source_col: str = "source",
    id_col: str = "doc_id",
) -> DataFrame:
    """Exactly-k-per-stratum sampling: within each source, keep the k docs
    with the smallest (bucket, id) — a deterministic, engine-independent
    "random" k because the bucket is an md5 hash of the id.  The complement
    of rate-based `domain_mixture`: use this when the mixture spec is
    COUNTS (e.g. "500 M tokens per source") rather than rates.

    Scale shape: one shuffle on the stratum key; rank-
    within-group compiles to WindowGroupLimit, so each partition keeps only
    k rows before the exchange — no stratum ever materializes whole."""
    w = W.partitionBy(source_col).orderBy(
        sample_bucket_col(id_col), F.col(id_col)
    )
    return (
        docs.select(
            F.col(id_col),
            F.col(source_col),
            sample_bucket_col(id_col).alias("bucket"),
        )
        .withColumn("rk", F.row_number().over(w).cast("int"))
        .where(F.col("rk") <= k)
    )


def stratified_topk_sql(
    docs_sql: str,
    k: int,
    source_col: str = "source",
    id_col: str = "doc_id",
) -> str:
    b = sample_bucket_sql(id_col)
    return f"""
    SELECT {id_col}, {source_col}, bucket, rk FROM (
      SELECT {id_col}, {source_col}, {b} AS bucket,
             row_number() OVER (PARTITION BY {source_col}
                                ORDER BY {b}, {id_col})::INT AS rk
      FROM ({docs_sql})
    ) WHERE rk <= {k}
    """


# ------------------------------------------------------- sequence packing


def seq_packing(
    docs: DataFrame,
    bin_tokens: int = 2048,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Contiguous sequence packing for LM training: stream documents in
    id order into fixed ``bin_tokens`` windows (a doc belongs to the bin
    its first token lands in; long docs straddle, exactly like packed
    pretraining batches with cross-doc attention masking).  Reports per
    bin: n_docs, n_tokens, and integer fill per-mille.

    Scale note: the running token offset is a global ordered cumsum,
    computed in two phases so no task ever sees the whole corpus (an
    unpartitioned window would compile to Exchange SinglePartition — a
    one-core bottleneck at scale): (1) range-partition the narrow
    (id, n_tok) rows by id — disjoint ORDERED ranges — and cumsum within
    each partition; (2) per-partition totals (|partitions| rows, metadata
    scale) get their own cumsum and rejoin as broadcast offsets.  The
    `_pid` key is stable across the two subtrees: RangePartitioner's
    sample seed derives from the partition index, so identical
    deterministic inputs yield identical bounds (and Spark reuses the
    exchange outright for the canonical-identical subplans)."""
    from pyspark.sql.window import Window as W

    n_tok = F.size(F.split(F.col(text_col), " "))
    per = (
        docs.select(F.col(id_col), n_tok.cast("long").alias("n_tok"))
        .repartitionByRange(id_col)
        .withColumn("_pid", F.spark_partition_id())
    )
    w_loc = (
        W.partitionBy("_pid")
        .orderBy(id_col)
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    per = per.withColumn("_loc", F.sum("n_tok").over(w_loc))
    w_off = W.orderBy("_pid").rowsBetween(W.unboundedPreceding, W.currentRow)
    offsets = (
        per.groupBy("_pid")
        .agg(F.sum("n_tok").alias("_tot"))
        .withColumn("_off", F.sum("_tot").over(w_off) - F.col("_tot"))
        .select("_pid", "_off")
    )
    per = per.join(F.broadcast(offsets), "_pid").withColumn(
        "cum", F.col("_loc") + F.col("_off")
    )
    binned = per.select(
        F.expr(f"div(cum - n_tok, {bin_tokens})").alias("bin"), "n_tok"
    )
    return (
        binned.groupBy("bin")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_tok").cast("long").alias("n_tokens"),
        )
        .select(
            "bin",
            "n_docs",
            "n_tokens",
            F.expr(f"div(n_tokens * 1000, {bin_tokens})").alias("fill_pml"),
        )
    )


def seq_packing_sql(
    docs_sql: str,
    bin_tokens: int = 2048,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> str:
    return f"""
    WITH per AS (
      SELECT {id_col},
             len(string_split({text_col}, ' '))::BIGINT AS n_tok
      FROM ({docs_sql})),
    c AS (
      SELECT {id_col}, n_tok,
             sum(n_tok) OVER (ORDER BY {id_col}
                              ROWS UNBOUNDED PRECEDING) AS cum
      FROM per),
    b AS (SELECT (cum - n_tok) // {bin_tokens} AS bin, n_tok FROM c)
    SELECT bin::BIGINT AS bin, count(*)::BIGINT AS n_docs,
           sum(n_tok)::BIGINT AS n_tokens,
           (sum(n_tok) * 1000 // {bin_tokens})::BIGINT AS fill_pml
    FROM b GROUP BY bin
    """


# -------------------------------------------------------- upsample planning


def upsample_plan(
    docs: DataFrame,
    targets: dict[str, int],
    text_col: str = "text",
    src_col: str = "source",
) -> DataFrame:
    """Mixture upsampling plan: given target proportions (ppm) per
    source and the observed token mass, compute per-source repeat
    factors ('epochs', e3 fixed point) normalized so the most
    OVER-represented targeted source runs exactly 1 epoch — the data
    recipe planning step (Llama/Gopher-style mixture tables) upstream
    of ds_domain_mixture's row-level sampler.  All integer division in
    a fixed order, so both engines agree to the last digit.

    Scale shape: one per-source aggregate; the two scalars (total
    tokens, min factor) broadcast back — nothing else moves."""
    n_tok = F.size(F.split(F.col(text_col), " ")).cast("long")
    per = docs.groupBy(src_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(n_tok).cast("long").alias("tokens"),
    )
    tot = per.agg(F.sum("tokens").cast("long").alias("total"))
    tgt = F.lit(0)
    for s, ppm in targets.items():
        tgt = F.when(F.col(src_col) == s, F.lit(ppm)).otherwise(tgt)
    j = per.crossJoin(F.broadcast(tot)).select(
        F.col(src_col).alias("source"),
        "n_docs",
        "tokens",
        F.expr("div(tokens * 1000000, total)").alias("natural_ppm"),
        tgt.cast("long").alias("target_ppm"),
        "total",
    )
    j = j.withColumn(
        "factor_e6", F.expr("div(target_ppm * total, tokens)")
    ).drop("total")
    minf = j.where(F.col("target_ppm") > 0).agg(
        F.min("factor_e6").alias("minf")
    )
    return j.crossJoin(F.broadcast(minf)).select(
        "source",
        "n_docs",
        "tokens",
        "natural_ppm",
        "target_ppm",
        F.when(
            F.col("target_ppm") > 0, F.expr("div(factor_e6 * 1000, minf)")
        )
        .otherwise(F.lit(0))
        .cast("long")
        .alias("epochs_e3"),
    )


def upsample_plan_sql(
    docs_sql: str,
    targets: dict[str, int],
    text_col: str = "text",
    src_col: str = "source",
) -> str:
    arms = " ".join(
        f"WHEN '{s}' THEN {ppm}" for s, ppm in targets.items()
    )
    return f"""
    WITH per AS (
      SELECT {src_col} AS source, count(*)::BIGINT AS n_docs,
             sum(len(string_split({text_col}, ' ')))::BIGINT AS tokens
      FROM ({docs_sql}) GROUP BY {src_col}),
    t AS (SELECT sum(tokens)::BIGINT AS total FROM per),
    j AS (
      SELECT source, n_docs, tokens,
             (tokens * 1000000 // total)::BIGINT AS natural_ppm,
             (CASE source {arms} ELSE 0 END)::BIGINT AS target_ppm,
             ((CASE source {arms} ELSE 0 END) * total
              // tokens)::BIGINT AS factor_e6
      FROM per, t),
    m AS (SELECT min(factor_e6)::BIGINT AS minf FROM j WHERE target_ppm > 0)
    SELECT source, n_docs, tokens, natural_ppm, target_ppm,
           (CASE WHEN target_ppm > 0
                 THEN factor_e6 * 1000 // minf ELSE 0 END)::BIGINT
             AS epochs_e3
    FROM j, m
    """


# ------------------------------------------------- split + leakage audit


def split_assign(
    docs: DataFrame, id_col: str = "doc_id", train: int = 900, val: int = 50
) -> DataFrame:
    """Deterministic train/val/test assignment from the md5 sample
    bucket (train <900, val <950, test otherwise out of 1000) — the
    split is a pure function of the id, so re-runs, late-arriving
    shards, and both engines agree row-for-row."""
    b = sample_bucket_col(id_col)
    split = (
        F.when(b < train, F.lit("train"))
        .when(b < train + val, F.lit("val"))
        .otherwise(F.lit("test"))
    )
    return docs.select(F.col(id_col).alias("doc"), split.alias("split"))


def split_assign_sql(id_col: str = "doc_id") -> str:
    return f"""CASE WHEN {sample_bucket_sql(id_col)} < 900 THEN 'train'
         WHEN {sample_bucket_sql(id_col)} < 950 THEN 'val'
         ELSE 'test' END"""


def split_leakage(
    docs: DataFrame,
    k: int = 16,
    bands: int = 4,
    min_jaccard_pct: int = 50,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Split-leakage audit: near-duplicate pairs (MinHash-LSH verified
    by exact Jaccard, same machinery as dd_minhash_lsh) that straddle
    the train/val/test boundary — the classic eval-contamination bug a
    training-data pipeline must count BEFORE shipping a split (a val doc
    whose near-twin sits in train inflates eval).  Output: one row per
    unordered split pair (split_a <= split_b lexicographically) with the
    pair count and an is_leak flag for cross-split rows.

    Scale shape: everything rides the banded pair join (no all-pairs);
    the split labels broadcast-join onto the pair list by id."""
    from bingcrawler_spark.dataops.dedup import minhash_lsh_pairs

    pairs = minhash_lsh_pairs(
        docs, k=k, bands=bands, min_jaccard_pct=min_jaccard_pct,
        text_col=text_col, id_col=id_col,
    ).select("doc_a", "doc_b")
    assign = split_assign(docs, id_col)
    j = (
        pairs.join(
            assign.select(F.col("doc").alias("doc_a"), F.col("split").alias("sa")),
            "doc_a",
        )
        .join(
            assign.select(F.col("doc").alias("doc_b"), F.col("split").alias("sb")),
            "doc_b",
        )
    )
    return (
        j.select(
            F.least("sa", "sb").alias("split_a"),
            F.greatest("sa", "sb").alias("split_b"),
        )
        .groupBy("split_a", "split_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_pairs"))
        .withColumn(
            "is_leak", (F.col("split_a") != F.col("split_b")).cast("int")
        )
    )


def split_leakage_sql(
    docs_sql: str,
    k: int = 16,
    bands: int = 4,
    min_jaccard_pct: int = 50,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> str:
    from bingcrawler_spark.dataops.dedup import minhash_lsh_pairs_sql

    pairs = minhash_lsh_pairs_sql(
        docs_sql, k=k, bands=bands, min_jaccard_pct=min_jaccard_pct,
        text_col=text_col, id_col=id_col,
    )
    return f"""
    WITH pairs AS ({pairs}),
    assign AS (
      SELECT {id_col} AS doc, {split_assign_sql(id_col)} AS split
      FROM ({docs_sql})
    )
    SELECT least(a.split, b.split) AS split_a,
           greatest(a.split, b.split) AS split_b,
           count(*)::BIGINT AS n_pairs,
           (least(a.split, b.split) <> greatest(a.split, b.split))::INT
             AS is_leak
    FROM pairs p
    JOIN assign a ON a.doc = p.doc_a
    JOIN assign b ON b.doc = p.doc_b
    GROUP BY 1, 2
    """
