"""Similarity search over an embedding column (array<float>).

Brute-force cosine top-k is the exactness baseline; the scale path is
sign-LSH bucketing (random-hyperplane style, here axis-aligned signs so the
bucketing is reproducible in ANSI SQL for the oracle).

Scale design: the query set is broadcast (it is small by definition); the
corpus never shuffles for brute force — each partition scores its local
rows against the broadcast queries and a partial top-k per query is taken
before the single narrow shuffle that merges per-partition winners
(`row_number` over ≤ partitions × k rows per query).  For the LSH variant
the corpus is bucketed once (a deterministic column), so repeated queries
join on the bucket key and touch only matching buckets — at 100 TB the
corpus would be written bucketed-by(bucket) so the join prunes files.

All dot products run in double precision with a sequential left fold
(F.aggregate over zip_with) so Spark and DuckDB accumulate in the same
order; ranked outputs carry no float columns (rank ties broken by id).
"""

from __future__ import annotations

import warnings

from pyspark.sql import Column, DataFrame, functions as F

# semdedup auto-sizing: target in-cell occupancy.  Pair work inside a cell
# is quadratic BY DESIGN (that is the SemDeDup recipe), so the cell count
# must grow with the corpus to keep sum(|cell|^2) ~ n * target.
SEMDEDUP_CELL_TARGET = 256
from pyspark.sql.window import Window as W


def dot_col(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def cosine_col(a: Column, b: Column) -> Column:
    return dot_col(a, b) / F.sqrt(dot_col(a, a)) / F.sqrt(dot_col(b, b))


def cosine_sql(a: str, b: str) -> str:
    """Same fold order as dot_col: sequential sum over the zipped products."""
    dot = (
        "list_aggregate(list_transform(list_zip({a}, {b}), "
        "p -> p[1]::DOUBLE * p[2]::DOUBLE), 'sum')"
    )
    return (
        f"({dot.format(a=a, b=b)} / sqrt({dot.format(a=a, b=a)}) "
        f"/ sqrt({dot.format(a=b, b=b)}))"
    )


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact cosine top-k neighbors per query (query != neighbor).
    Returns (query_id, neighbor_id, rank) — rank by cosine DESC with
    neighbor-id ASC tie-break; scores stay internal so the comparable
    output is all-integer."""
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qvec")
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cvec")
    )
    scored = (
        c.join(F.broadcast(q), F.col("neighbor_id") != F.col("query_id"))
        .withColumn("cos", cosine_col(F.col("qvec"), F.col("cvec")))
    )
    w = W.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", F.col("rank").cast("int"))
    )


def brute_force_topk_sql(
    corpus_sql: str,
    queries_sql: str,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> str:
    cos = cosine_sql("q.qvec", "c.cvec")
    return f"""
    WITH q AS (SELECT {id_col} AS query_id, {vec_col} AS qvec FROM ({queries_sql})),
         c AS (SELECT {id_col} AS neighbor_id, {vec_col} AS cvec FROM ({corpus_sql})),
         scored AS (
           SELECT q.query_id, c.neighbor_id, {cos} AS cos
           FROM c JOIN q ON c.neighbor_id != q.query_id
         )
    SELECT query_id, neighbor_id, rank::INT AS rank FROM (
      SELECT query_id, neighbor_id,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY cos DESC, neighbor_id) AS rank
      FROM scored
    ) WHERE rank <= {k}
    """


# ------------------------------------------------------------------ sign-LSH


def sign_bucket_col(vec: Column, n_bits: int = 8) -> Column:
    """Axis-aligned sign-LSH bucket: bit i = 1 iff vec[i+1] >= 0 (1-based).
    Deterministic and SQL-reproducible; with learned/random hyperplanes the
    bit would be sign(dot(vec, plane_i)) — same plumbing."""
    acc = F.lit(0)
    for i in range(n_bits):
        acc = acc + F.when(
            F.element_at(vec, i + 1).cast("double") >= 0, F.lit(1 << i)
        ).otherwise(F.lit(0))
    return acc.cast("int")


def sign_bucket_sql(vec: str, n_bits: int = 8) -> str:
    terms = " + ".join(
        f"(CASE WHEN {vec}[{i + 1}]::DOUBLE >= 0 THEN {1 << i} ELSE 0 END)"
        for i in range(n_bits)
    )
    return f"({terms})::INT"


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 3,
    n_bits: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k: candidates restricted to the query's sign bucket,
    exact cosine rank within the bucket.  Recall < 1 by design; the oracle
    replicates the bucketing exactly so the *approximation itself* is
    verified, not just the exact fallback."""
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qvec"),
        sign_bucket_col(F.col(vec_col), n_bits).alias("bucket"),
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("cvec"),
        sign_bucket_col(F.col(vec_col), n_bits).alias("bucket"),
    )
    scored = (
        c.join(F.broadcast(q), "bucket")
        .where(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("cos", cosine_col(F.col("qvec"), F.col("cvec")))
    )
    w = W.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", F.col("rank").cast("int"))
    )


def lsh_topk_sql(
    corpus_sql: str,
    queries_sql: str,
    k: int = 3,
    n_bits: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> str:
    cos = cosine_sql("q.qvec", "c.cvec")
    return f"""
    WITH q AS (SELECT {id_col} AS query_id, {vec_col} AS qvec,
                      {sign_bucket_sql(vec_col, n_bits)} AS bucket
               FROM ({queries_sql})),
         c AS (SELECT {id_col} AS neighbor_id, {vec_col} AS cvec,
                      {sign_bucket_sql(vec_col, n_bits)} AS bucket
               FROM ({corpus_sql})),
         scored AS (
           SELECT q.query_id, c.neighbor_id, {cos} AS cos
           FROM c JOIN q USING (bucket) WHERE c.neighbor_id != q.query_id
         )
    SELECT query_id, neighbor_id, rank::INT AS rank FROM (
      SELECT query_id, neighbor_id,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY cos DESC, neighbor_id) AS rank
      FROM scored
    ) WHERE rank <= {k}
    """


# ------------------------------------------------------------------ IVF


def _ivf_assign(
    corpus: DataFrame,
    n_cells: int,
    id_col: str,
    vec_col: str,
    out_id: str,
    out_vec: str,
) -> tuple[DataFrame, DataFrame]:
    """Shared deterministic coarse quantizer behind ivf_topk and semdedup
    (one definition so the tie-break rule and centroid seeding cannot
    drift apart): centroids are the ``n_cells`` lowest-id corpus vectors;
    every vector joins its argmax-cosine cell (ties → lowest cell) via a
    broadcast n_cells-way fan-out folded back by a partial-aggregatable
    max_by — never an all-pairs.  Returns ``(cents[cell, cent],
    assigned[out_id, out_vec, cell])``."""
    w_id = W.orderBy(F.col(id_col))
    cents = (
        corpus.orderBy(F.col(id_col))
        .limit(n_cells)
        .select(
            (F.row_number().over(w_id) - 1).alias("cell"),
            F.col(vec_col).alias("cent"),
        )
    )
    c = corpus.select(F.col(id_col).alias(out_id), F.col(vec_col).alias(out_vec))
    assigned = (
        c.crossJoin(F.broadcast(cents))
        .select(
            out_id,
            out_vec,
            "cell",
            cosine_col(F.col(out_vec), F.col("cent")).alias("cc"),
        )
        .groupBy(out_id)
        .agg(
            F.any_value(F.col(out_vec)).alias(out_vec),
            F.max_by(
                F.col("cell"),
                F.struct(F.col("cc"), (-F.col("cell")).cast("double")),
            ).alias("cell"),
        )
    )
    return cents, assigned


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 3,
    n_cells: int = 16,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF (inverted-file) ANN: coarse-quantize the corpus into n_cells
    cells, probe the n_probe highest-cosine cells per query, exact-rank
    within the probed cells only.

    Centroids are the n_cells lowest-id corpus vectors — deterministic
    seeding in place of trained k-means so the oracle replicates cell
    assignment exactly; the plumbing (broadcast centroid table,
    argmax-cosine assignment, cell equi-join) is exactly what a trained
    IVF uses.  Scale shape: assignment is a broadcast n_cells-way fan-out
    (NOT an all-pairs cartesian) folded back by a partial-aggregatable
    max_by, probes touch n_probe/n_cells of the corpus, and at 100 TB the
    assigned corpus would be written partitioned by cell so the probe
    join prunes files — same contract as lsh_topk."""
    cents, assigned = _ivf_assign(
        corpus, n_cells, id_col, vec_col, "neighbor_id", "cvec"
    )
    q = queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("qvec"))
    wq = W.partitionBy("query_id").orderBy(F.col("qc").desc(), F.col("cell"))
    probes = (
        q.crossJoin(F.broadcast(cents))
        .select(
            "query_id",
            "qvec",
            "cell",
            cosine_col(F.col("qvec"), F.col("cent")).alias("qc"),
        )
        .withColumn("pr", F.row_number().over(wq))
        .where(F.col("pr") <= n_probe)
        .select("query_id", "qvec", "cell")
    )
    scored = (
        assigned.join(F.broadcast(probes), "cell")
        .where(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("cos", cosine_col(F.col("qvec"), F.col("cvec")))
    )
    w = W.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", F.col("rank").cast("int"))
    )


def ivf_topk_sql(
    corpus_sql: str,
    queries_sql: str,
    k: int = 3,
    n_cells: int = 16,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> str:
    cos_cc = cosine_sql("c.cvec", "cents.cent")
    cos_qc = cosine_sql("q.qvec", "cents.cent")
    cos_qn = cosine_sql("p.qvec", "a.cvec")
    return f"""
    WITH c AS (SELECT {id_col} AS neighbor_id, {vec_col} AS cvec
               FROM ({corpus_sql})),
         q AS (SELECT {id_col} AS query_id, {vec_col} AS qvec
               FROM ({queries_sql})),
         cents AS (SELECT row_number() OVER (ORDER BY neighbor_id) - 1 AS cell,
                          cvec AS cent
                   FROM c ORDER BY neighbor_id LIMIT {n_cells}),
         assigned AS (
           -- row_number twin of the Spark side's max_by fold: max cosine,
           -- ties to the lowest cell
           SELECT neighbor_id, cvec, cell FROM (
             SELECT c.neighbor_id, c.cvec, cents.cell,
                    row_number() OVER (PARTITION BY c.neighbor_id
                                       ORDER BY {cos_cc} DESC, cents.cell) AS ar
             FROM c CROSS JOIN cents) WHERE ar = 1),
         probes AS (
           SELECT query_id, qvec, cell FROM (
             SELECT q.query_id, q.qvec, cents.cell,
                    row_number() OVER (PARTITION BY q.query_id
                                       ORDER BY {cos_qc} DESC, cents.cell) AS pr
             FROM q CROSS JOIN cents) WHERE pr <= {n_probe}),
         scored AS (
           SELECT p.query_id, a.neighbor_id, {cos_qn} AS cos
           FROM assigned a JOIN probes p USING (cell)
           WHERE a.neighbor_id != p.query_id)
    SELECT query_id, neighbor_id, rank::INT AS rank FROM (
      SELECT query_id, neighbor_id,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY cos DESC, neighbor_id) AS rank
      FROM scored
    ) WHERE rank <= {k}
    """


def embedding_clone_pairs(
    corpus: DataFrame,
    min_cos_e4: int = 9990,
    n_bits: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding-cosine near-dup: pairs in the same sign bucket with
    round(cos*1e4) >= threshold.  The comparable output carries the cosine
    as an int in 1e-4 units (cos_e4) — cross-engine float-safe."""
    c = corpus.select(
        F.col(id_col).alias("vid"),
        F.col(vec_col).alias("vec"),
        sign_bucket_col(F.col(vec_col), n_bits).alias("bucket"),
    )
    a, b = c.alias("a"), c.alias("b")
    pairs = a.join(
        b, (F.col("a.bucket") == F.col("b.bucket")) & (F.col("a.vid") < F.col("b.vid"))
    ).select(
        F.col("a.vid").alias("vec_a"),
        F.col("b.vid").alias("vec_b"),
        F.round(cosine_col(F.col("a.vec"), F.col("b.vec")) * 10000)
        .cast("long")
        .alias("cos_e4"),
    )
    return pairs.where(F.col("cos_e4") >= min_cos_e4)


def embedding_clone_pairs_sql(
    corpus_sql: str,
    min_cos_e4: int = 9990,
    n_bits: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> str:
    cos = cosine_sql("a.vec", "b.vec")
    return f"""
    WITH c AS (SELECT {id_col} AS vid, {vec_col} AS vec,
                      {sign_bucket_sql(vec_col, n_bits)} AS bucket
               FROM ({corpus_sql}))
    SELECT a.vid AS vec_a, b.vid AS vec_b,
           round({cos} * 10000)::BIGINT AS cos_e4
    FROM c a JOIN c b ON a.bucket = b.bucket AND a.vid < b.vid
    WHERE round({cos} * 10000) >= {min_cos_e4}
    """


# ------------------------------------------------------------- SemDeDup


def semdedup(
    corpus: DataFrame,
    min_cos_e4: int = 9990,
    n_cells: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """SemDeDup-style semantic dedup (Abbas et al. 2023, arXiv:2303.09540):
    coarse-cluster the embeddings, then WITHIN each cluster drop every
    vector that has a higher-priority (lower-id) neighbor above the cosine
    threshold — the paper's cluster-then-prune recipe with a deterministic
    keep rule in place of its centroid-distance tie-break.

    Clustering reuses ivf_topk's deterministic coarse quantizer (n_cells
    lowest-id vectors as centroids, argmax-cosine assignment via a
    broadcast fan-out folded by max_by) so the DuckDB oracle replicates
    cell assignment exactly.

    Scale shape: no all-pairs — candidate pairs exist only inside a cell,
    so pair work is sum(|cell|^2) and n_cells is the knob that bounds it
    (at 100 TB: tens of thousands of trained centroids keep cells at
    ~1e3-1e4 vectors; assignment stays a broadcast fan-out, and the
    assigned table would be written partitioned by cell so the self-join
    never shuffles the corpus twice).  The prune rule is a left-semi
    EXISTS, so the kept set needs no iterative connected components.

    n_cells=None (the default) AUTO-SIZES the cell count to keep
    ~SEMDEDUP_CELL_TARGET vectors per cell, using SIGN-LSH cells
    (sign_bucket_col over the first n_bits dims, n_bits =
    ceil_log2(ceil(n / target))): assignment is a shuffle-free per-row
    expression, O(n·bits).  The r4 auto path kept the centroid
    quantizer with n_cells = n/target, which silently made ASSIGNMENT
    quadratic — every vector scored against n/256 centroids, measured
    sf1→sf10 wall exponent 1.42 (BENCH/SCALE_EXPONENTS.md decade 2);
    with sign cells the second decade is linear.  A fixed small
    n_cells is quadratic the other way (in-cell join; exponent 1.37
    measured in r4).  The SQL twin derives the same n_bits with
    integer-exact math (smallest b with 2^b ≥ ceil(n/target)), so
    oracle parity holds at every scale factor.  n_bits is capped at 20,
    so the auto path stays linear only up to about 2^20 ×
    SEMDEDUP_CELL_TARGET vectors (~2.7e8); past that the cells overfill
    and in-cell pair work grows quadratically again — a warning says
    so.  An EXPLICIT n_cells keeps the centroid quantizer (the IVF-style
    mode whose cell count the caller controls).
    """
    if n_cells is None:
        n = corpus.count()
        cells_needed = max(1, (n + SEMDEDUP_CELL_TARGET - 1) // SEMDEDUP_CELL_TARGET)
        if cells_needed > 2**20:
            warnings.warn(
                f"semdedup: {n} vectors need {cells_needed} cells of "
                f"~{SEMDEDUP_CELL_TARGET}, above the 2**20 sign-cell cap; "
                "cells overfill and in-cell pair work turns quadratic"
            )
        n_bits = min(20, max(4, (cells_needed - 1).bit_length()))
        assigned = corpus.select(
            F.col(id_col).alias("vec_id"),
            F.col(vec_col).alias("vec"),
            sign_bucket_col(F.col(vec_col), n_bits).alias("cell"),
        )
    else:
        _, assigned = _ivf_assign(
            corpus, n_cells, id_col, vec_col, "vec_id", "vec"
        )
    # branch point: the assignment feeds both semi-join sides and the
    # verdict — persist so the broadcast fan-out runs once, not thrice
    # (at 100 TB this is the write-partitioned-by-cell materialization)
    assigned = assigned.persist()
    a, b = assigned.alias("a"), assigned.alias("b")
    dropped = (
        a.join(
            b,
            (F.col("a.cell") == F.col("b.cell"))
            & (F.col("b.vec_id") < F.col("a.vec_id"))
            & (
                F.round(cosine_col(F.col("a.vec"), F.col("b.vec")) * 10000)
                >= F.lit(min_cos_e4)
            ),
            "left_semi",
        )
        .select(F.col("a.vec_id").alias("vec_id"))
    )
    out = (
        assigned.join(dropped.withColumn("is_dup", F.lit(1)), "vec_id", "left")
        .select(
            "vec_id",
            F.col("cell").cast("int").alias("cell"),
            F.when(F.col("is_dup").isNull(), 1).otherwise(0).alias("kept"),
        )
        .localCheckpoint(eager=True)  # materialize, then release the cache
    )
    assigned.unpersist()
    return out


def semdedup_sql(
    corpus_sql: str,
    min_cos_e4: int = 9990,
    n_cells: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> str:
    cos_ab = cosine_sql("a.vec", "b.vec")
    if n_cells is None:
        # sign-LSH auto path: smallest b in [4, 20] with 2^b >= ceil(n /
        # target), integer-exact so both engines derive the SAME n_bits;
        # bucket bits unrolled to the max and gated by b < nb
        max_bits = 20
        bit_terms = " + ".join(
            f"(CASE WHEN {i} < p.nb AND c.vec[{i + 1}]::DOUBLE >= 0"
            f" THEN {1 << i} ELSE 0 END)"
            for i in range(max_bits)
        )
        return f"""
    WITH c AS (SELECT {id_col} AS vec_id, {vec_col} AS vec
               FROM ({corpus_sql})),
         p AS (SELECT least(20, greatest(4, (
                 SELECT min(b) FROM (SELECT unnest(range(0, 31)) AS b)
                 WHERE (1::BIGINT << b) >=
                   ((SELECT count(*) FROM c) + {SEMDEDUP_CELL_TARGET} - 1)
                     // {SEMDEDUP_CELL_TARGET}))) AS nb),
         assigned AS (
           SELECT c.vec_id, c.vec, ({bit_terms})::INT AS cell
           FROM c CROSS JOIN p)
    SELECT a.vec_id, a.cell::INT AS cell,
           CASE WHEN EXISTS (
             SELECT 1 FROM assigned b
             WHERE b.cell = a.cell AND b.vec_id < a.vec_id
               AND round({cos_ab} * 10000) >= {min_cos_e4}
           ) THEN 0 ELSE 1 END AS kept
    FROM assigned a
    """
    cos_cc = cosine_sql("c.vec", "cents.cent")
    return f"""
    WITH c AS (SELECT {id_col} AS vec_id, {vec_col} AS vec
               FROM ({corpus_sql})),
         cents AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell,
                          vec AS cent
                   FROM c ORDER BY vec_id LIMIT {n_cells}),
         assigned AS (
           SELECT vec_id, vec, cell FROM (
             SELECT c.vec_id, c.vec, cents.cell,
                    row_number() OVER (PARTITION BY c.vec_id
                                       ORDER BY {cos_cc} DESC, cents.cell) AS ar
             FROM c CROSS JOIN cents) WHERE ar = 1)
    SELECT a.vec_id, a.cell::INT AS cell,
           CASE WHEN EXISTS (
             SELECT 1 FROM assigned b
             WHERE b.cell = a.cell AND b.vec_id < a.vec_id
               AND round({cos_ab} * 10000) >= {min_cos_e4}
           ) THEN 0 ELSE 1 END AS kept
    FROM assigned a
    """
