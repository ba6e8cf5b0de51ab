"""Deduplication operators (exact + near-dup) — pure DataFrame transforms.

Scale design (the sf0.01 numbers are the correctness gate; the plans are
written for 100 TB):

* exact dedup groups by ``md5(text)`` (16 bytes), never by the full text —
  the shuffle carries a fixed-width key instead of multi-KB documents and
  map-side partial aggregation collapses duplicates before the exchange.
* near-dup never goes all-pairs: LSH banding (MinHash bands / SimHash bit
  bands) produces candidate pairs via an equi-join on the band key, so the
  shuffle is O(docs × bands) and AQE's skew-join split handles a hot band.
  The exact verify (Jaccard / hamming) runs only on candidates.
* the reference's near-dup machinery is the 64-bit SimHash
  (TextAnalysis.java:97-150) compared pairwise (BingDataAnalysisUtils.java:24-39,
  R12); banding generalizes that all-pairs loop to frontier scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.window import Window as W

from bingcrawler_spark import xhash as X

# ------------------------------------------------------------------ exact


def exact_dedup(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact dedup: one row per input doc with the canonical (minimum) id of
    its content group and a duplicate flag.  Group key = md5(text) — a
    16-byte shuffle key; the text itself never shuffles."""
    keyed = docs.select(F.col(id_col), F.md5(F.col(text_col)).alias("content_key"))
    w = W.partitionBy("content_key")
    return (
        keyed.withColumn("canonical_id", F.min(id_col).over(w))
        .withColumn("group_size", F.count(F.lit(1)).over(w).cast("long"))
        .withColumn("is_dup", (F.col(id_col) != F.col("canonical_id")).cast("int"))
        .select(id_col, "canonical_id", "group_size", "is_dup")
    )


def exact_dedup_sql(docs_sql: str, text_col: str = "text", id_col: str = "doc_id") -> str:
    return f"""
    SELECT {id_col},
           MIN({id_col}) OVER (PARTITION BY md5({text_col})) AS canonical_id,
           COUNT(*) OVER (PARTITION BY md5({text_col})) AS group_size,
           CASE WHEN {id_col} != MIN({id_col}) OVER (PARTITION BY md5({text_col}))
                THEN 1 ELSE 0 END AS is_dup
    FROM ({docs_sql})
    """


# ------------------------------------------------------------- minhash LSH


def minhash_lsh_pairs(
    docs: DataFrame,
    k: int = 16,
    bands: int = 4,
    min_jaccard_pct: int = 50,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """MinHash + LSH near-dup pairs, verified by exact shingle Jaccard.

    shingle → k minhashes → `bands` bands of k/bands rows → docs sharing a
    band bucket become candidates → exact 3-gram Jaccard ≥ threshold.
    Jaccard is reported as exact integers (n_common, n_union) — no float in
    the comparable output.  Band join is an equi-join on (band_idx, band
    value) so Catalyst plans a shuffle hash join; one-doc buckets produce no
    candidates by construction."""
    rows = k // bands
    # two projection steps: shingle md5s land in their own column so the k
    # affine hash functions reuse them (one md5 per shingle, not k);
    # persisted because both band-join sides and the verify join read it —
    # without the persist each consumer re-derives every shingle + md5
    base = (
        docs.select(
            F.col(id_col).alias("doc"),
            X.shingles_col(F.col(text_col)).alias("sh"),
        )
        .withColumn("hsh", F.transform("sh", X.h32_col))
        .withColumn("sig", X.minhash_sig_from_hashes(F.col("hsh"), k))
        .drop("hsh")
        .persist()
    )
    # only (doc, band key) rides the band-join shuffle — the multi-KB
    # shingle arrays never leave their partition until the verify join
    bands_df = base.select(
        "doc",
        F.posexplode(
            F.array(
                *[
                    F.slice(F.col("sig"), b * rows + 1, rows).cast("array<long>")
                    for b in range(bands)
                ]
            )
        ).alias("band_idx", "band_val"),
    )
    a, b = bands_df.alias("a"), bands_df.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col("a.doc") < F.col("b.doc")),
        )
        .select(F.col("a.doc").alias("doc_a"), F.col("b.doc").alias("doc_b"))
        .dropDuplicates(["doc_a", "doc_b"])
    )
    sh = base.select("doc", "sh")
    verified = (
        cand.join(sh.select(F.col("doc").alias("doc_a"), F.col("sh").alias("sh_a")), "doc_a")
        .join(sh.select(F.col("doc").alias("doc_b"), F.col("sh").alias("sh_b")), "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.size(F.array_intersect("sh_a", "sh_b")).cast("long").alias("n_common"),
            F.size(F.array_union("sh_a", "sh_b")).cast("long").alias("n_union"),
        )
    )
    out = verified.where(
        F.col("n_common") * 100 >= F.col("n_union") * min_jaccard_pct
    ).localCheckpoint(eager=True)  # materialize, then release the cache
    base.unpersist()
    return out


def minhash_lsh_pairs_sql(
    docs_sql: str,
    k: int = 16,
    bands: int = 4,
    min_jaccard_pct: int = 50,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> str:
    rows = k // bands
    return f"""
    WITH hv AS MATERIALIZED (
      SELECT doc, sh, {X.hashed_shingles_sql('sh')} AS hv
      FROM (SELECT {id_col} AS doc, {X.shingles_sql(text_col)} AS sh
            FROM ({docs_sql}))
    ), base AS MATERIALIZED (
      SELECT doc, sh, {X.minhash_sig_from_hashes_sql('hv', k)} AS sig FROM hv
    ), bandsx AS (
      SELECT doc, bi.band_idx,
             sig[bi.band_idx * {rows} + 1 : bi.band_idx * {rows} + {rows}] AS band_val
      FROM base, (SELECT unnest(generate_series(0, {bands - 1})) AS band_idx) bi
    ), cand AS (
      SELECT DISTINCT a.doc AS doc_a, b.doc AS doc_b
      FROM bandsx a JOIN bandsx b
        ON a.band_idx = b.band_idx AND a.band_val = b.band_val AND a.doc < b.doc
    )
    SELECT c.doc_a, c.doc_b,
           len(list_intersect(sa.sh, sb.sh))::BIGINT AS n_common,
           (len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh)))::BIGINT AS n_union
    FROM cand c
    JOIN base sa ON sa.doc = c.doc_a
    JOIN base sb ON sb.doc = c.doc_b
    WHERE len(list_intersect(sa.sh, sb.sh)) * 100
          >= (len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh))) * {min_jaccard_pct}
    """


# ------------------------------------------------------------ simhash bands


def simhash_neardup_pairs(
    docs: DataFrame,
    max_hamming: int = 8,
    n_bands: int = 4,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """SimHash near-dup: 60-bit md5-vote fingerprint, banded into `n_bands`
    15-bit slices (pigeonhole: any pair within hamming < n_bands shares at
    least one exact band), candidates verified by bit_count(xor) — the
    reference's hamming distance (TextAnalysis.java:287-300, P14)."""
    width = 60 // n_bands
    fp = X.simhash60_df(docs, id_col=id_col, text_col=text_col).select(
        F.col(id_col).alias("doc"), F.col("simhash60").alias("fp")
    )
    banded = fp.select(
        "doc",
        "fp",
        F.posexplode(
            F.array(
                *[
                    (F.shiftright("fp", b * width) % F.lit(1 << width)).cast("long")
                    for b in range(n_bands)
                ]
            )
        ).alias("band_idx", "band_val"),
    )
    a, b = banded.alias("a"), banded.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col("a.doc") < F.col("b.doc")),
        )
        .select(
            F.col("a.doc").alias("doc_a"),
            F.col("b.doc").alias("doc_b"),
            F.bit_count(F.col("a.fp").bitwiseXOR(F.col("b.fp"))).cast("int").alias("hamming"),
        )
        .dropDuplicates(["doc_a", "doc_b"])
    )
    return cand.where(F.col("hamming") <= max_hamming)


def simhash_neardup_pairs_sql(
    docs_sql: str,
    max_hamming: int = 8,
    n_bands: int = 4,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> str:
    width = 60 // n_bands
    return f"""
    WITH fp AS (
      SELECT {id_col} AS doc, {X.simhash60_sql(text_col)} AS fp FROM ({docs_sql})
    ), banded AS (
      SELECT doc, fp, bi.band_idx,
             (fp >> (bi.band_idx * {width})) & {(1 << width) - 1} AS band_val
      FROM fp, (SELECT unnest(generate_series(0, {n_bands - 1})) AS band_idx) bi
    )
    SELECT DISTINCT a.doc AS doc_a, b.doc AS doc_b,
           bit_count(xor(a.fp, b.fp))::INT AS hamming
    FROM banded a JOIN banded b
      ON a.band_idx = b.band_idx AND a.band_val = b.band_val AND a.doc < b.doc
    WHERE bit_count(xor(a.fp, b.fp)) <= {max_hamming}
    """


# ----------------------------------------------------------- ngram jaccard


def ngram_jaccard_banded_pairs(
    docs: DataFrame,
    n: int = 3,
    min_jaccard_pct: int = 30,
    k: int = 16,
    bands: int = 4,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Exact word-n-gram Jaccard with an LSH blocking key: the block is the
    FIRST minhash band of the shingle signature, so block sizes are bounded
    by hash dispersion instead of a raw attribute's cardinality (a `lang`
    block is ~20% of a web corpus — O(block²) dies at scale; a band block
    holds only near-duplicate clusters).  Pairs sharing the band get the
    exact n-gram Jaccard verify; the trade is recall at the margin
    (a pair must agree on all k/bands minhash rows of band 0), which is
    the standard LSH contract — the oracle replicates the banding, so the
    approximation itself is what is verified."""
    rows = k // bands
    base = (
        docs.select(
            F.col(id_col).alias("doc"),
            X.shingles_col(F.col(text_col), n).alias("sh"),
        )
        .withColumn("hsh", F.transform("sh", X.h32_col))
        .withColumn(
            "block",
            F.slice(X.minhash_sig_from_hashes(F.col("hsh"), k), 1, rows).cast(
                "array<long>"
            ),
        )
        .drop("hsh")
    )
    a, b = base.alias("a"), base.alias("b")
    pairs = a.join(
        b, (F.col("a.block") == F.col("b.block")) & (F.col("a.doc") < F.col("b.doc"))
    ).select(
        F.col("a.doc").alias("doc_a"),
        F.col("b.doc").alias("doc_b"),
        F.size(F.array_intersect("a.sh", "b.sh")).cast("long").alias("n_common"),
        F.size(F.array_union("a.sh", "b.sh")).cast("long").alias("n_union"),
    )
    return pairs.where(F.col("n_common") * 100 >= F.col("n_union") * min_jaccard_pct)


def ngram_jaccard_banded_pairs_sql(
    docs_sql: str,
    n: int = 3,
    min_jaccard_pct: int = 30,
    k: int = 16,
    bands: int = 4,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> str:
    rows = k // bands
    # minhash_params(k)[:rows] == minhash_params(rows) (params depend only
    # on the function index), so the first band of a k-signature IS the
    # rows-length signature — compute just those `rows` mins, over h32
    # values hashed once per shingle.
    return f"""
    WITH base AS MATERIALIZED (
      SELECT doc, sh, {X.minhash_sig_from_hashes_sql('hv', rows)} AS block
      FROM (SELECT doc, sh, {X.hashed_shingles_sql('sh')} AS hv
            FROM (SELECT {id_col} AS doc, {X.shingles_sql(text_col, n)} AS sh
                  FROM ({docs_sql})))
    )
    SELECT a.doc AS doc_a, b.doc AS doc_b,
           len(list_intersect(a.sh, b.sh))::BIGINT AS n_common,
           (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)))::BIGINT AS n_union
    FROM base a JOIN base b ON a.block = b.block AND a.doc < b.doc
    WHERE len(list_intersect(a.sh, b.sh)) * 100
          >= (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) * {min_jaccard_pct}
    """


def ngram_jaccard_pairs(
    docs: DataFrame,
    n: int = 3,
    min_jaccard_pct: int = 30,
    block_col: str = "lang",
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Exact word-n-gram Jaccard over pairs within a raw-attribute block —
    the ground-truth baseline the LSH variants are measured against in
    TESTS ONLY.  All-pairs within a block is O(block²), so the registered
    scale path is ngram_jaccard_banded_pairs (minhash-band block key)."""
    base = docs.select(
        F.col(id_col).alias("doc"),
        F.col(block_col).alias("block"),
        X.shingles_col(F.col(text_col), n).alias("sh"),
    )
    a, b = base.alias("a"), base.alias("b")
    pairs = a.join(
        b, (F.col("a.block") == F.col("b.block")) & (F.col("a.doc") < F.col("b.doc"))
    ).select(
        F.col("a.doc").alias("doc_a"),
        F.col("b.doc").alias("doc_b"),
        F.size(F.array_intersect("a.sh", "b.sh")).cast("long").alias("n_common"),
        F.size(F.array_union("a.sh", "b.sh")).cast("long").alias("n_union"),
    )
    return pairs.where(F.col("n_common") * 100 >= F.col("n_union") * min_jaccard_pct)


# ------------------------------------------------------- chunk-level dedup


def chunk_dedup(
    docs: DataFrame,
    chunk_tokens: int = 10,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Span-level exact dedup — the C4 three-sentence-span rule (Raffel et
    al. 2020 §2.2) over fixed token windows: split each document into
    consecutive ``chunk_tokens``-token chunks, keep only the globally
    FIRST occurrence of every chunk (order by (doc_id, position)), and
    reassemble the surviving text.

    Scale shape: the only shuffle keys are ``md5(chunk)`` (the global
    first-occurrence window) and ``doc_id`` (the reassembly) — each chunk
    string crosses the wire once; no pairwise comparison exists anywhere.
    Returns (id_col, n_chunks, n_kept, text_dedup) for every input doc —
    fully-deduplicated docs survive with n_kept = 0 and empty text."""
    from pyspark.sql.window import Window as W

    toks = X.tokens_col(F.col(text_col))
    n_chunks = F.ceil(F.size(toks) / F.lit(chunk_tokens)).cast("int")
    chunks = F.transform(
        F.sequence(F.lit(0), n_chunks - 1),
        lambda i: F.concat_ws(
            " ", F.slice(toks, i * chunk_tokens + 1, chunk_tokens)
        ),
    )
    base = docs.select(
        F.col(id_col), n_chunks.alias("n_chunks"), chunks.alias("chunks")
    )
    exploded = base.select(
        id_col, "n_chunks", F.posexplode("chunks").alias("pos", "chunk")
    ).withColumn("h", F.md5("chunk"))
    w = W.partitionBy("h").orderBy(F.col(id_col), F.col("pos"))
    kept = exploded.withColumn("occ", F.row_number().over(w)).where(
        F.col("occ") == 1
    )
    rebuilt = kept.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("int").alias("n_kept"),
        F.concat_ws(
            " ",
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "chunk"))),
                lambda s: s["chunk"],
            ),
        ).alias("text_dedup"),
    )
    return (
        base.select(id_col, "n_chunks")
        .join(rebuilt, id_col, "left")
        .select(
            id_col,
            "n_chunks",
            F.coalesce(F.col("n_kept"), F.lit(0)).cast("int").alias("n_kept"),
            F.coalesce(F.col("text_dedup"), F.lit("")).alias("text_dedup"),
        )
    )


def chunk_dedup_sql(
    docs_sql: str,
    chunk_tokens: int = 10,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> str:
    toks = X.tokens_sql(text_col)
    k = chunk_tokens
    return f"""
    WITH base AS (
      SELECT {id_col},
             list_transform(range(((len({toks}) + {k} - 1) // {k})::INT),
               i -> array_to_string({toks}[i * {k} + 1 : i * {k} + {k}], ' '))
               AS chunks
      FROM ({docs_sql})),
    ex AS (
      SELECT {id_col}, len(chunks)::INT AS n_chunks,
             unnest(chunks) AS chunk,
             generate_subscripts(chunks, 1) - 1 AS pos
      FROM base),
    kept AS (
      SELECT * FROM (
        SELECT {id_col}, n_chunks, pos, chunk,
               row_number() OVER (PARTITION BY md5(chunk)
                                  ORDER BY {id_col}, pos) AS occ
        FROM ex) WHERE occ = 1),
    rebuilt AS (
      SELECT {id_col}, count(*)::INT AS n_kept,
             string_agg(chunk, ' ' ORDER BY pos) AS text_dedup
      FROM kept GROUP BY {id_col})
    SELECT b.{id_col}, len(b.chunks)::INT AS n_chunks,
           coalesce(r.n_kept, 0)::INT AS n_kept,
           coalesce(r.text_dedup, '') AS text_dedup
    FROM base b LEFT JOIN rebuilt r USING ({id_col})
    """

# ---------------------------------------------------------- decontamination


def decontaminate(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 8,
    eval_mod: int = 50,
) -> DataFrame:
    """Train/eval n-gram decontamination: flag every training document that
    shares ANY word n-gram with a held-out eval document (GPT-3 appendix C
    / Gopher style test-set leakage removal).  Eval membership is the
    deterministic rule `id % eval_mod == 0`; output is one row per TRAIN
    doc with a 0/1 `contaminated` flag.

    Scale shape: n-grams compact to md5 16-byte keys before any shuffle;
    the eval side (benchmarks are MBs while corpora are TBs) is DISTINCT'd
    and broadcast, so the train side's grams are tested in-partition by a
    broadcast semi-join — the corpus text never shuffles.  The final flag
    join is id-keyed.  At 100 TB the eval gram set (≤ a few hundred MB of
    md5s) still broadcasts; if it ever didn't, the same plan degrades
    gracefully to a shuffle semi-join on the 16-byte key.
    """
    is_eval = F.col(id_col) % eval_mod == 0

    def gram_keys(df: DataFrame) -> DataFrame:
        return df.select(
            F.col(id_col),
            F.explode(X.shingles_col(F.col(text_col), n)).alias("_g"),
        ).select(id_col, F.md5("_g").alias("gk"))

    eval_keys = gram_keys(docs.where(is_eval)).select("gk").distinct()
    train = docs.where(~is_eval)
    hit = (
        gram_keys(train)
        .join(F.broadcast(eval_keys), "gk", "left_semi")
        .select(id_col)
        .distinct()
        .withColumn("contaminated", F.lit(1))
    )
    return (
        train.select(id_col)
        .join(hit, id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce("contaminated", F.lit(0)).cast("int").alias("contaminated"),
        )
    )


def decontaminate_sql(
    docs_sql: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 8,
    eval_mod: int = 50,
) -> str:
    sh = X.shingles_sql(text_col, n)
    return f"""
    WITH base AS (SELECT * FROM ({docs_sql})),
    evg AS (SELECT DISTINCT md5(g) AS gk
            FROM (SELECT unnest({sh}) AS g FROM base
                  WHERE {id_col} % {eval_mod} = 0)),
    trg AS (SELECT {id_col}, md5(g) AS gk
            FROM (SELECT {id_col}, unnest({sh}) AS g FROM base
                  WHERE {id_col} % {eval_mod} != 0)),
    cont AS (SELECT DISTINCT {id_col} FROM trg WHERE gk IN (SELECT gk FROM evg))
    SELECT b.{id_col},
           (CASE WHEN c.{id_col} IS NOT NULL THEN 1 ELSE 0 END)::INT AS contaminated
    FROM base b LEFT JOIN cont c USING ({id_col})
    WHERE b.{id_col} % {eval_mod} != 0
    """


# ------------------------------------------------------------- dup clusters


def dup_clusters(
    docs: DataFrame,
    k: int = 16,
    bands: int = 4,
    min_jaccard_pct: int = 50,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_iters: int = 20,
) -> DataFrame:
    """Near-duplicate CLUSTERS: connected components over the MinHash-LSH
    pair graph — the step that turns pairwise near-dup hits into "keep one
    doc per cluster" decisions (the standard final stage of web-scale
    dedup; pairs alone over-count when A~B, B~C but the pipeline drops
    both B and C).

    Returns (id_col, cluster_rep, cluster_size) for every doc that appears
    in at least one verified pair; cluster_rep is the minimum doc id of the
    component (deterministic canonical choice, same rule as exact_dedup).

    Scale shape: iterative min-label propagation — each round is one
    O(E) equi-join shuffle plus an id-keyed group-by; rounds needed =
    graph diameter, and near-dup components are hash-cluster-shaped
    (diameter a small constant), so the loop converges in a handful of
    rounds even at 10^10 docs.  Convergence is detected by an observe()-
    style changed-label count (an O(V) aggregate per round, no collect of
    rows); every round's label table is persisted and the previous one
    released, so lineage stays one-round deep — the Pregel pattern
    (Malewicz et al. 2010) / large-star convergence argument (Kiveris et
    al. 2014, "Connected Components in MapReduce and Beyond").
    """
    pairs = minhash_lsh_pairs(
        docs,
        k=k,
        bands=bands,
        min_jaccard_pct=min_jaccard_pct,
        text_col=text_col,
        id_col=id_col,
    ).select("doc_a", "doc_b")
    # symmetric edge list; persisted — every round joins against it
    edges = (
        pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
        .unionByName(
            pairs.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst"))
        )
        .persist()
    )
    labels = (
        edges.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
        .persist()
    )
    prev_sum = None
    for _ in range(max_iters):
        # min over {own label} ∪ {neighbors' labels}.  (A pointer-jumping
        # variant — label ← label(label) — was measured 2.6× SLOWER here:
        # the extra per-round join outweighs the saved rounds because
        # near-dup components are band-join near-cliques with tiny
        # diameters, so the plain propagation already converges in a
        # handful of O(E)-shuffle rounds.)
        msgs = edges.join(
            labels.withColumnRenamed("node", "src"), "src"
        ).select(F.col("dst").alias("node"), "label")
        new_labels = (
            labels.unionByName(msgs)
            .groupBy("node")
            .agg(F.min("label").alias("label"))
            .persist()
        )
        # convergence: labels are per-node MONOTONE NON-INCREASING, so the
        # fixpoint is reached exactly when sum(label) stops falling — one
        # O(V) aggregate per round instead of a new-vs-old equi-join
        new_sum = new_labels.agg(F.sum("label")).collect()[0][0]
        labels.unpersist()
        labels = new_labels
        if new_sum == prev_sum:
            break
        prev_sum = new_sum
    sizes = labels.groupBy("label").agg(F.count(F.lit(1)).alias("cluster_size"))
    out = labels.join(sizes, "label").select(
        F.col("node").alias(id_col),
        F.col("label").alias("cluster_rep"),
        F.col("cluster_size").cast("long"),
    ).localCheckpoint(eager=True)  # materialize, then release all caches
    labels.unpersist()
    edges.unpersist()
    return out


def dup_clusters_sql(
    docs_sql: str,
    k: int = 16,
    bands: int = 4,
    min_jaccard_pct: int = 50,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> str:
    """DuckDB oracle: transitive closure by recursive CTE (UNION dedup
    terminates it), then min-reachable-id per node — independent of the
    Spark-side propagation loop."""
    pairs = minhash_lsh_pairs_sql(
        docs_sql,
        k=k,
        bands=bands,
        min_jaccard_pct=min_jaccard_pct,
        text_col=text_col,
        id_col=id_col,
    )
    return f"""
    WITH RECURSIVE pairs AS ({pairs}),
    edges AS (
      SELECT doc_a AS src, doc_b AS dst FROM pairs
      UNION
      SELECT doc_b AS src, doc_a AS dst FROM pairs
    ),
    reach(node, r) AS (
      SELECT src, src FROM edges
      UNION
      SELECT e.dst, reach.r FROM reach JOIN edges e ON e.src = reach.node
    ),
    lab AS (SELECT node, MIN(r) AS cluster_rep FROM reach GROUP BY node)
    SELECT node AS {id_col}, cluster_rep,
           COUNT(*) OVER (PARTITION BY cluster_rep)::BIGINT AS cluster_size
    FROM lab
    """


# ------------------------------------------------------------- containment


def containment_pairs(
    docs: DataFrame,
    sketch_k: int = 8,
    block_cap: int = 64,
    min_containment_pct: int = 95,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """One-sided containment near-dups: pairs where the SMALLER doc's
    shingle set is ≥ threshold contained in the larger's —
    |A∩B| / min(|A|,|B|), Broder 1997's containment coefficient.  This
    is the dup class Jaccard misses: a page quoted or truncated inside
    a longer page scores low Jaccard (the union is large) but ~100%
    containment, so symmetric MinHash banding has near-zero recall on
    exactly the pairs that matter.

    Blocking is therefore a bottom-k sketch, which IS containment-
    aware: docs are candidates when their k smallest shingle hashes
    intersect.  If A ⊆ B, min-hash(A) is the minimum of an |A|-subset
    of B's hashes, so its rank in B is ~|B|/|A| — inside B's bottom-k
    with overwhelming probability for any containment ratio ≥ k⁻¹.
    Ubiquitous blocks (a boilerplate shingle that hashes small
    corpus-wide) are dropped at `block_cap` docs — they are non-
    discriminative and would otherwise quadratically skew the
    self-join; the cap makes the block join's worst key O(cap²).
    Verification is exact shingle intersection on candidates only.

    The shingle/hash transform and the exact-intersection verify are
    CPU-per-row, not shuffle, so they are floor-bound by the INPUT's
    partition count: a small-file read (sf0.1 = 2 parquet splits) pinned
    the whole query to 2 cores (r4's "unattributed 9 s constant" — the
    scale exponent was 0.03 exactly because the wall was a parallelism
    floor, not data).  Widen to the session's core count when the input
    arrives narrower; at real scale the input already has more splits
    than cores and this is a no-op."""
    target = docs.sparkSession.sparkContext.defaultParallelism
    if docs.rdd.getNumPartitions() < target:
        docs = docs.repartition(target)
    base = (
        docs.select(
            F.col(id_col).alias("doc"),
            X.shingles_col(F.col(text_col)).alias("sh"),
        )
        .withColumn(
            "bk",
            F.slice(
                F.array_sort(F.transform("sh", X.h32_col)), 1, sketch_k
            ),
        )
        .persist()
    )
    blocks = base.select("doc", F.explode("bk").alias("bh"))
    keep_keys = (
        blocks.groupBy("bh")
        .agg(F.count(F.lit(1)).alias("n"))
        .where((F.col("n") >= 2) & (F.col("n") <= block_cap))
        .select("bh")
    )
    kb = blocks.join(keep_keys, "bh")
    a, b = kb.alias("a"), kb.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.bh") == F.col("b.bh")) & (F.col("a.doc") < F.col("b.doc")),
        )
        .select(F.col("a.doc").alias("doc_a"), F.col("b.doc").alias("doc_b"))
        .dropDuplicates(["doc_a", "doc_b"])
    )
    sh = base.select("doc", "sh")
    verified = (
        cand.join(
            sh.select(F.col("doc").alias("doc_a"), F.col("sh").alias("sh_a")),
            "doc_a",
        )
        .join(
            sh.select(F.col("doc").alias("doc_b"), F.col("sh").alias("sh_b")),
            "doc_b",
        )
        .select(
            "doc_a",
            "doc_b",
            F.size(F.array_intersect("sh_a", "sh_b")).cast("long").alias("n_common"),
            F.least(F.size("sh_a"), F.size("sh_b")).cast("long").alias("n_small"),
        )
        .where(F.col("n_small") > 0)
    )
    out = verified.where(
        F.col("n_common") * 100 >= F.col("n_small") * min_containment_pct
    ).localCheckpoint(eager=True)  # materialize, then release the cache
    base.unpersist()
    return out


def containment_pairs_sql(
    docs_sql: str,
    sketch_k: int = 8,
    block_cap: int = 64,
    min_containment_pct: int = 95,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> str:
    return f"""
    WITH base AS MATERIALIZED (
      SELECT doc, sh,
             list_sort({X.hashed_shingles_sql('sh')})[1:{sketch_k}] AS bk
      FROM (SELECT {id_col} AS doc, {X.shingles_sql(text_col)} AS sh
            FROM ({docs_sql}))
    ), blocks AS MATERIALIZED (
      SELECT doc, unnest(bk) AS bh FROM base
    ), keep_keys AS (
      SELECT bh FROM blocks GROUP BY bh
      HAVING count(*) >= 2 AND count(*) <= {block_cap}
    ), kb AS (
      SELECT doc, bh FROM blocks JOIN keep_keys USING (bh)
    ), cand AS (
      SELECT DISTINCT a.doc AS doc_a, b.doc AS doc_b
      FROM kb a JOIN kb b ON a.bh = b.bh AND a.doc < b.doc
    )
    SELECT c.doc_a, c.doc_b,
           len(list_intersect(sa.sh, sb.sh))::BIGINT AS n_common,
           least(len(sa.sh), len(sb.sh))::BIGINT AS n_small
    FROM cand c
    JOIN base sa ON sa.doc = c.doc_a
    JOIN base sb ON sb.doc = c.doc_b
    WHERE least(len(sa.sh), len(sb.sh)) > 0
      AND len(list_intersect(sa.sh, sb.sh)) * 100
          >= least(len(sa.sh), len(sb.sh)) * {min_containment_pct}
    """


# --------------------------------------------- content-defined chunking

CDC_MOD = 8  # boundary probability 1/8 -> mean chunk length ~8 tokens


def cdc_chunks(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Content-defined chunking dedup (the LBFS/Gear idea at token
    granularity): a token STARTS a new chunk when md5(token) mod
    CDC_MOD == 0, so chunk boundaries are a function of content alone —
    insert one word at the top of a boilerplate block and every chunk
    after the next boundary still aligns, which fixed-window chunking
    (chunk_dedup above) cannot do.  Reports every chunk that repeats
    across the corpus: (chunk_md5, n_toks, n_docs, n_occ), n_occ >= 2.

    Scale shape: the chunker is one JVM-side linear fold per document
    (F.aggregate over the token array — no explode of tokens, no
    Python); only (chunk_md5, n_toks, doc_id) rows shuffle to the
    group-by, so raw text never crosses the wire."""
    toks = X.tokens_col(F.col(text_col))

    def _is_boundary(t):
        return (
            F.conv(F.substring(F.md5(t), 1, 2), 16, 10).cast("long")
            % CDC_MOD
            == 0
        )

    # `started` (not cur != '') distinguishes "no tokens yet" from "first
    # token was the empty string", so whitespace-degenerate docs chunk
    # identically to the SQL twin's pos-1 rule.
    init = F.struct(
        F.array().cast("array<string>").alias("chunks"),
        F.lit("").alias("cur"),
        F.lit(False).alias("started"),
    )

    def _merge(acc, t):
        start_new = _is_boundary(t) & acc["started"]
        return F.struct(
            F.when(start_new, F.concat(acc["chunks"], F.array(acc["cur"])))
            .otherwise(acc["chunks"])
            .alias("chunks"),
            F.when(start_new | ~acc["started"], t)
            .otherwise(F.concat(acc["cur"], F.lit(" "), t))
            .alias("cur"),
            F.lit(True).alias("started"),
        )

    def _finish(acc):
        return F.when(
            acc["started"], F.concat(acc["chunks"], F.array(acc["cur"]))
        ).otherwise(acc["chunks"])

    chunks = F.aggregate(toks, init, _merge, _finish)
    ex = docs.select(F.col(id_col).alias("doc"), F.explode(chunks).alias("chunk"))
    per = ex.select(
        "doc",
        F.md5("chunk").alias("chunk_md5"),
        F.size(F.split(F.col("chunk"), " ")).cast("int").alias("n_toks"),
    )
    return (
        per.groupBy("chunk_md5")
        .agg(
            F.min("n_toks").alias("n_toks"),
            F.countDistinct("doc").cast("long").alias("n_docs"),
            F.count(F.lit(1)).cast("long").alias("n_occ"),
        )
        .where(F.col("n_occ") >= 2)
    )


def cdc_chunks_sql(
    docs_sql: str, text_col: str = "text", id_col: str = "doc_id"
) -> str:
    """DuckDB twin of cdc_chunks via an independent algorithm: window
    cumulative-sum chunk ids (the fold's 'boundary starts a chunk except
    at position 1' rule becomes nb=0 at pos 1)."""
    toks = X.tokens_sql(text_col)
    return f"""
    WITH base AS (
      SELECT {id_col} AS doc, {toks} AS toks FROM ({docs_sql})),
    ex AS (
      SELECT doc, unnest(toks) AS tok,
             generate_subscripts(toks, 1) AS pos
      FROM base),
    b AS (
      SELECT doc, pos, tok,
             CASE WHEN pos > 1
                   AND ('0x' || substr(md5(tok), 1, 2))::BIGINT
                       % {CDC_MOD} = 0
                  THEN 1 ELSE 0 END AS nb
      FROM ex),
    cid AS (
      SELECT doc, pos, tok,
             sum(nb) OVER (PARTITION BY doc ORDER BY pos) AS chunk_id
      FROM b),
    ch AS (
      SELECT doc, chunk_id,
             string_agg(tok, ' ' ORDER BY pos) AS chunk,
             count(*)::INT AS n_toks
      FROM cid GROUP BY doc, chunk_id)
    SELECT md5(chunk) AS chunk_md5, min(n_toks)::INT AS n_toks,
           count(DISTINCT doc)::BIGINT AS n_docs,
           count(*)::BIGINT AS n_occ
    FROM ch GROUP BY md5(chunk) HAVING count(*) >= 2
    """


# ------------------------------------------------------ truncation families


def prefix_families(
    docs: DataFrame,
    k: int = 32,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Truncation-duplicate families: documents sharing their first
    ``k`` tokens — the pattern real crawls produce when the same page
    is captured at different truncation lengths (CDN cutoffs, fetch
    timeouts), which full-text exact dedup misses and MinHash only
    catches above the Jaccard floor.  Docs shorter than k tokens are
    out of scope (their prefix is the whole doc; exact dedup owns
    them).

    Scale shape: the family key is md5(first-k-tokens) computed in the
    scan, so only (key, n_toks, id) rows shuffle; families are a plain
    group-by with map-side combine."""
    toks = X.tokens_col(F.col(text_col))
    per = docs.select(
        F.col(id_col),
        F.size(toks).cast("long").alias("n_toks"),
        F.md5(F.concat_ws(" ", F.slice(toks, 1, k))).alias("prefix_md5"),
    ).where(F.col("n_toks") >= k)
    return (
        per.groupBy("prefix_md5")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.min("n_toks").alias("min_toks"),
            F.max("n_toks").alias("max_toks"),
        )
        .where(F.col("n_docs") >= 2)
        .select(
            "prefix_md5",
            "n_docs",
            "min_toks",
            "max_toks",
            (F.col("min_toks") < F.col("max_toks")).cast("int").alias("truncated"),
        )
    )


def prefix_families_sql(
    docs_sql: str, k: int = 32, text_col: str = "text", id_col: str = "doc_id"
) -> str:
    toks = X.tokens_sql(text_col)
    return f"""
    WITH per AS (
      SELECT {id_col}, len({toks})::BIGINT AS n_toks,
             md5(array_to_string(({toks})[1:{k}], ' ')) AS prefix_md5
      FROM ({docs_sql})
      WHERE len({toks}) >= {k})
    SELECT prefix_md5, count(*)::BIGINT AS n_docs,
           min(n_toks)::BIGINT AS min_toks, max(n_toks)::BIGINT AS max_toks,
           (min(n_toks) < max(n_toks))::INT AS truncated
    FROM per GROUP BY prefix_md5 HAVING count(*) >= 2
    """


# ------------------------------------------------------ incremental dedup


def incremental_dedup(
    corpus: DataFrame,
    batch: DataFrame,
    k: int = 16,
    bands: int = 4,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Continuous-crawl dedup: triage a NEW batch against the existing
    corpus without ever re-pairing the corpus with itself — the
    steady-state shape of dedup at 100 TB, where the corpus is huge and
    append-only and each day's batch is small.  Per batch doc:
    ``exact_dup`` (md5 seen in corpus), ``band_hit`` (shares >= 1
    MinHash band bucket with any corpus doc — the LSH candidate
    signal), ``keep`` = neither.

    Scale shape: corpus-side work is one scan producing 16-byte keys
    and narrow band rows (both semi-join build sides); batch text never
    shuffles; nothing is quadratic in corpus size."""
    rows = k // bands

    def _sig(df: DataFrame) -> DataFrame:
        return (
            df.select(
                F.col(id_col).alias("doc"),
                X.shingles_col(F.col(text_col)).alias("sh"),
                F.md5(F.col(text_col)).alias("ck"),
            )
            .withColumn("hsh", F.transform("sh", X.h32_col))
            .withColumn("sig", X.minhash_sig_from_hashes(F.col("hsh"), k))
            .select("doc", "ck", "sig")
        )

    def _bands(df: DataFrame) -> DataFrame:
        return df.select(
            "doc",
            F.posexplode(
                F.array(
                    *[
                        F.slice(F.col("sig"), b * rows + 1, rows).cast(
                            "array<long>"
                        )
                        for b in range(bands)
                    ]
                )
            ).alias("band_idx", "band_val"),
        )

    csig = _sig(corpus).persist()
    bsig = _sig(batch).persist()
    ckeys = csig.select("ck").distinct().withColumn("exact_dup", F.lit(1))
    ex = bsig.join(ckeys, "ck", "left").select(
        "doc", F.coalesce("exact_dup", F.lit(0)).alias("exact_dup")
    )
    cb = _bands(csig).select("band_idx", "band_val").distinct()
    hits = (
        _bands(bsig)
        .join(cb, ["band_idx", "band_val"], "left_semi")
        .select("doc")
        .distinct()
        .withColumn("band_hit", F.lit(1))
    )
    out = (
        ex.join(hits, "doc", "left")
        .select(
            F.col("doc").alias(id_col),
            F.col("exact_dup").cast("int").alias("exact_dup"),
            F.coalesce("band_hit", F.lit(0)).cast("int").alias("band_hit"),
            (
                (F.col("exact_dup") == 0)
                & (F.coalesce("band_hit", F.lit(0)) == 0)
            )
            .cast("int")
            .alias("keep"),
        )
        .localCheckpoint(eager=True)  # materialize, then release the caches
    )
    csig.unpersist()
    bsig.unpersist()
    return out


def incremental_dedup_sql(
    corpus_sql: str,
    batch_sql: str,
    k: int = 16,
    bands: int = 4,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> str:
    rows = k // bands
    sig = X.minhash_sig_from_hashes_sql("hv", k)
    inner = (
        f"SELECT {id_col} AS doc, md5({text_col}) AS ck, "
        f"{X.hashed_shingles_sql(X.shingles_sql(text_col))} AS hv"
    )
    return f"""
    WITH csig AS MATERIALIZED (
      SELECT doc, ck, {sig} AS sig
      FROM ({inner} FROM ({corpus_sql}))),
    bsig AS MATERIALIZED (
      SELECT doc, ck, {sig} AS sig
      FROM ({inner} FROM ({batch_sql}))),
    bi AS (SELECT unnest(generate_series(0, {bands - 1})) AS band_idx),
    cb AS (
      SELECT DISTINCT bi.band_idx,
             sig[bi.band_idx * {rows} + 1 : bi.band_idx * {rows} + {rows}]
               AS band_val
      FROM csig, bi),
    bb AS (
      SELECT doc, bi.band_idx,
             sig[bi.band_idx * {rows} + 1 : bi.band_idx * {rows} + {rows}]
               AS band_val
      FROM bsig, bi),
    hits AS (
      SELECT DISTINCT bb.doc FROM bb
      JOIN cb ON cb.band_idx = bb.band_idx AND cb.band_val = bb.band_val),
    ckeys AS (SELECT DISTINCT ck FROM csig)
    SELECT b.doc AS {id_col},
           (b.ck IN (SELECT ck FROM ckeys))::INT AS exact_dup,
           (b.doc IN (SELECT doc FROM hits))::INT AS band_hit,
           (b.ck NOT IN (SELECT ck FROM ckeys)
            AND b.doc NOT IN (SELECT doc FROM hits))::INT AS keep
    FROM bsig b
    """
