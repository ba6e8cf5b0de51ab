"""Batch analytics layer (SURVEY.md §2.4 R1-R16) — the Spark rebuild of
BingDataAnalysis.java / BingDataAnalysisUtils.java.

The reference walks the profilesDb cursor once per derived table
(BingDataAnalysis.java:240-270) and maintains seven bean stores with
hand-coded upserts; here each derived table is a declarative query over
the ``profiles`` DataFrame (schema: synth.PROFILES_SCHEMA) and Catalyst
owns the ordering — the reference's explicit dependency chain
(authors → keywords → journals, BingDataAnalysis.java:137-198) is just a
DAG of broadcast joins.

Top-K tie-break parity (R7, WeightDbManager.java:130-159): the BDB
weight-index cursor walks duplicates in reverse via getPrev, so strict
parity is ORDER BY weight DESC, key DESC — reproduced everywhere.

Scale notes: every group-by here is a partial-aggregatable shape
(count/sum/collect_set on an exploded edge table); the enrich joins
broadcast the smaller rollup side; the all-pairs SimHash report (R12)
uses banding at scale (dataops.dedup.simhash_neardup_pairs) — the
crossJoin form below matches the reference's O(n²) loop only for the
oracle-scale corpus.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.window import Window as W

from bingcrawler_spark.indexing import sql_lit

TOP_COUNT = 50  # BingDataAnalysis.java:97


def _ranked(df: DataFrame, weight_col: str, key_col: str, k: int) -> DataFrame:
    """R7: top-K by (weight DESC, key DESC) with 1-based rank."""
    w = W.orderBy(F.col(weight_col).desc(), F.col(key_col).desc())
    return (
        df.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .withColumn("rank", F.col("rank").cast("int"))
    )


# ------------------------------------------------------------- R2/R3/R4


def author_counts(profiles: DataFrame) -> DataFrame:
    """R2 (BingDataAnalysis.java:335-363): author → distinct profile count."""
    return (
        profiles.select(F.explode("authors").alias("author"), "title")
        .groupBy("author")
        .agg(F.countDistinct("title").cast("long").alias("weight"))
    )


# ------------------------------------------------------------------ R5/R6


def timeline(profiles: DataFrame) -> DataFrame:
    """R5 (BingDataAnalysisUtils.java:112-145): per-year aggregates.
    linked_cited_by = |citedPapers| (Timeline.java:137-147 semantics)."""
    return profiles.groupBy("year").agg(
        F.countDistinct("title").cast("long").alias("n_profiles"),
        F.sum("cited_by").cast("long").alias("total_cited_by"),
        F.sum(F.size("cited_papers")).cast("long").alias("total_linked_cited_by"),
    )


def five_year_buckets(profiles: DataFrame, top_keywords: int = 5) -> DataFrame:
    """R6 (:49-108): [start, start+4] buckets with top keywords per bucket.
    Returns one row per (bucket, keyword rank) — ranked rows instead of a
    formatted map string (formatTopMapStr, Util.java:101-131 → R13)."""
    bucketed = profiles.withColumn(
        "bucket", (F.floor(F.col("year") / 5) * 5).cast("int")
    )
    per_bucket = bucketed.groupBy("bucket").agg(
        F.countDistinct("title").cast("long").alias("n_profiles"),
        F.sum("cited_by").cast("long").alias("total_cited_by"),
    )
    kw = (
        bucketed.select("bucket", F.explode("keywords").alias("keyword"))
        .groupBy("bucket", "keyword")
        .agg(F.count(F.lit(1)).cast("long").alias("kw_count"))
    )
    wkw = W.partitionBy("bucket").orderBy(F.col("kw_count").desc(), F.col("keyword").desc())
    top = kw.withColumn("kw_rank", F.row_number().over(wkw).cast("int")).where(
        F.col("kw_rank") <= top_keywords
    )
    return per_bucket.join(top, "bucket").select(
        "bucket", "n_profiles", "total_cited_by", "keyword", "kw_count", "kw_rank"
    )


# ------------------------------------------------------------------ R8


def rank_profiles_3way(profiles: DataFrame, k: int = TOP_COUNT) -> DataFrame:
    """R8 (BingDataAnalysis.java:305-333): three ranked tables — weight :=
    citedBy | |citedPapers| | |downloadUrls|+|sourceUrls| — unioned with a
    `ranking` discriminator column."""
    m1 = profiles.select(
        F.lit("cited_by").alias("ranking"),
        "title",
        F.col("cited_by").cast("long").alias("weight"),
    )
    m2 = profiles.select(
        F.lit("linked_cited_by").alias("ranking"),
        "title",
        F.size("cited_papers").cast("long").alias("weight"),
    )
    m3 = profiles.select(
        F.lit("sources").alias("ranking"),
        "title",
        (F.size("download_urls") + F.size("source_urls")).cast("long").alias("weight"),
    )
    # the R7 tie-break contract (weight DESC, key DESC) lives in ONE
    # place — _ranked — so the three rankings cannot drift from top-K
    out = [_ranked(m, "weight", "title", k) for m in (m1, m2, m3)]
    return out[0].unionByName(out[1]).unionByName(out[2])


# ------------------------------------------------------------------ R9


def author_rollup(profiles: DataFrame) -> DataFrame:
    """R9 (BingDataAnalysisUtils.java:285-339): per-author totals with the
    reference's INT-division average over profiles with citedBy > 0."""
    edges = profiles.select(
        F.explode("authors").alias("author"),
        "title",
        "cited_by",
        F.size("cited_papers").alias("n_linked"),
        "journal",
        "year",
    )
    agg = edges.groupBy("author").agg(
        F.countDistinct("title").cast("long").alias("n_profiles"),
        F.sum("cited_by").cast("long").alias("total_cited_by"),
        F.sum(F.when(F.col("cited_by") > 0, 1).otherwise(0)).alias("_n_pos"),
        F.sum("n_linked").cast("long").alias("total_linked_cited_by"),
        F.countDistinct("journal").cast("long").alias("n_journals"),
        F.countDistinct("year").cast("long").alias("n_years"),
    )
    avg = F.when(
        F.col("_n_pos") > 0, F.floor(F.col("total_cited_by") / F.col("_n_pos"))
    ).otherwise(F.lit(0))
    return agg.withColumn("avg_cited_by", avg.cast("long")).drop("_n_pos")


# ------------------------------------------------------------------ R10


def keyword_cooccurrence(profiles: DataFrame) -> DataFrame:
    """R10 relatedKeywords (Keyword.java:68-88): keyword pairs co-occurring
    on a profile, with pair count and the left keyword's profile count
    (relatedness% = pair_count / n_left in the reference's report)."""
    e = profiles.select("title", F.explode("keywords").alias("kw")).distinct()
    a, b = e.alias("a"), e.alias("b")
    pairs = (
        a.join(b, "title")
        .where(F.col("a.kw") < F.col("b.kw"))
        .groupBy(F.col("a.kw").alias("kw_a"), F.col("b.kw").alias("kw_b"))
        .agg(F.count(F.lit(1)).cast("long").alias("pair_count"))
    )
    left_counts = e.groupBy(F.col("kw").alias("kw_a")).agg(
        F.countDistinct("title").cast("long").alias("n_left")
    )
    return pairs.join(F.broadcast(left_counts), "kw_a")


# ------------------------------------------------------------------ R11


def journal_rollup(profiles: DataFrame) -> DataFrame:
    """R11 (:148-195): per-journal totals enriched with its top author by
    the author table's total_cited_by (broadcast join against R9)."""
    base = profiles.groupBy("journal").agg(
        F.countDistinct("title").cast("long").alias("n_profiles"),
        F.sum("cited_by").cast("long").alias("total_cited_by"),
        F.countDistinct("year").cast("long").alias("n_years"),
    )
    authors = author_rollup(profiles).select("author", "total_cited_by")
    e = profiles.select("journal", F.explode("authors").alias("author")).distinct()
    ja = e.join(F.broadcast(authors), "author")
    wj = W.partitionBy("journal").orderBy(
        F.col("total_cited_by").desc(), F.col("author").desc()
    )
    top_auth = (
        ja.withColumn("_rn", F.row_number().over(wj))
        .where(F.col("_rn") == 1)
        .select("journal", F.col("author").alias("top_author"))
    )
    return base.join(top_auth, "journal", "left")


# ------------------------------------------------------------------ R12


def banded_candidates(
    fps: DataFrame, n_bands: int = 4, bits: int = 60
) -> DataFrame:
    """Candidate stage of banded_nn_report: directional (t_a, t_b,
    distance) pairs sharing at least one exact band — duplicates
    (multi-band pairs) NOT yet removed; the fused window tail in
    banded_nn_report handles them."""
    width = bits // n_bands
    banded = fps.select(
        F.col("title").alias("t"),
        F.col("simhash").alias("h"),
        F.posexplode(
            F.array(
                *[
                    (F.shiftright("simhash", b * width) % F.lit(1 << width)).cast(
                        "long"
                    )
                    for b in range(n_bands)
                ]
            )
        ).alias("band_idx", "band_val"),
    )
    a, b = banded.alias("a"), banded.alias("b")
    return a.join(
        b,
        (F.col("a.band_idx") == F.col("b.band_idx"))
        & (F.col("a.band_val") == F.col("b.band_val"))
        & (F.col("a.t") != F.col("b.t")),
    ).select(
        F.col("a.t").alias("t_a"),
        F.col("b.t").alias("t_b"),
        F.bit_count(F.col("a.h").bitwiseXOR(F.col("b.h"))).cast("int").alias("distance"),
    )


def banded_nn_report(
    fps: DataFrame, nearest: int = 5, n_bands: int = 4, bits: int = 60
) -> DataFrame:
    """R12 at scale (the registered form): nearest-`nearest` titles per
    title by hamming distance, with the candidate set generated by
    pigeonhole LSH banding (any pair within hamming < n_bands shares at
    least one exact 15-bit band) instead of the reference's all-pairs loop
    (BingDataAnalysisUtils.java:24-39).  The shuffle is an equi-join on
    (band_idx, band_val) — O(docs x bands) rows, never O(docs²); the
    window ranks only each title's banded candidates.  Candidates are kept
    directional (a→b and b→a) because nearest-N is per title.

    allpairs_simhash_report below keeps the exact-parity all-pairs form
    for oracle-scale verification of this approximation.

    Single-shuffle tail (r4): template-correlated corpora make band
    buckets degenerate (sf0.1 synth docs: 5.9M candidate pairs from 5k
    docs — ~24% of all-pairs), so the old dropDuplicates + window tail
    paid TWO 5.9M-row shuffles.  A duplicate pair (same t_a, t_b — the
    pair shared several bands) always carries the SAME distance, so in
    the window's own (distance, t_b) sort order duplicates are adjacent:
    one lag() flags them and a running sum of the flag IS the distinct
    rank.  Dedup + rank fuse into the one window exchange (measured
    7.6 s → 3.3 s at sf0.1, bit-identical output).

    PRECONDITION: `fps` must carry ONE fingerprint per title.  The
    adjacency argument above needs every duplicate (t_a, t_b) pair to
    share a distance; duplicate titles with different hashes would put
    distinct (t_b, distance) rows non-adjacent in the sort and the fused
    dedup would diverge from the old dropDuplicates form (which was
    itself nondeterministic on that input — dropDuplicates picks an
    arbitrary distance).  Both registered producers satisfy this (the
    profiles corpus is title-keyed; r15_backfill anti-joins on title);
    test_analytics::test_r12_banded_fused_tail_vs_old_tail pins the
    tail equivalence."""
    cand = banded_candidates(fps, n_bands=n_bands, bits=bits)
    w = W.partitionBy("t_a").orderBy(F.col("distance").asc(), F.col("t_b").asc())
    is_first = F.coalesce(F.lag("t_b", 1).over(w) != F.col("t_b"), F.lit(True))
    return (
        cand.withColumn("_first", is_first)
        .withColumn(
            "nn_rank",
            F.sum(F.col("_first").cast("int"))
            .over(w.rowsBetween(W.unboundedPreceding, 0))
            .cast("int"),
        )
        .where(F.col("_first") & (F.col("nn_rank") <= nearest))
        .select("t_a", "t_b", "distance", "nn_rank")
    )


def allpairs_simhash_report(fps: DataFrame, nearest: int = 10) -> DataFrame:
    """R12 (BingDataAnalysisUtils.java:24-39): nearest-`nearest` titles per
    title by hamming distance over 64-bit fingerprints.  crossJoin matches
    the reference's all-pairs loop — kept as the oracle-scale ground truth
    for banded_nn_report (the registered scale path); not in the driver
    catalog."""
    # NULL fingerprints are excluded up front, matching banded_nn_report
    # (whose band join can never match a NULL hash) — a NULL→-1 distance
    # would sort FIRST and displace real nearest neighbors at rank 1,
    # making the "exact" form disagree with the scale path on NULL rows
    nn = fps.where(F.col("simhash").isNotNull())
    a = nn.select(F.col("title").alias("t_a"), F.col("simhash").alias("h_a"))
    b = nn.select(F.col("title").alias("t_b"), F.col("simhash").alias("h_b"))
    pairs = a.crossJoin(b).where(F.col("t_a") != F.col("t_b"))
    dist = F.bit_count(F.col("h_a").bitwiseXOR(F.col("h_b")))
    w = W.partitionBy("t_a").orderBy(F.col("distance").asc(), F.col("t_b").asc())
    return (
        pairs.withColumn("distance", dist.cast("int"))
        .withColumn("nn_rank", F.row_number().over(w).cast("int"))
        .where(F.col("nn_rank") <= nearest)
        .select("t_a", "t_b", "distance", "nn_rank")
    )


# ------------------------------------------------------------------ R14


def counters(profiles: DataFrame, seen: DataFrame | None = None) -> DataFrame:
    """R14 (BingDataAnalysis.java:100-107): corpus counters as rows."""
    rows = [profiles.select(F.lit("profiles").alias("counter"), F.countDistinct("title").cast("long").alias("value"))]
    if seen is not None:
        rows.append(
            seen.select(F.lit("uni_urls").alias("counter"), F.count(F.lit(1)).cast("long").alias("value"))
        )
    out = rows[0]
    for r in rows[1:]:
        out = out.unionByName(r)
    return out


# ------------------------------------------------------------------ R16


def search_gate(candidates: DataFrame, expected: DataFrame) -> DataFrame:
    """R16 (BingParser.java:211-244): accept a candidate profile iff its
    40-char case-insensitive title prefix matches the expected title OR any
    expected author appears in the candidate's authors.

    The OR of two non-equi conditions would plan as a nested-loop join;
    instead each disjunct is its own EQUI-join — (1) on the computed
    40-char prefix key, (2) on exploded author — unioned and de-duplicated
    on the (cand, exp) pair.  Equivalent result set (titles are unique per
    profile), and both sides scale: shuffles on prefix/author keys instead
    of candidates × expected pairs."""
    c = candidates.select(
        F.col("title").alias("cand_title"), F.col("authors").alias("cand_authors")
    )
    e = expected.select(
        F.col("title").alias("exp_title"), F.col("authors").alias("exp_authors")
    )
    prefix = lambda col: F.lower(F.substring(col, 1, 40))  # noqa: E731
    by_title = c.join(
        e, prefix(F.col("cand_title")) == prefix(F.col("exp_title"))
    ).select("cand_title", "exp_title")
    ca = c.select("cand_title", F.explode("cand_authors").alias("_a"))
    ea = e.select("exp_title", F.explode("exp_authors").alias("_a"))
    by_author = ca.join(ea, "_a").select("cand_title", "exp_title")
    return by_title.unionByName(by_author).dropDuplicates(
        ["cand_title", "exp_title"]
    )


# ----------------------------------------------------------------- funnel


def funnel_stages(events: DataFrame, stages: list[str]) -> DataFrame:
    """Strict-order funnel over the events stream: a user counts at
    stage k only with an event of type stages[k] STRICTLY AFTER their
    first stage-(k-1) event — the sessionized conversion analytic
    (view -> click -> purchase) every web-analytics engine ships.

    Scale shape: one groupBy(user_id) min-reduce per stage plus an
    equi-join against the (|users|-sized) previous-stage relation; the
    event log streams through each stage's filter once, and no window
    over the full log exists.  Output is one integer row per stage."""
    from functools import reduce

    prev = (
        events.where(F.col("event_type") == stages[0])
        .groupBy("user_id")
        .agg(F.min("ts").alias("t"))
    )
    outs = [
        prev.agg(F.count(F.lit(1)).cast("long").alias("n_users")).select(
            F.lit(stages[0]).alias("stage"), "n_users"
        )
    ]
    for s in stages[1:]:
        prev = (
            events.where(F.col("event_type") == s)
            .join(prev.select("user_id", "t"), "user_id")
            .where(F.col("ts") > F.col("t"))
            .groupBy("user_id")
            .agg(F.min("ts").alias("t"))
        )
        outs.append(
            prev.agg(F.count(F.lit(1)).cast("long").alias("n_users")).select(
                F.lit(s).alias("stage"), "n_users"
            )
        )
    return reduce(lambda a, b: a.unionByName(b), outs)


def funnel_stages_sql(events_sql: str, stages: list[str]) -> str:
    ctes = [
        f"s0 AS (SELECT user_id, min(ts) AS t FROM ({events_sql})"
        f" WHERE event_type = {sql_lit(stages[0])} GROUP BY user_id)"
    ]
    for i, s in enumerate(stages[1:], start=1):
        ctes.append(
            f"s{i} AS (SELECT e.user_id, min(e.ts) AS t"
            f" FROM ({events_sql}) e JOIN s{i - 1} p ON p.user_id = e.user_id"
            f" WHERE e.event_type = {sql_lit(s)} AND e.ts > p.t GROUP BY e.user_id)"
        )
    sel = "\nUNION ALL ".join(
        f"SELECT {sql_lit(s)} AS stage, count(*)::BIGINT AS n_users FROM s{i}"
        for i, s in enumerate(stages)
    )
    return "WITH " + ",\n".join(ctes) + "\n" + sel


# -------------------------------------------------------------- retention


def retention_matrix(events: DataFrame, epoch: str = "2024-01-01") -> DataFrame:
    """Cohort retention: users grouped by first-seen day, counted on
    each later activity day — the (cohort_day, day_offset, n_users)
    triangle every product-analytics stack renders.  Day indexes are
    integer deltas from a fixed epoch date, so the output is
    engine-exact with no timestamp formatting anywhere.

    Scale shape: distinct (user, day) first (map-side dedup), one
    |users|-sized min-reduce for cohorts, one equi-join back, and a
    (cohort, offset)-keyed count — the event log never joins itself."""
    day = F.datediff(F.to_date("ts"), F.lit(epoch).cast("date"))
    ud = events.select("user_id", day.alias("day")).distinct()
    cohort = ud.groupBy("user_id").agg(F.min("day").alias("cohort_day"))
    return (
        ud.join(cohort, "user_id")
        .groupBy("cohort_day", (F.col("day") - F.col("cohort_day")).alias("day_offset"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_users"))
        .select(
            F.col("cohort_day").cast("int").alias("cohort_day"),
            F.col("day_offset").cast("int").alias("day_offset"),
            "n_users",
        )
    )


def retention_matrix_sql(events_sql: str, epoch: str = "2024-01-01") -> str:
    return f"""
    WITH ud AS (
      SELECT DISTINCT user_id,
             date_diff('day', DATE '{epoch}', ts::DATE) AS day
      FROM ({events_sql})),
    c AS (SELECT user_id, min(day) AS cohort_day FROM ud GROUP BY user_id)
    SELECT c.cohort_day::INT AS cohort_day,
           (ud.day - c.cohort_day)::INT AS day_offset,
           count(*)::BIGINT AS n_users
    FROM ud JOIN c USING (user_id)
    GROUP BY c.cohort_day, ud.day - c.cohort_day
    """


# --------------------------------------------------------- spike detection


def error_spikes(
    events: DataFrame,
    kind: str = "error",
    lookback: int = 24,
    threshold_pct: int = 150,
    min_prev: int = 6,
    epoch: str = "2024-01-01",
) -> DataFrame:
    """Trailing-window anomaly flags over hourly error counts: an hour
    is a spike when its count exceeds threshold_pct% of the trailing
    ``lookback``-hour mean (integer cross-multiplication — no float
    mean), given at least ``min_prev`` observed prior hours.  The
    window runs over the |hours|-sized aggregate, never the raw log."""
    hour = (
        F.datediff(F.to_date("ts"), F.lit(epoch).cast("date")) * 24
        + F.hour("ts")
    )
    hc = (
        events.where(F.col("event_type") == kind)
        .groupBy(hour.alias("hour_idx"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_errors"))
    )
    from pyspark.sql.window import Window as W

    w = W.orderBy("hour_idx").rowsBetween(-lookback, -1)
    return (
        hc.withColumn("prev_sum", F.coalesce(F.sum("n_errors").over(w), F.lit(0)))
        .withColumn("prev_n", F.count("n_errors").over(w))
        .select(
            F.col("hour_idx").cast("int").alias("hour_idx"),
            "n_errors",
            F.col("prev_sum").cast("long").alias("prev_sum"),
            F.col("prev_n").cast("int").alias("prev_n"),
            (
                (F.col("prev_n") >= min_prev)
                & (
                    F.col("n_errors") * F.col("prev_n") * 100
                    > F.lit(threshold_pct) * F.col("prev_sum")
                )
            )
            .cast("int")
            .alias("spike"),
        )
    )


def error_spikes_sql(
    events_sql: str,
    kind: str = "error",
    lookback: int = 24,
    threshold_pct: int = 150,
    min_prev: int = 6,
    epoch: str = "2024-01-01",
) -> str:
    return f"""
    WITH hc AS (
      SELECT (date_diff('day', DATE '{epoch}', ts::DATE) * 24
              + extract(hour FROM ts))::BIGINT AS hour_idx,
             count(*)::BIGINT AS n_errors
      FROM ({events_sql}) WHERE event_type = {sql_lit(kind)}
      GROUP BY 1),
    t AS (
      SELECT hour_idx, n_errors,
             coalesce(sum(n_errors) OVER (ORDER BY hour_idx
               ROWS BETWEEN {lookback} PRECEDING AND 1 PRECEDING), 0)
               AS prev_sum,
             count(n_errors) OVER (ORDER BY hour_idx
               ROWS BETWEEN {lookback} PRECEDING AND 1 PRECEDING) AS prev_n
      FROM hc)
    SELECT hour_idx::INT AS hour_idx, n_errors,
           prev_sum::BIGINT AS prev_sum, prev_n::INT AS prev_n,
           (prev_n >= {min_prev}
            AND n_errors * prev_n * 100 > {threshold_pct} * prev_sum)::INT
             AS spike
    FROM t
    """


# --------------------------------------------------------------- as-of join


def asof_join(
    left: DataFrame,
    right: DataFrame,
    key: str = "key",
    ts: str = "ts",
    val: str = "val",
    left_id: str = "event_id",
) -> DataFrame:
    """Distributed AS-OF join: each left row picks the latest right row
    with right.ts <= left.ts per key — the time-series join Spark has no
    native operator for (DuckDB/kdb/Pandas ship one; the oracle uses
    DuckDB's native ASOF JOIN, so the two implementations share zero
    code).  Implemented the scale-correct way: tag both streams, UNION,
    one window per key ordered by (ts, side) with a carry-forward
    last(ignorenulls) — a single shuffle on the key, no range
    explosion, no per-row subquery.  At equal timestamps the right row
    sorts first, so a quote AT the event instant is visible (<=
    semantics).  Right-side (key, ts) pairs must be unique — the
    caller's contract, as in any as-of engine."""
    from pyspark.sql.window import Window as W

    l = left.select(
        F.col(key).alias("k"),
        F.col(ts).alias("t"),
        F.col(left_id),
        F.lit(None).cast("long").alias("_v"),
        F.lit(1).alias("_side"),
    )
    r = right.select(
        F.col(key).alias("k"),
        F.col(ts).alias("t"),
        F.lit(None).cast("long").alias(left_id),
        F.col(val).cast("long").alias("_v"),
        F.lit(0).alias("_side"),
    )
    w = (
        W.partitionBy("k")
        .orderBy(F.col("t").asc(), F.col("_side").asc())
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return (
        l.unionByName(r)
        .withColumn("asof_val", F.last("_v", ignorenulls=True).over(w))
        .where(F.col("_side") == 1)
        .select(
            left_id,
            F.col("k").alias(key),
            F.col("asof_val").alias("asof_val"),
        )
    )
