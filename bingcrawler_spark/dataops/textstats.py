"""Text analysis operators: token counting, quality scoring, language ID,
document fingerprinting — all JVM-side column expressions (no UDFs in the
hot path), each paired with an exact DuckDB oracle emitter.

These generalize the reference's text handling (tokenize-then-fingerprint,
TextAnalysis.java:97-150) into the per-document statistics a web-text
training pipeline filters on.  Comparable outputs are integers (counts,
1e-4 fixed-point ratios) so the driver's value-hash compare is float-safe.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from bingcrawler_spark import xhash as X

# A BPE-ish word/number/punctuation chunker: letters runs, digit runs, or a
# single non-space symbol — the same regex drives both engines.
BPE_RE = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]"

# Tiny fixed stopword lists per language (synthetic corpus vocabulary) —
# the language-ID heuristic scores token overlap against each list.
LANG_STOPWORDS: dict[str, list[str]] = {
    "en": ["the", "fast", "slow", "small", "data", "value"],
    "es": ["table", "row", "line", "order", "part"],
    "de": ["group", "hash", "merge", "sort", "key"],
    "fr": ["query", "filter", "window", "scan", "join"],
    "zh": ["spark", "batch", "customer", "join", "scan"],
}


def token_stats(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Whitespace tokens, BPE-ish chunks, distinct tokens, char count."""
    toks = X.tokens_col(F.col(text_col))
    return docs.select(
        F.col(id_col),
        F.size(toks).cast("long").alias("ws_tokens"),
        F.size(F.regexp_extract_all(F.col(text_col), F.lit(BPE_RE), 0))
        .cast("long")
        .alias("bpe_tokens"),
        F.size(F.array_distinct(toks)).cast("long").alias("distinct_tokens"),
        F.length(text_col).cast("long").alias("n_chars"),
    )


def token_stats_sql(docs_sql: str, text_col: str = "text", id_col: str = "doc_id") -> str:
    toks = X.tokens_sql(text_col)
    return f"""
    SELECT {id_col},
           len({toks})::BIGINT AS ws_tokens,
           len(regexp_extract_all({text_col}, '{BPE_RE}'))::BIGINT AS bpe_tokens,
           len(list_distinct({toks}))::BIGINT AS distinct_tokens,
           length({text_col})::BIGINT AS n_chars
    FROM ({docs_sql})
    """


def quality_score(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Heuristic quality signals in 1e-4 fixed point: type/token ratio,
    mean word length, stopword ratio (union of all lists).  A real pipeline
    thresholds these to drop boilerplate/gibberish before training."""
    all_stop = sorted({w for ws in LANG_STOPWORDS.values() for w in ws})
    toks = X.tokens_col(F.col(text_col))
    n = F.size(toks)
    stop_arr = F.array(*[F.lit(w) for w in all_stop])
    n_stop = F.size(F.array_intersect(F.array_distinct(toks), stop_arr))
    # exact fixed-point via floor division — float rounding modes never enter
    n_distinct = F.size(F.array_distinct(toks))
    return docs.select(
        F.col(id_col),
        F.floor(n_distinct.cast("long") * 10000 / n).cast("long").alias("ttr_e4"),
        F.floor((F.length(text_col) - n + 1).cast("long") * 10000 / n)
        .cast("long")
        .alias("avg_wordlen_e4"),
        F.floor(n_stop.cast("long") * 10000 / n_distinct)
        .cast("long")
        .alias("stop_ratio_e4"),
    )


def quality_score_sql(docs_sql: str, text_col: str = "text", id_col: str = "doc_id") -> str:
    all_stop = sorted({w for ws in LANG_STOPWORDS.values() for w in ws})
    stop_list = "[" + ", ".join(f"'{w}'" for w in all_stop) + "]"
    toks = X.tokens_sql(text_col)
    return f"""
    SELECT {id_col},
           (len(list_distinct({toks}))::BIGINT * 10000 // len({toks}))::BIGINT AS ttr_e4,
           ((length({text_col}) - len({toks}) + 1)::BIGINT * 10000
              // len({toks}))::BIGINT AS avg_wordlen_e4,
           (len(list_intersect(list_distinct({toks}), {stop_list}))::BIGINT * 10000
              // len(list_distinct({toks})))::BIGINT AS stop_ratio_e4
    FROM ({docs_sql})
    """


def lang_id(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Stopword-overlap language guess: score(lang) = |distinct tokens ∩
    stopwords(lang)|, argmax with lexicographic tie-break.  (On the synthetic
    corpus this is a plumbing-correctness operator — the vocabulary is
    shared across langs — but the operator shape is the real n-gram/stopword
    LID pipeline.)"""
    toks = F.array_distinct(X.tokens_col(F.col(text_col)))
    scored = docs.select(F.col(id_col), toks.alias("toks"))
    langs = sorted(LANG_STOPWORDS)
    score_cols = [
        F.size(
            F.array_intersect(F.col("toks"), F.array(*[F.lit(w) for w in LANG_STOPWORDS[lg]]))
        ).alias(f"s_{lg}")
        for lg in langs
    ]
    scored = scored.select(id_col, *score_cols)
    # argmax via greatest + first matching lang in sorted order
    best = F.greatest(*[F.col(f"s_{lg}") for lg in langs])
    guess = F.coalesce(
        *[F.when(F.col(f"s_{lg}") == best, F.lit(lg)) for lg in langs]
    )
    return scored.select(
        F.col(id_col),
        guess.alias("lang_guess"),
        best.cast("long").alias("lang_score"),
    )


def lang_id_sql(docs_sql: str, text_col: str = "text", id_col: str = "doc_id") -> str:
    toks = f"list_distinct({X.tokens_sql(text_col)})"
    langs = sorted(LANG_STOPWORDS)
    scores = {
        lg: f"len(list_intersect({toks}, ["
        + ", ".join(f"'{w}'" for w in LANG_STOPWORDS[lg])
        + "]))"
        for lg in langs
    }
    best = "greatest(" + ", ".join(scores.values()) + ")"
    guess = "CASE " + " ".join(
        f"WHEN {scores[lg]} = {best} THEN '{lg}'" for lg in langs
    ) + " END"
    return f"""
    SELECT {id_col}, {guess} AS lang_guess, {best}::BIGINT AS lang_score
    FROM ({docs_sql})
    """


def quality_filters(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Gopher/C4-style document filter rules (Rae et al. 2021 §A1.1,
    Raffel et al. 2020 §2.2), each as an integer flag plus the combined
    keep decision — the gating pass a webtext training pipeline runs
    before dedup.  Thresholds are tuned to the synthetic corpus's 10-99
    token range so every rule actually discriminates; the rule SHAPES are
    the published ones:

    * r_wordcount — word count within [min, max] (Gopher 50..100k)
    * r_meanlen   — mean word length within [3, 10] characters
    * r_stopwords — at least 2 distinct stop words present (Gopher)
    * r_ttr       — type/token ratio above a repetition floor (Gopher's
      duplicate-content family collapsed to its doc-level scalar)
    * r_braces    — no '{' in the text (C4's code filter)
    * r_lorem     — no 'lorem ipsum' boilerplate (C4)

    All-integer output; pure column expressions, trivially partition-local
    (no shuffle at any scale)."""
    all_stop = sorted({w for ws in LANG_STOPWORDS.values() for w in ws})
    toks = X.tokens_col(F.col(text_col))
    n = F.size(toks)
    n_distinct = F.size(F.array_distinct(toks))
    stop_arr = F.array(*[F.lit(w) for w in all_stop])
    n_stop = F.size(F.array_intersect(F.array_distinct(toks), stop_arr))
    meanlen_e4 = F.floor((F.length(text_col) - n + 1).cast("long") * 10000 / n)
    ttr_e4 = F.floor(n_distinct.cast("long") * 10000 / n)
    b = lambda c: c.cast("int")  # noqa: E731
    r_wordcount = b((n >= 30) & (n <= 90))
    r_meanlen = b((meanlen_e4 >= 30000) & (meanlen_e4 <= 100000))
    r_stopwords = b(n_stop >= 2)
    r_ttr = b(ttr_e4 >= 2000)
    r_braces = b(~F.col(text_col).contains("{"))
    r_lorem = b(~F.lower(F.col(text_col)).contains("lorem ipsum"))
    keep = r_wordcount * r_meanlen * r_stopwords * r_ttr * r_braces * r_lorem
    return docs.select(
        F.col(id_col),
        r_wordcount.alias("r_wordcount"),
        r_meanlen.alias("r_meanlen"),
        r_stopwords.alias("r_stopwords"),
        r_ttr.alias("r_ttr"),
        r_braces.alias("r_braces"),
        r_lorem.alias("r_lorem"),
        keep.cast("int").alias("keep"),
    )


def quality_filters_sql(docs_sql: str, text_col: str = "text", id_col: str = "doc_id") -> str:
    all_stop = sorted({w for ws in LANG_STOPWORDS.values() for w in ws})
    stop_list = "[" + ", ".join(f"'{w}'" for w in all_stop) + "]"
    toks = X.tokens_sql(text_col)
    n = f"len({toks})"
    nd = f"len(list_distinct({toks}))"
    ns = f"len(list_intersect(list_distinct({toks}), {stop_list}))"
    meanlen = f"((length({text_col}) - {n} + 1)::BIGINT * 10000 // {n})"
    ttr = f"({nd}::BIGINT * 10000 // {n})"
    rules = {
        "r_wordcount": f"({n} >= 30 AND {n} <= 90)",
        "r_meanlen": f"({meanlen} >= 30000 AND {meanlen} <= 100000)",
        "r_stopwords": f"({ns} >= 2)",
        "r_ttr": f"({ttr} >= 2000)",
        "r_braces": f"(NOT contains({text_col}, '{{'))",
        "r_lorem": f"(NOT contains(lower({text_col}), 'lorem ipsum'))",
    }
    cols = ", ".join(f"{e}::INT AS {k}" for k, e in rules.items())
    keep = " AND ".join(rules.values())
    return f"""
    SELECT {id_col}, {cols}, ({keep})::INT AS keep
    FROM ({docs_sql})
    """


def fingerprints(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Rolling-hash document fingerprint + md5-vote simhash60 (xhash P12
    analogue) — the per-document identity columns a dedup pipeline persists."""
    rolling = docs.select(
        F.col(id_col), X.fingerprint_col(F.col(text_col)).alias("rolling_fp")
    )
    simhash = X.simhash60_df(docs, id_col=id_col, text_col=text_col)
    return rolling.join(simhash, id_col)


def fingerprints_sql(docs_sql: str, text_col: str = "text", id_col: str = "doc_id") -> str:
    return f"""
    SELECT {id_col},
           {X.fingerprint_sql(text_col)} AS rolling_fp,
           {X.simhash60_sql(text_col)} AS simhash60
    FROM ({docs_sql})
    """


# --------------------------------------------------------- repetition stats


def repetition_stats(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Gopher repetition signals (Rae et al. 2021 §A1.1) as fixed-point e4
    fractions, one row per doc:

    * top2_covered_e4 — fraction of the doc's characters covered by the
      word 2-gram that covers the most characters (occurrence count ×
      gram length).  The char-fraction form of Gopher's "fraction of
      characters in the most frequent 2-gram", made deterministic without
      an equal-count tie-break by maximizing coverage directly.
    * dup3_frac_e4 — fraction of characters in word 3-grams occurring ≥ 2
      times (count × length summed over duplicated grams; overlap-naive,
      a documented divergence from Gopher's non-overlapping char count).

    Per-row higher-order array expressions only — partition-local, no
    shuffle at any scale; O(distinct-grams × grams) per doc, bounded by
    the wordcount filter upstream.  The gram arrays are pinned once per
    row via per-gram COUNT MAPS (aggregate into map<gram,count>) so no
    lambda re-evaluates the tokenizer — without this, every filter()
    reference would re-split the text per distinct gram."""
    txt = F.col(text_col)

    def count_map(grams):
        # gram -> occurrence count, one pass over the array
        return F.aggregate(
            grams,
            F.create_map().cast("map<string,int>"),
            lambda m, g: F.map_concat(
                F.map_filter(m, lambda k, _: k != g),
                F.create_map(g, F.coalesce(F.element_at(m, g), F.lit(0)) + 1),
            ),
        )

    base = docs.select(
        F.col(id_col),
        F.length(txt).alias("_tlen"),
        count_map(X.ngrams_col(txt, 2)).alias("_m2"),
        count_map(X.ngrams_col(txt, 3)).alias("_m3"),
    )
    covered2 = F.transform(
        F.map_entries(F.col("_m2")), lambda e: e["value"] * F.length(e["key"])
    )
    top2 = F.coalesce(F.array_max(covered2), F.lit(0))
    dup3 = F.aggregate(
        F.map_entries(F.col("_m3")),
        F.lit(0),
        lambda acc, e: acc
        + F.when(e["value"] >= 2, e["value"] * F.length(e["key"])).otherwise(F.lit(0)),
    )
    e4 = lambda c: F.floor(c.cast("long") * 10000 / F.col("_tlen")).cast("long")  # noqa: E731
    return base.select(
        F.col(id_col),
        e4(top2).alias("top2_covered_e4"),
        e4(dup3).alias("dup3_frac_e4"),
    )


def repetition_stats_sql(
    docs_sql: str, text_col: str = "text", id_col: str = "doc_id"
) -> str:
    t = X.tokens_sql(text_col)

    def grams(n: int) -> str:
        parts = " || ' ' || ".join(f"__t[i + {j}]" for j in range(n))
        return (
            f"CASE WHEN len(__t) >= {n} THEN "
            f"list_transform(generate_series(1, len(__t) - {n - 1}), i -> {parts}) "
            f"ELSE [] END"
        ).replace("__t", f"({t})")

    cov = lambda gs, x: f"len(list_filter({gs}, y -> y = {x})) * length({x})"  # noqa: E731
    top2 = (
        f"coalesce(list_aggregate(list_transform(list_distinct(g2), "
        f"x -> {cov('g2', 'x')}), 'max'), 0)"
    )
    dup3 = (
        f"coalesce(list_sum(list_transform(list_distinct(g3), "
        f"x -> CASE WHEN len(list_filter(g3, y -> y = x)) >= 2 "
        f"THEN {cov('g3', 'x')} ELSE 0 END)), 0)"
    )
    return f"""
    SELECT {id_col},
           ({top2}::BIGINT * 10000 // length({text_col}))::BIGINT AS top2_covered_e4,
           ({dup3}::BIGINT * 10000 // length({text_col}))::BIGINT AS dup3_frac_e4
    FROM (SELECT {id_col}, {text_col}, {grams(2)} AS g2, {grams(3)} AS g3
          FROM ({docs_sql}))
    """


# ------------------------------------------------------------- PII scrubbing


# One pattern per PII class, shared verbatim by both engines (the subset of
# regex syntax below — classes, bounded repeats, \d, \b — means the same
# thing to Java's engine (Spark) and RE2 (DuckDB)).
PII_PATTERNS: dict[str, tuple[str, str]] = {
    "email": (r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    "ip": (r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "<IP>"),
    "phone": (r"\b\d{3}-\d{3}-\d{4}\b", "<PHONE>"),
}


def pii_redact(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """PII scrubbing (the P15 scrubber family generalized to training-data
    hygiene, as in C4/Dolma preprocessing): replace emails, IPv4 addresses
    and NNN-NNN-NNNN phone numbers with typed placeholders, and count each
    class.  Patterns apply in fixed order (email → ip → phone) so a
    placeholder never partially re-matches a later pattern.

    Pure JVM column expressions — per-row, shuffle-free at any scale.  The
    redacted text is emitted as md5 so the driver's value-hash compare
    stays compact and byte-exact."""
    counts = [
        F.regexp_count(F.col(text_col), F.lit(pat)).cast("long").alias(f"n_{k}")
        for k, (pat, _) in PII_PATTERNS.items()
    ]
    red = F.col(text_col)
    for pat, rep in PII_PATTERNS.values():
        red = F.regexp_replace(red, pat, rep)
    return docs.select(F.col(id_col), *counts, F.md5(red).alias("redacted_md5"))


def pii_redact_sql(docs_sql: str, text_col: str = "text", id_col: str = "doc_id") -> str:
    counts = ", ".join(
        f"len(regexp_extract_all({text_col}, '{pat}'))::BIGINT AS n_{k}"
        for k, (pat, _) in PII_PATTERNS.items()
    )
    red = text_col
    for pat, rep in PII_PATTERNS.values():
        red = f"regexp_replace({red}, '{pat}', '{rep}', 'g')"
    return f"""
    SELECT {id_col}, {counts}, md5({red}) AS redacted_md5
    FROM ({docs_sql})
    """


# ------------------------------------------------------- boilerplate strip

# Block-level html segmentation + link-density filtering — the jusText /
# C4 "remove boilerplate" recipe (Pomikálek 2011; Raffel et al. 2020)
# reduced to a deterministic two-rule form both engines can evaluate:
# a block survives iff its tag-stripped text has >= min_chars chars AND
# anchor-text chars are under one third of its text chars.  All three
# regexes are RE2-and-Java-compatible so Spark and DuckDB split/extract
# identically.
BLOCK_SPLIT_RE = "(?i)</(?:p|div|li|h[1-6]|td|section|article)>"
ANCHOR_RE = "(?i)<a[^>]*>(.*?)</a>"
TAG_RE = "<[^>]*>"


def boilerplate_strip(
    docs: DataFrame,
    html_col: str = "html",
    id_col: str = "doc_id",
    min_chars: int = 30,
) -> DataFrame:
    """Main-content extraction: split html into blocks at closing block
    tags, drop link-dense and tiny blocks, join survivors with newlines.

    Scale shape: pure JVM column expressions (split / transform / filter /
    aggregate) inside whole-stage codegen — shuffle-free, no UDF, no
    Python in the hot path; at 100 TB this runs at parquet-scan speed."""

    def block_text(b):
        return F.trim(F.regexp_replace(b, TAG_RE, ""))

    def anchor_chars(b):
        return F.aggregate(
            F.regexp_extract_all(b, F.lit(ANCHOR_RE), 1),
            F.lit(0),
            lambda acc, s: acc + F.length(s),
        )

    blocks = F.split(F.col(html_col), BLOCK_SPLIT_RE)
    kept = F.filter(
        blocks,
        lambda b: (F.length(block_text(b)) >= min_chars)
        & (anchor_chars(b) * 3 < F.length(block_text(b))),
    )
    texts = F.transform(kept, block_text)
    return docs.select(
        F.col(id_col),
        F.array_join(texts, "\n").alias("main_text"),
        F.size(texts).cast("int").alias("blocks_kept"),
        F.size(blocks).cast("int").alias("blocks_total"),
    )


def boilerplate_strip_sql(
    docs_sql: str,
    html_col: str = "html",
    id_col: str = "doc_id",
    min_chars: int = 30,
) -> str:
    # NB: DuckDB regexp_replace needs the 'g' flag to match Spark's
    # replace-all; list_aggregate('sum') of an empty list is NULL.
    text = f"trim(regexp_replace(bl, '{TAG_RE}', '', 'g'))"
    anchors = (
        "coalesce(list_aggregate(list_transform("
        f"regexp_extract_all(bl, '{ANCHOR_RE}', 1), s -> length(s)), 'sum'), 0)"
    )
    pred = f"length({text}) >= {min_chars} AND {anchors} * 3 < length({text})"
    return f"""
    WITH d AS ({docs_sql}),
         b AS (SELECT {id_col},
                      string_split_regex({html_col}, '{BLOCK_SPLIT_RE}') AS blocks
               FROM d)
    SELECT {id_col},
           array_to_string(
             list_transform(list_filter(blocks, bl -> {pred}), bl -> {text}),
             chr(10)) AS main_text,
           len(list_filter(blocks, bl -> {pred}))::INT AS blocks_kept,
           len(blocks)::INT AS blocks_total
    FROM b
    """


# ----------------------------------------------------------- NFC normalize


def nfc_normalize(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Unicode NFC normalization — the first pass of every webtext
    cleaning pipeline (CCNet, C4, Gopher all NFC/NFKC before anything
    else): combining sequences collapse to precomposed codepoints so
    'café' hashes identically however the page encoded it, which makes
    exact dedup (dd_exact) and fingerprints canonical across crawls.

    Output: (doc_id, changed, nfc_md5) — `changed` flags docs the
    normalization rewrote, `nfc_md5` is the canonical-text hash (the
    text itself never needs to leave its partition).  Spark side is an
    Arrow-batched pandas UDF over `unicodedata.normalize` (Python's
    and DuckDB's NFC both implement UAX #15 — verified byte-identical
    in tests); there is no JVM builtin for NFC in pyspark.sql.functions.
    Per-row, shuffle-free, so it composes into any scan."""
    from pyspark.sql.types import StringType

    # NB: no pd.Series annotations — `from __future__ import annotations`
    # turns them into strings pandas_udf can't resolve with a local import
    @F.pandas_udf(StringType())
    def _nfc(texts):
        import unicodedata

        return texts.map(
            lambda t: unicodedata.normalize("NFC", t) if t is not None else None
        )

    n = docs.select(
        F.col(id_col), F.col(text_col).alias("t"), _nfc(F.col(text_col)).alias("nt")
    )
    return n.select(
        id_col,
        (F.col("t") != F.col("nt")).cast("int").alias("changed"),
        F.md5(F.col("nt").cast("binary")).alias("nfc_md5"),
    )


def nfc_normalize_sql(
    docs_sql: str, text_col: str = "text", id_col: str = "doc_id"
) -> str:
    return f"""
    SELECT {id_col},
           CASE WHEN nfc_normalize({text_col}) <> {text_col}
                THEN 1 ELSE 0 END::INT AS changed,
           md5(nfc_normalize({text_col})) AS nfc_md5
    FROM ({docs_sql})
    """


# ------------------------------------------------------ compression ratio


def compression_ratio(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """zlib compression ratio as a quality/repetition signal — the
    RefinedWeb/Gopher-class heuristic: machine-generated or template
    spam compresses far below organic prose, near-random junk barely
    compresses at all, so pipelines band on the ratio from both sides.

    Output: (doc_id, raw_len, zlib_len, ratio_e4) with ratio in 1e-4
    fixed point (compressed·10⁴ div raw).  Arrow-batched pandas UDF
    (zlib level 6, the zlib default, pinned for determinism) —
    per-row, shuffle-free.  Null text reads as empty: raw_len, zlib_len
    and ratio_e4 are all 0.  No SQL twin exists (DuckDB has no scalar
    zlib), so the driver checks values against a literal VALUES table
    precomputed in pure Python (driver_queries._ts_compression_oracle);
    the pytest twin compares against direct `zlib.compress` output
    byte-for-byte, which is exact because both sides call the same
    library."""
    from pyspark.sql.types import LongType

    @F.pandas_udf(LongType())
    def _zlen(texts):
        import zlib

        return texts.map(
            lambda t: len(zlib.compress(t.encode("utf-8"), 6)) if t is not None else 0
        )

    raw_len = F.coalesce(F.length(F.col(text_col)).cast("long"), F.lit(0))
    return docs.select(
        F.col(id_col),
        raw_len.alias("raw_len"),
        _zlen(F.col(text_col)).alias("zlib_len"),
    ).select(
        id_col,
        "raw_len",
        "zlib_len",
        F.expr("div(zlib_len * 10000, greatest(raw_len, 1))").alias("ratio_e4"),
    )


# ------------------------------------------------------ vocabulary growth

_RANK_MILESTONES = [1, 2, 4, 8, 16, 32, 64, 128, 256, 512, 1024]


def vocab_growth(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Corpus-level vocabulary statistics as (metric, value) rows —
    the Zipf/Heaps profile a training-data curator reads before mixing
    (total_tokens, vocab, hapax/dis legomena, type-token ratio in ppm,
    and the frequency at power-of-two ranks, which is the Zipf curve
    sampled log-uniformly without any float regression — every value
    integer and therefore engine/partitioning-exact).

    Scale shape: one explode -> groupBy(token) count with map-side
    combine (the shuffle carries (token, 1) pairs, never documents);
    the rank milestones come from a top-1024 TakeOrderedAndProject over
    the vocabulary relation, so no global sort of the full vocab
    materializes."""
    from pyspark.sql.window import Window as W

    toks = X.tokens_col(F.col(text_col))
    tc = (
        docs.select(F.explode(toks).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .persist()
    )
    totals = tc.agg(
        F.sum("cnt").cast("long").alias("total_tokens"),
        F.count(F.lit(1)).cast("long").alias("vocab"),
        F.sum((F.col("cnt") == 1).cast("long")).alias("hapax"),
        F.sum((F.col("cnt") == 2).cast("long")).alias("dis"),
    ).select(
        F.explode(
            F.map_from_arrays(
                F.array(
                    F.lit("total_tokens"),
                    F.lit("vocab"),
                    F.lit("hapax"),
                    F.lit("dis"),
                    F.lit("ttr_ppm"),
                ),
                F.array(
                    F.col("total_tokens"),
                    F.col("vocab"),
                    F.col("hapax"),
                    F.col("dis"),
                    F.expr("div(vocab * 1000000, greatest(total_tokens, 1))"),
                ),
            )
        ).alias("metric", "value")
    )
    top = tc.orderBy(F.col("cnt").desc(), F.col("tok").asc()).limit(
        max(_RANK_MILESTONES)
    )
    w = W.orderBy(F.col("cnt").desc(), F.col("tok").asc())
    ranks = (
        top.withColumn("r", F.row_number().over(w))
        .where(F.col("r").isin(_RANK_MILESTONES))
        .select(
            F.concat(F.lit("rank_"), F.col("r").cast("string")).alias("metric"),
            F.col("cnt").cast("long").alias("value"),
        )
    )
    out = totals.unionByName(ranks).localCheckpoint(eager=True)
    tc.unpersist()  # materialized above, release the vocab cache
    return out


def vocab_growth_sql(
    docs_sql: str, text_col: str = "text", id_col: str = "doc_id"
) -> str:
    toks = X.tokens_sql(text_col)
    miles = ", ".join(str(m) for m in _RANK_MILESTONES)
    return f"""
    WITH tc AS (
      SELECT tok, count(*)::BIGINT AS cnt
      FROM (SELECT unnest({toks}) AS tok FROM ({docs_sql}))
      GROUP BY tok),
    agg AS (
      SELECT sum(cnt)::BIGINT AS total_tokens, count(*)::BIGINT AS vocab,
             sum((cnt = 1)::INT)::BIGINT AS hapax,
             sum((cnt = 2)::INT)::BIGINT AS dis
      FROM tc),
    rk AS (
      SELECT cnt, row_number() OVER (ORDER BY cnt DESC, tok ASC) AS r
      FROM tc)
    SELECT 'total_tokens' AS metric, total_tokens AS value FROM agg
    UNION ALL SELECT 'vocab', vocab FROM agg
    UNION ALL SELECT 'hapax', hapax FROM agg
    UNION ALL SELECT 'dis', dis FROM agg
    UNION ALL SELECT 'ttr_ppm',
      (vocab * 1000000 // greatest(total_tokens, 1))::BIGINT FROM agg
    UNION ALL SELECT 'rank_' || r::VARCHAR, cnt::BIGINT
      FROM rk WHERE r IN ({miles})
    """


# ------------------------------------------------------- script detection

_SCRIPTS = [
    # (label, spark char-class, duckdb RE2 char-class)
    ("latin", "a-zA-Z", "a-zA-Z"),
    ("cyrillic", "\\u0400-\\u04FF", "\\x{0400}-\\x{04FF}"),
    ("cjk", "\\u4E00-\\u9FFF", "\\x{4E00}-\\x{9FFF}"),
    ("arabic", "\\u0600-\\u06FF", "\\x{0600}-\\x{06FF}"),
]


def script_detect(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Unicode-script profile per document (latin/cyrillic/CJK/arabic
    codepoint counts + argmax label) — the cheap router that runs BEFORE
    n-gram language ID in a web pipeline (scripts partition languages
    ~for free; ts_langid then separates within-script).  Counting is
    length(text) - length(strip-class(text)): pure JVM regex, no
    explode, shuffle-free."""
    cols = [F.col(id_col)]
    for label, spark_cls, _ in _SCRIPTS:
        cols.append(
            (
                F.length(text_col)
                - F.length(F.regexp_replace(F.col(text_col), f"[{spark_cls}]", ""))
            )
            .cast("long")
            .alias(f"n_{label}")
        )
    out = docs.select(*cols)
    # argmax with first-listed-wins tie-break (matches the SQL CASE chain)
    best = F.lit(_SCRIPTS[0][0])
    best_n = F.col(f"n_{_SCRIPTS[0][0]}")
    for label, _, _ in _SCRIPTS[1:]:
        cond = F.col(f"n_{label}") > best_n
        best = F.when(cond, F.lit(label)).otherwise(best)
        best_n = F.when(cond, F.col(f"n_{label}")).otherwise(best_n)
    return out.withColumn("script", best)


def script_detect_sql(
    docs_sql: str, text_col: str = "text", id_col: str = "doc_id"
) -> str:
    counts = ", ".join(
        f"(length({text_col}) - length(regexp_replace({text_col},"
        f" '[{duck_cls}]', '', 'g')))::BIGINT AS n_{label}"
        for label, _, duck_cls in _SCRIPTS
    )
    # greatest-so-far CASE chain, first-listed wins ties
    first = _SCRIPTS[0][0]
    chain = f"'{first}'"
    best = f"n_{first}"
    for label, _, _ in _SCRIPTS[1:]:
        chain = f"CASE WHEN n_{label} > {best} THEN '{label}' ELSE {chain} END"
        best = f"greatest(n_{label}, {best})"
    return f"""
    WITH c AS (SELECT {id_col}, {counts} FROM ({docs_sql}))
    SELECT {id_col}, n_latin, n_cyrillic, n_cjk, n_arabic,
           {chain} AS script
    FROM c
    """


# ------------------------------------------------------ character entropy


def char_entropy(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Shannon entropy of the character distribution per doc, e4
    fixed-point — the gibberish/keyboard-mash detector class of quality
    signal (very low entropy = repeated-char runs / template junk, very
    high = base64 blobs or minified payloads; organic prose bands in the
    middle).  Complements compression_ratio with a closed-form signal
    the DuckDB oracle can re-derive exactly.

    Determinism contract shared with the SQL twin: H = ln(n) −
    (Σ c·ln c)/n with the sum accumulated LEFT-TO-RIGHT in character-
    sorted order (both engines call the same host libm, so the float
    stream is bit-identical).  Arrow-batched mapInPandas, per-row,
    shuffle-free."""

    def run(batches):
        import math
        from collections import Counter

        import pandas as pd

        for pdf in batches:
            rows = []
            for did, t in zip(pdf[id_col], pdf[text_col]):
                t = t or ""
                n = len(t)
                cnt = Counter(t)
                if n <= 1:
                    e4 = 0
                else:
                    acc = 0.0
                    for ch in sorted(cnt):
                        c = cnt[ch]
                        acc += float(c) * math.log(float(c))
                    h = math.log(float(n)) - acc / n
                    e4 = int(math.floor(h * 10_000 + 0.5))
                rows.append((int(did), n, len(cnt), e4))
            yield pd.DataFrame(
                rows,
                columns=[id_col, "n_chars", "distinct_chars", "entropy_e4"],
            )

    return docs.select(id_col, text_col).mapInPandas(
        run,
        f"{id_col} bigint, n_chars bigint, distinct_chars bigint, "
        "entropy_e4 bigint",
    )


def char_entropy_sql(
    docs_sql: str, text_col: str = "text", id_col: str = "doc_id"
) -> str:
    """DuckDB twin: same formula, same char-sorted sequential sum
    (list(... ORDER BY ch) + list_reduce pins accumulation order)."""
    return f"""
    WITH d AS (
      SELECT {id_col}, {text_col} AS t FROM ({docs_sql})
    ), idx AS (
      SELECT {id_col}, t, unnest(range(0, length(t))) AS i FROM d
    ), freq AS (
      SELECT {id_col}, substr(t, i + 1, 1) AS ch, count(*)::BIGINT AS c
      FROM idx GROUP BY {id_col}, ch
    ), agg AS (
      SELECT {id_col}, sum(c)::BIGINT AS n, count(*)::BIGINT AS k,
             list(c::DOUBLE * ln(c::DOUBLE) ORDER BY ch) AS terms
      FROM freq GROUP BY {id_col}
    )
    SELECT d.{id_col},
           coalesce(agg.n, 0)::BIGINT AS n_chars,
           coalesce(agg.k, 0)::BIGINT AS distinct_chars,
           CASE WHEN coalesce(agg.n, 0) <= 1 THEN 0
                ELSE round((ln(agg.n::DOUBLE)
                            - list_reduce(agg.terms, (a, b) -> a + b) / agg.n)
                           * 10000)::BIGINT
           END AS entropy_e4
    FROM d LEFT JOIN agg USING ({id_col})
    """
