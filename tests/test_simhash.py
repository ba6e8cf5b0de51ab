"""P12/P14: exact hash-math vectors + UDF ⇔ pure-Python parity + near-dup."""

import re

import numpy as np
from pyspark.sql import functions as F

from bingcrawler_spark.functions.simhash import (
    DEFAULT_CJK_LEXICON,
    MASK64,
    hamming_col,
    py_hamming,
    py_simhash64,
    py_token_hash,
    py_tokenize,
    simhash64_udf,
    to_signed64,
    to_unsigned64,
)
from bingcrawler_spark.synth import synth_pages_df


def _py2_string_hash(s: str) -> int:
    """Independent reimplementation of the Python-2 string hash the reference
    clones (TextAnalysis.java:250-272) — checks our clone against the
    published algorithm (CPython 2 pyhash.c) with Java signed-byte xor."""
    b = s.encode("utf-8")
    if not b:
        return 0
    signed = [x - 256 if x >= 128 else x for x in b]
    x = signed[0] << 7
    for c in signed:
        x = ((x * 1000003) ^ c) & MASK64
    x ^= len(s)
    return -2 if x == -1 else x


def test_token_hash_vectors():
    for tok in ["abc", "a", "argentine", "ant", "分布式", "x" * 50, ""]:
        assert py_token_hash(tok) == _py2_string_hash(tok), tok
    # multi-byte utf-8 leads with a negative Java byte — must not blow up
    assert 0 <= py_token_hash("爬虫") <= MASK64


def test_empty_text_all_ones():
    # zero tokens → every vote v[i]=0, reference uses v[i] >= 0 → all ones
    assert py_simhash64("") == MASK64
    assert py_simhash64("!!! ...") == MASK64  # no word tokens


def test_case_insensitive_and_order_independent():
    a = py_simhash64("The self-organizing exploratory pattern of the Argentine ant")
    b = py_simhash64("ant Argentine THE of pattern exploratory self-organizing")
    assert a == b  # unique-token vote is order-independent


def test_near_dup_small_distance():
    t1 = "the quick brown fox jumps over the lazy dog near the river bank today"
    t2 = t1 + " extra"
    d = py_hamming(py_simhash64(t1), py_simhash64(t2))
    assert 0 < d <= 16


def test_signed_roundtrip():
    for u in [0, 1, MASK64, 1 << 63, (1 << 63) - 1, 12345]:
        assert to_unsigned64(to_signed64(u)) == u


def test_udf_matches_python(spark):
    texts = [
        "the quick brown fox",
        "",
        None,
        "分布式 爬虫 队列",
        "one two three four five " * 40,  # exercises the 151-term cap
    ]
    df = spark.createDataFrame([(t,) for t in texts], ["text"])
    rows = df.select("text", simhash64_udf("text").alias("h")).collect()
    for r in rows:
        exp = None if r["text"] is None else to_signed64(py_simhash64(r["text"]))
        assert r["h"] == exp, r["text"]


def _per_token_vote(tokens) -> int:
    """The vote py_simhash64 used to run: four 64-element numpy ops per
    token.  Kept as the reference for the one-vote-per-page kernel."""
    v = np.zeros(64, dtype=np.int64)
    shifts = np.arange(64, dtype=np.uint64)
    for tok in tokens:
        bits = (np.uint64(py_token_hash(tok)) >> shifts) & np.uint64(1)
        v += np.where(bits.astype(bool), 1, -1)
    return sum(1 << i for i in range(64) if v[i] >= 0)


def test_page_vote_equals_per_token_vote(spark):
    """Bit-identical to the per-token vote and to the whole-text tokenizer
    (first 151 of all word runs), on synthetic pages and edge cases."""
    texts = [
        r["text"] for r in synth_pages_df(spark, 200, 4, n_words=300).collect()
    ] + [
        "",
        "one",
        " ".join(f"w{i}" for i in range(400)),  # past the 151-term cap
        "İstanbul ΣΑΣ σας",  # lower() changes length / final sigma
        "分布式 爬虫 队列",
        "搜索引擎优化的数据分析方法 mixed中文and英文tokens",
    ]
    for t in texts:
        words = re.findall(r"\w+", t.lower())[:151]
        assert py_simhash64(t) == _per_token_vote(set(words)), t[:40]
        lex = DEFAULT_CJK_LEXICON
        assert py_simhash64(t, lex) == _per_token_vote(py_tokenize(t, lex)), t[:40]


def test_hamming_col(spark):
    df = spark.createDataFrame(
        [(1, 1, 0), (3, 1, 1), (None, 1, -1), (-1, 0, 64)],
        ["a", "b", "expect"],
    )
    rows = df.select(
        hamming_col(F.col("a").cast("long"), F.col("b").cast("long")).alias("d"),
        "expect",
    ).collect()
    for r in rows:
        assert r["d"] == r["expect"]


# ------------------------------------------------ opt-in CJK max-match


def test_fmm_segmentation_vectors():
    from bingcrawler_spark.functions.simhash import _fmm_segment

    lex = {"互联网", "技术", "中国", "中国人", "引擎", "分析"}
    seg = lambda s: _fmm_segment(s, lex, 3)  # noqa: E731
    assert seg("互联网技术") == ["互联网", "技术"]
    # longest match wins: 中国人 beats 中国
    assert seg("中国人") == ["中国人"]
    # out-of-vocabulary chars fall back to single characters
    assert seg("引擎狗分析") == ["引擎", "狗", "分析"]
    assert seg("狗") == ["狗"]


def test_cjk_tokenize_opt_in():
    from bingcrawler_spark.functions.simhash import (
        DEFAULT_CJK_LEXICON,
        py_simhash64,
        py_tokenize,
    )

    text = "spark搜索引擎数据分析 works"
    # default path: the whole Han run is ONE token (round-1 behavior,
    # bit-for-bit preserved)
    assert sorted(py_tokenize(text)) == sorted(
        ["spark搜索引擎数据分析", "works"]
    )
    # opt-in path: Han runs segment into lexicon words; latin unchanged
    got = sorted(py_tokenize(text, DEFAULT_CJK_LEXICON))
    assert got == sorted(["spark", "搜索", "引擎", "数据", "分析", "works"])
    # fingerprints differ on Han text (tokenization changed)...
    assert py_simhash64(text) != py_simhash64(text, DEFAULT_CJK_LEXICON)
    # ...and are identical on pure-latin text (lexicon never matches)
    latin = "the quick brown fox jumps"
    assert py_simhash64(latin) == py_simhash64(latin, DEFAULT_CJK_LEXICON)


def test_cjk_udf_matches_pure_python(spark):
    from pyspark.sql import functions as F

    from bingcrawler_spark.functions.simhash import (
        DEFAULT_CJK_LEXICON,
        make_simhash64_udf,
        py_simhash64,
        to_signed64,
    )

    rows = [
        ("搜索引擎优化的数据分析方法",),
        ("mixed中文and英文tokens here",),
        ("plain english only",),
        (None,),
    ]
    df = spark.createDataFrame(rows, "text string")
    udf = make_simhash64_udf(DEFAULT_CJK_LEXICON)
    got = {
        r["text"]: r["fp"]
        for r in df.select("text", udf(F.col("text")).alias("fp")).collect()
    }
    for (t,) in rows:
        want = None if t is None else to_signed64(
            py_simhash64(t, DEFAULT_CJK_LEXICON)
        )
        assert got[t] == want
    # factory with no lexicon returns the default (registered) UDF
    assert make_simhash64_udf(None).__name__ == "simhash64_udf"
