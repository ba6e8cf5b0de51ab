"""SimHash fingerprinting + hamming distance (SURVEY.md §2.3 P12, P14).

Reproduces the reference's 64-bit SimHash math exactly
(TextAnalysis.java:185-301, kelleszzz/BingCrawler):

  token hash (:250-272)  Python-2-string-hash clone over the token's utf-8
      bytes as JAVA SIGNED bytes: x = b[0]<<7; per byte x = ((x*1000003) ^ b)
      & (2^64-1); finally x ^= len(token in CHARS); -1 → -2 (dead branch once
      masked, kept for parity). Python ints are infinite two's complement,
      same as BigInteger, so signed-byte xor needs no special casing.
  bit vote (:219-243)    per unique token, v[i] += 1 if bit i set else -1;
      fingerprint bit i = 1 iff v[i] >= 0 (NOTE >=, so an empty token set
      yields all-ones = 2^64-1 — quirk preserved).
  hamming (:278-300)     popcount(xor); -1 when either fingerprint missing
      (BingDataAnalysisUtils.java:24-39).

DOCUMENTED DIVERGENCE (SURVEY.md §7 hard-part d): the reference tokenizes via
ansj + Stanford CoreNLP lemmatization, whose dictionary blob is absent from
the repo (.MISSING_LARGE_BLOBS) — irreproducible. This rebuild fixes a
deterministic regex tokenizer (unicode word runs, lowercased) and keeps the
term-count cap semantics (first 151 terms — loop runs while count <= 150,
TextAnalysis.java:105) and the hash/vote math exact.

Spark side: one vectorized pandas UDF text→int64 (Arrow batches); hamming is
a pure JVM column expression (bit_count(xor)).
"""

from __future__ import annotations

import re
from itertools import islice

import numpy as np
import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

MASK64 = (1 << 64) - 1
_TOKEN_RE = re.compile(r"\w+", re.UNICODE)
_TERM_CAP = 151  # reference loop: `keyWordsCount <= 150`, post-incremented

# Han codepoint runs inside a \w+ token (CJK Unified Ideographs + ext A)
_HAN_RE = re.compile(r"[㐀-䶿一-鿿]+")

# Opt-in CJK fallback lexicon (P12, SURVEY §7 hard-part d): the reference
# segments Chinese with ansj, whose dictionary blob is absent from its own
# repo — bit-parity is unobtainable, but a forward-maximum-match over a
# public word list NARROWS the divergence (regex tokenization treats a
# whole Han run as one token; ansj emits words).  This built-in list is a
# small demonstrative core of common Mandarin words — callers pass their
# own full public dictionary (e.g. a CC-CEDICT headword set) at scale.
DEFAULT_CJK_LEXICON = frozenset(
    """中国 我们 你们 他们 什么 没有 可以 知道 时间 现在 工作 学习 大学
    学生 老师 朋友 电脑 网络 搜索 引擎 数据 分析 系统 程序 软件 硬件
    互联网 计算机 信息 技术 科学 研究 论文 作者 期刊 会议 发展 经济
    社会 国家 世界 历史 文化 教育 问题 方法 结果 结论 摘要 关键词
    算法 模型 实验 评估 应用 领域 提出 基于 通过 进行 使用 相关""".split()
)


def _fmm_segment(run: str, lexicon: frozenset | set, max_len: int) -> list[str]:
    """Forward maximum match: at each position take the LONGEST lexicon
    word, else a single character — the classic dictionary-driven CJK
    segmenter (deterministic, no model)."""
    out: list[str] = []
    i, n = 0, len(run)
    while i < n:
        for ln in range(min(max_len, n - i), 1, -1):
            if run[i : i + ln] in lexicon:
                out.append(run[i : i + ln])
                i += ln
                break
        else:
            out.append(run[i])
            i += 1
    return out


def py_tokenize(text: str, cjk_lexicon: frozenset | set | None = None) -> list[str]:
    """Deterministic stand-in for ansj/CoreNLP: lowercase word runs, first
    151 terms (cap parity), de-duplicated preserving nothing (set semantics —
    the vote sums over unique tokens, so order is irrelevant).

    With ``cjk_lexicon`` (OPT-IN; fingerprints change vs the default
    path), Han runs inside each word token are further split by forward
    maximum match before the term cap is applied — mirroring ansj's
    emit-words-not-runs behavior.  Default None keeps the round-1
    tokenizer bit-for-bit."""
    # the cap needs at most _TERM_CAP word runs (each yields >= 1 term):
    # stop scanning there instead of matching the whole page
    words = (m.group() for m in islice(_TOKEN_RE.finditer(text.lower()), _TERM_CAP))
    if cjk_lexicon is None:
        return list(set(words))
    max_len = max((len(w) for w in cjk_lexicon), default=1)
    expanded: list[str] = []
    for tok in words:
        if len(expanded) >= _TERM_CAP:
            break
        pos = 0
        for m in _HAN_RE.finditer(tok):
            if m.start() > pos:
                expanded.append(tok[pos : m.start()])
            expanded.extend(_fmm_segment(m.group(0), cjk_lexicon, max_len))
            pos = m.end()
        if pos < len(tok):
            expanded.append(tok[pos:])
    return list(set(expanded[:_TERM_CAP]))


def py_token_hash(token: str, hashbits: int = 64) -> int:
    """Exact clone of TextAnalysis.java:250-272 (Java signed bytes)."""
    if not token:
        return 0
    mask = (1 << hashbits) - 1
    raw = token.encode("utf-8")
    signed = [b - 256 if b >= 128 else b for b in raw]
    x = signed[0] << 7
    for b in signed:
        x = ((x * 1000003) ^ b) & mask
    x ^= len(token)  # CHAR length (source.length()), not byte length
    if x == -1:
        x = -2
    return x


def py_simhash64(
    text: str | None, cjk_lexicon: frozenset | set | None = None
) -> int | None:
    """text → unsigned 64-bit fingerprint (None in, None out).  The
    hash/vote math is identical with or without the opt-in CJK lexicon;
    only tokenization differs (see py_tokenize)."""
    if text is None:
        return None
    tokens = py_tokenize(text, cjk_lexicon)
    n = len(tokens)
    h = np.fromiter(map(py_token_hash, tokens), dtype=np.uint64, count=n)
    # one vote for the whole page: bit i of every hash is column i of the
    # n x 64 bit matrix (little-endian bytes, low bit first, whatever the
    # host byte order); v[i] = ones - (n - ones)
    bits = np.unpackbits(h.astype("<u8").view(np.uint8), bitorder="little")
    ones = bits.reshape(n, 64).sum(axis=0, dtype=np.int64)
    # reference uses v[i] >= 0 (TextAnalysis.java:233)
    vote = np.packbits(2 * ones >= n, bitorder="little")
    return int(vote.view("<u8")[0])


def to_signed64(u: int) -> int:
    """unsigned 64-bit → Spark LongType two's-complement value."""
    return u - (1 << 64) if u >= (1 << 63) else u


def to_unsigned64(s: int) -> int:
    return s + (1 << 64) if s < 0 else s


@F.pandas_udf(T.LongType())
def simhash64_udf(texts: pd.Series) -> pd.Series:
    """Vectorized (Arrow-batched) SimHash; stores the fingerprint as a signed
    int64 column — hamming via bit_count(xor) is sign-agnostic."""
    out = [
        None if t is None else to_signed64(py_simhash64(t)) for t in texts
    ]
    return pd.Series(out, dtype="object").astype("Int64")


def make_simhash64_udf(cjk_lexicon: frozenset | set | None = None):
    """UDF factory for the OPT-IN CJK max-match tokenizer (pass
    DEFAULT_CJK_LEXICON or your own public word list).  Not used by any
    registered query — fingerprints from this variant differ from the
    default path on Han text by design; the remaining divergence from
    the reference (ansj's dictionary + CoreNLP lemmas) stays documented
    as unobtainable."""
    if cjk_lexicon is None:
        return simhash64_udf
    lex = frozenset(cjk_lexicon)

    @F.pandas_udf(T.LongType())
    def _udf(texts: pd.Series) -> pd.Series:
        out = [
            None if t is None else to_signed64(py_simhash64(t, lex))
            for t in texts
        ]
        return pd.Series(out, dtype="object").astype("Int64")

    return _udf


def hamming_col(a: Column, b: Column) -> Column:
    """P14: popcount(a xor b); -1 when either side is null
    (BingDataAnalysisUtils.java:29-33 parity)."""
    return F.when(
        a.isNull() | b.isNull(), F.lit(-1)
    ).otherwise(F.bit_count(a.bitwiseXOR(b)))


def py_hamming(a: int | None, b: int | None) -> int:
    if a is None or b is None:
        return -1
    return bin((a & MASK64) ^ (b & MASK64)).count("1")
