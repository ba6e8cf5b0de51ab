"""P9 — the TenderParser vertical (second crawl vertical) as batch operators.

Reproduces TenderParser.java:64-453 semantics:

* URL classifiers (TenderParser.java:386-453): ``isHomePage`` — tender host
  with path '' or '/'; ``isDisplayPage`` — tender host with path exactly
  '/display.php'; ``isSearchPage`` — search-engine host whose query string
  contains 'wd='; ``isResultPage`` — the url carries a MESSAGE_TITLE in the
  crawl messages map (:386-396, the F7 channel).  Anything else is demoted
  by -1 (onCrawlingUrl :77-82).
* home-page parse (onCrawlingHomePage :299-352): every ``a[href]`` anchor
  with non-empty href AND non-empty text whose href FULL-matches
  ``PATTERN_DISPLAY = display.php\\?id=(.*)`` (Setting.java:58 — the
  unescaped '.' means 'displayXphp?id=1' also matches; quirk preserved)
  becomes ``URL_TENDER_HOMEPAGE + '/' + href`` at DEFAULT_WEIGHT (:338-342).
* display-page parse (onCrawlingDisplayPage :239-292): ``<title>`` text
  with SUFFIX_TITLE removed; emits the search-engine url
  ``URL_SEARCH_ENGINE?wd=<encoded title>`` at DEFAULT_WEIGHT + 1 (:271-277).
* search-page parse (onAnalyzeSearchPage :191-232): the query title comes
  back out of the url's ``wd=`` parameter (:144-154); inside
  ``div#content_left``, each ``div[class~=result(.+)c-container]``
  contributes its FIRST ``a[href]``; anchors with empty text or text
  starting with EXCLUSION_BAIDU_PREFIX ('百度') are skipped (:205-207);
  surviving candidates are gated by
  ``hamming(simhash128(title), simhash128(link_text)) <= 60`` AND
  ``len(tokens(link_text)) >= 3`` (:209-213, Setting.java:63-64); matched
  links are inserted at DEFAULT_WEIGHT + 1 with message
  ``{title: <query title>}`` (:214-227).

Tokenizer divergence (documented, same as P12/P13): HanLP segmentation is
replaced by whitespace tokens; the simhash/vote math and both gate
thresholds are identical (xhash.simhash128_df is the exact Simhash.java
clone).

The url codec here covers the synth alphabet ([a-z0-9 ._~-]): the query
encoder percent-encodes everything outside RFC 3986 unreserved chars,
which for these titles means space → %20 — the same bytes okhttp's
canonical query encoding produces for this alphabet.
"""

from __future__ import annotations

import re
import urllib.parse

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

from bingcrawler_spark.functions.bingparse import (
    _find_first,
    _parse_tree,
    _plain_text,
    _walk,
)

# constants — Setting.java:47-65, CrawlUrl.java:12
URL_TENDER_HOMEPAGE = "http://www.chinazbcgou.com.cn"
PATH_DISPLAY = "/display.php"
PATTERN_DISPLAY = re.compile(r"display.php\?id=(.*)")  # '.' unescaped — quirk
URL_SEARCH_ENGINE = "https://www.baidu.com/baidu"
QUERY_SEARCH_ENGINE = "wd"
EXCLUSION_BAIDU_PREFIX = "百度"
SUFFIX_TITLE = "_中国招投标采购网 官网"
MAX_HAMMING_DISTANCE = 60
MIN_TOKEN_SIZE = 3
DEFAULT_WEIGHT = 100
HOME_PAGE_WEIGHT = DEFAULT_WEIGHT - 10

# word-boundary href: jsoup's attr("href") reads the href attribute itself,
# so `<a data-href="u1" href="u2">` must yield u2 — a bare `href="` scan
# would hit the data-href suffix first
_HREF_ANCHORED_RE = re.compile(r'(?:^|\s)href="(.*?)"')

_TENDER_HOST = "www.chinazbcgou.com.cn"
_SEARCH_HOST = "www.baidu.com"


def query_encode(s: str) -> str:
    """Percent-encode a query value (RFC 3986 unreserved kept verbatim)."""
    return urllib.parse.quote(s, safe="")


def query_decode(s: str) -> str:
    """URLDecoder.decode twin for the wd= round-trip (:152)."""
    return urllib.parse.unquote(s)


# ------------------------------------------------------------- classifiers


def classify_url_col(url: Column, has_title_msg: Column | None = None) -> Column:
    """Page-type dispatch (onCrawlingUrl :64-83) as one column expression.

    Order matters and matches the reference's if/else chain: home →
    display → search → result → other.  ``has_title_msg`` stands in for
    the urlsDbManager MESSAGE_TITLE lookup (isResultPage :386-396) — pass
    the boolean produced by joining the messages map; omitted means no
    url carries a title message."""
    host = F.parse_url(url, F.lit("HOST"))
    path = F.coalesce(F.parse_url(url, F.lit("PATH")), F.lit(""))
    query = F.coalesce(F.parse_url(url, F.lit("QUERY")), F.lit(""))
    is_home = (host == _TENDER_HOST) & ((path == "") | (path == "/"))
    is_display = (host == _TENDER_HOST) & (path == PATH_DISPLAY)
    is_search = (host == _SEARCH_HOST) & query.contains(QUERY_SEARCH_ENGINE + "=")
    c = F.when(is_home, "home").when(is_display, "display").when(is_search, "search")
    if has_title_msg is not None:
        c = c.when(has_title_msg, "result")
    return c.otherwise("other")


# ----------------------------------------------------------------- parsers


def _anchors(seeds: list) -> list[tuple[str, str]]:
    """All a[href] nodes (jsoup ``doc.select("a[href]")``) in document
    order, as (href, text) pairs."""
    out: list[tuple[str, str]] = []
    # exact tag-name match (jsoup `a[href]`): `n.text.startswith("a")`
    # would also catch area/abbr/audio tags
    for a in _walk(seeds, lambda n: n.name == "a" and 'href="' in n.text, True):
        m = _HREF_ANCHORED_RE.search(a.text)
        if m:
            out.append((m.group(1), _plain_text(a).strip()))
    return out


def py_parse_home(html: str | None) -> list[dict] | None:
    """onCrawlingHomePage :330-345: display links off the tender home page.
    Non-empty href AND text (:334), href full-matches PATTERN_DISPLAY
    (:336, Java matches() is a full match) → absolute display url."""
    if html is None:
        return None
    try:
        root = _parse_tree(html)
        out: list[dict] = []
        for href, text in _anchors([root]):
            if not href or not text:
                continue
            if PATTERN_DISPLAY.fullmatch(href):
                out.append(
                    {"href": URL_TENDER_HOMEPAGE + "/" + href, "text": text}
                )
        return out
    except Exception:
        return None


def py_parse_display_title(html: str | None) -> str | None:
    """onCrawlingDisplayPage :254-255: <title> minus SUFFIX_TITLE."""
    if html is None:
        return None
    try:
        root = _parse_tree(html)
        t = _find_first([root], lambda n: n.name == "title")
        if t is None:
            return None
        return _plain_text(t).replace(SUFFIX_TITLE, "")
    except Exception:
        return None


def py_parse_search_candidates(html: str | None) -> list[dict] | None:
    """onAnalyzeSearchPage :197-207: div#content_left →
    div[class~=result(.+)c-container] → first a[href]; drop empty-text and
    百度-prefixed anchors.  The simhash/token gate runs downstream as a
    relational join (the scale-correct place for it)."""
    if html is None:
        return None
    try:
        root = _parse_tree(html)
        content = _find_first(
            [root], lambda n: n.name == "div" and 'id="content_left"' in n.text
        )
        if content is None:
            return None
        out: list[dict] = []
        for container in _walk(
            list(content.children),
            lambda n: n.name == "div"
            and _class_matches(n.text),
        ):
            a = _find_first(
                [container],
                lambda n: n.name == "a" and 'href="' in n.text,
            )
            if a is None:
                continue
            text = _plain_text(a).strip()
            if not text or text.startswith(EXCLUSION_BAIDU_PREFIX):
                continue
            m = _HREF_ANCHORED_RE.search(a.text)
            if m:
                out.append({"href": m.group(1), "text": text})
        return out
    except Exception:
        return None


_CLASS_ATTR_RE = re.compile(r'class="(.*?)"')
_RESULT_CLASS_RE = re.compile(r"result(.+)c-container")  # jsoup [class~=re]


def _class_matches(tag_text: str) -> bool:
    m = _CLASS_ATTR_RE.search(tag_text)
    return bool(m and _RESULT_CLASS_RE.search(m.group(1)))


# ------------------------------------------------------------- Spark UDFs

LINK_TYPE = T.ArrayType(
    T.StructType(
        [T.StructField("href", T.StringType()), T.StructField("text", T.StringType())]
    )
)


@F.pandas_udf(T.StringType())
def query_encode_udf(s: pd.Series) -> pd.Series:
    return s.map(lambda v: query_encode(v) if v is not None else None)
