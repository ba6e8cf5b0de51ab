"""HTML → outlinks / main-text / charset (SURVEY.md §2.3 P4, P5, P6).

Pure-Python reference functions (`py_*`) + vectorized pandas UDF wrappers.
These are the ONLY Python-side ops in the crawl hot path; everything else is
JVM column expressions. All UDFs are Arrow-batched (no per-row Python UDFs).

P4 extractLinks — mirrors CommonAnalysis.java:322-362 (kelleszzz/BingCrawler):
  * visit every tag; tag text matched against ``^a.+href="(.+?)"`` (anchored:
    any tag whose text STARTS with 'a') else ``i?frame.*src="(.+?)"``
    (unanchored: any tag containing frame...src — quirks preserved);
  * links starting '#' or 'javascript' dropped;
  * links starting '/' resolved against the page's host_url (P2) and
    fragment-stripped (P1) — absolute links keep fragments HERE (they are
    canonicalized later at frontier insert, CrawlUrl.java:88-89);
  * 8-entity unescape (P3) on every accepted link;
  * reference de-dups into a java.util.HashSet (arbitrary iteration order) —
    this rebuild returns FIRST-OCCURRENCE document order, a deterministic
    refinement documented in SURVEY.md §5.

P5 extract_text — the reference calls WebCollector's ContentExtractor from a
binary jar absent from the repo (CommonAnalysis.java:238-249,
lib/contentextractor-1.0.jar). Per SURVEY.md §7(b) THIS function is the
contract: the synthetic pages table stores text := py_extract_text(html), and
tests re-apply it and assert byte-identical equality per url.

The crawl parses each fetched page in ONE Python crossing: `parse_page_udf`
returns struct<links, simhash> and runs py_extract_links, py_extract_text and
py_simhash64 once each per page (P4, P5, P12).

P6 getCharset — mirrors CommonAnalysis.java:540-558 including the greedy
``charset="(.+)"`` regex (captures to the LAST quote in the document — quirk
preserved for parity tests); the pipeline itself decodes utf-8/replace.
"""

from __future__ import annotations

import re

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql import types as T

from bingcrawler_spark.functions.canon import (
    py_canon_url,
    py_host_url,
    py_unescape_entities,
)
from bingcrawler_spark.functions.simhash import py_simhash64, to_signed64

# ------------------------------------------------------------------ P6

_CHARSET_RE = re.compile(r'charset="(.+)"')


def py_get_charset(html: str) -> str:
    m = _CHARSET_RE.search(html)
    return m.group(1) if m else "utf-8"


# ------------------------------------------------------------------ P4

_TAG_RE = re.compile(r"<([^<>]+)>")
_A_HREF_RE = re.compile(r'^a.+href="(.+?)"')
_FRAME_SRC_RE = re.compile(r'i?frame.*src="(.+?)"')


def py_extract_links(html: str, page_url: str) -> list[str]:
    """Outlinks in first-occurrence document order, de-duplicated."""
    host_url = py_host_url(page_url)
    seen: set[str] = set()
    out: list[str] = []
    for m in _TAG_RE.finditer(html):
        tag = m.group(1)
        am = _A_HREF_RE.search(tag)
        link = am.group(1) if am else None
        if link is None:
            fm = _FRAME_SRC_RE.search(tag)
            link = fm.group(1) if fm else None
        if link is None:
            continue
        if link.startswith("#") or link.startswith("javascript"):
            continue
        if link.startswith("/"):
            if not host_url:
                continue
            link = py_canon_url(host_url + link)
        link = py_unescape_entities(link)
        if link not in seen:
            seen.add(link)
            out.append(link)
    return out


# ------------------------------------------------------------------ P5

_SCRIPT_STYLE_RE = re.compile(r"(?is)<(script|style)[^>]*>.*?</\1\s*>")
_ANY_TAG_RE = re.compile(r"(?s)<[^>]*>")


def py_extract_text(html: bytes | str) -> str:
    """THE text-extraction contract (byte-identical invariant, input_hint)."""
    s = html.decode("utf-8", "replace") if isinstance(html, (bytes, bytearray)) else html
    s = _SCRIPT_STYLE_RE.sub(" ", s)
    s = _ANY_TAG_RE.sub(" ", s)
    s = py_unescape_entities(s)
    # collapse whitespace runs to one space and trim: str.split() splits on
    # exactly the characters regex \s matches (str.isspace), so this equals
    # re.sub(r"\s+", " ", s).strip() (test_whitespace_collapse_census)
    return " ".join(s.split())


# ------------------------------------------- one-pass page parse (P4+P5+P12)


def py_parse_page(html: bytes | None, url: str) -> tuple:
    """One page → (outlinks, SimHash64 of its main text as a signed int64);
    None html gives (None, None).  Text is extracted once and only hashed."""
    if html is None:
        return None, None
    html = bytes(html)
    links = py_extract_links(html.decode("utf-8", "replace"), url)
    return links, to_signed64(py_simhash64(py_extract_text(html)))


@F.pandas_udf(
    T.StructType(
        [
            T.StructField("links", T.ArrayType(T.StringType())),
            T.StructField("simhash", T.LongType()),
        ]
    )
)
def parse_page_udf(html: pd.Series, url: pd.Series) -> pd.DataFrame:
    rows = [py_parse_page(b, u) for b, u in zip(html, url)]
    return pd.DataFrame(
        {
            "links": pd.Series([r[0] for r in rows], dtype="object"),
            "simhash": pd.Series([r[1] for r in rows], dtype="object").astype("Int64"),
        }
    )


# ---------------------------------------------------- JSON-LD structured data


def pack_jsonld_pages(docs, id_col: str = "doc_id", text_col: str = "text"):
    """Serialize one synthetic article page per doc with an embedded
    schema.org JSON-LD block (headline / datePublished / wordCount,
    all closed-form in doc_id so the DuckDB oracle re-derives them
    arithmetically).  Docs with doc_id % 9 == 0 ship WITHOUT the block
    to exercise the no-structured-data arm.  Pure JVM string concat —
    no Python in the serializer."""
    did = F.col(id_col)
    # ISO timestamp '2024-01-01T00:00:00Z' + doc_id seconds, built from
    # DateType arithmetic + integer time-of-day so the result is
    # independent of spark.sql.session.timeZone (date_format on a
    # TIMESTAMP renders in session TZ; dates and modular ints do not).
    day = F.date_add(F.lit("2024-01-01").cast("date"), (did / 86400).cast("int"))
    secs = did % 86400
    date_str = F.concat(
        day.cast("string"),
        F.lit("T"),
        F.lpad((secs / 3600).cast("int").cast("string"), 2, "0"),
        F.lit(":"),
        F.lpad(((secs % 3600) / 60).cast("int").cast("string"), 2, "0"),
        F.lit(":"),
        F.lpad((secs % 60).cast("string"), 2, "0"),
        F.lit("Z"),
    )
    ld = F.concat(
        F.lit('<script type="application/ld+json">{"@context":'
              '"https://schema.org","@type":"Article","headline":"Doc '),
        did.cast("string"),
        F.lit('","datePublished":"'),
        date_str,
        F.lit('","wordCount":'),
        (did % 997).cast("string"),
        F.lit("}</script>"),
    )
    html = F.concat(
        F.lit("<html><head><title>Doc "),
        did.cast("string"),
        F.lit("</title>"),
        F.when(did % 9 == 0, F.lit("")).otherwise(ld),
        F.lit("</head><body><p>"),
        F.substring(F.col(text_col), 1, 40),
        F.lit("</p></body></html>"),
    )
    return docs.select(did.alias(id_col), html.alias("html"))


def jsonld_extract(pages, html_col: str = "html", id_col: str = "doc_id"):
    """Parse the schema.org JSON-LD block back out of raw HTML — the
    structured-data channel modern crawl pipelines index alongside
    body text (the reference parses only its two verticals' DOM,
    BingAnalysisUtils.java; JSON-LD is the open-web generalization).
    Whole extraction is JVM regexp_extract — no UDF, codegen-friendly,
    and absent blocks yield typed NULLs rather than errors."""
    block = F.regexp_extract(
        F.col(html_col),
        '<script type="application/ld\\+json">(.*?)</script>',
        1,
    )
    df = pages.withColumn("_ld", block)
    has = F.col("_ld") != ""

    def _field(pat):
        return F.when(has, F.nullif(F.regexp_extract("_ld", pat, 1), F.lit("")))

    return df.select(
        id_col,
        has.cast("int").alias("has_ld"),
        _field('"headline":"([^"]*)"').alias("headline"),
        _field('"datePublished":"([^"]*)"').alias("date_published"),
        _field('"wordCount":([0-9]+)').cast("int").alias("word_count"),
    )


# ------------------------------------------------------ meta robots channel


def pack_meta_robots_pages(docs, id_col: str = "doc_id", text_col: str = "text"):
    """Synthetic pages exercising every <meta name="robots"> arm:
    noindex,nofollow / noindex / nofollow / all / no tag at all."""
    did = F.col(id_col)
    content = (
        F.when(did % 5 == 0, F.lit("noindex,nofollow"))
        .when(did % 5 == 1, F.lit("noindex"))
        .when(did % 5 == 2, F.lit("nofollow"))
        .when(did % 5 == 3, F.lit("all"))
    )
    meta = F.when(
        did % 5 == 4, F.lit("")
    ).otherwise(
        F.concat(F.lit('<meta name="robots" content="'), content, F.lit('">'))
    )
    html = F.concat(
        F.lit("<html><head>"),
        meta,
        F.lit("</head><body><p>"),
        F.substring(F.col(text_col), 1, 40),
        F.lit("</p></body></html>"),
    )
    return docs.select(did.alias(id_col), html.alias("html"))


def meta_robots_extract(pages, html_col: str = "html", id_col: str = "doc_id"):
    """Parse robots META directives out of raw HTML (REP's page-level
    layer, the companion of the site-level robots.txt parser in
    functions/robots.py): noindex gates the indexer, nofollow gates
    outlink expansion — the reference follows every extracted link
    unconditionally (TextAnalysis.java href walk).  Pages without the
    tag default to index+follow, per the robots META spec.  Pure JVM
    regexp, shuffle-free."""
    content = F.lower(
        F.regexp_extract(
            F.col(html_col),
            '<meta name="robots" content="([^"]*)"',
            1,
        )
    )
    df = pages.withColumn("_c", content)
    has = F.col("_c") != ""
    noindex = has & (
        F.col("_c").contains("noindex") | F.col("_c").contains("none")
    )
    nofollow = has & (
        F.col("_c").contains("nofollow") | F.col("_c").contains("none")
    )
    return df.select(
        id_col,
        has.cast("int").alias("has_meta"),
        noindex.cast("int").alias("noindex"),
        nofollow.cast("int").alias("nofollow"),
    )


# ------------------------------------------------------ rel=canonical channel

_CANON_HOST_RE = r"^[a-z][a-z0-9+.-]*://([^/?#]+)"


def pack_rel_canonical_pages(docs, id_col: str = "doc_id", text_col: str = "text"):
    """Synthetic pages exercising every <link rel="canonical"> arm:
    absolute self-canonical / same-host other page / cross-host / no tag
    / root-relative / protocol-relative (//host/…) / bare-relative href —
    the last three must resolve against the page URL per RFC 3986 §5."""
    did = F.col(id_col)
    url = F.concat(
        F.lit("http://h"), (did % 20).cast("string"),
        F.lit(".example/it/"), did.cast("string"),
    )
    gid = F.expr(f"div({id_col}, 7)").cast("string")
    canon_path = F.concat(F.lit("/canon/"), gid)
    href = (
        F.when(did % 7 == 0, url)
        .when(did % 7 == 1, F.concat(
            F.lit("http://h"), (did % 20).cast("string"), F.lit(".example"),
            canon_path,
        ))
        .when(did % 7 == 2, F.concat(
            F.lit("http://mirror.example/it/"), did.cast("string")
        ))
        .when(did % 7 == 4, canon_path)
        .when(did % 7 == 5, F.concat(
            F.lit("//mirror.example/it/"), did.cast("string")
        ))
        .when(did % 7 == 6, F.concat(F.lit("canon/"), gid))
    )
    link = F.when(did % 7 == 3, F.lit("")).otherwise(
        F.concat(F.lit('<link rel="canonical" href="'), href, F.lit('">'))
    )
    html = F.concat(
        F.lit("<html><head>"),
        link,
        F.lit("</head><body><p>"),
        F.substring(F.col(text_col), 1, 40),
        F.lit("</p></body></html>"),
    )
    return docs.select(
        did.alias(id_col), url.alias("url"), html.alias("html")
    )


def rel_canonical_extract(
    pages, html_col: str = "html", url_col: str = "url", id_col: str = "doc_id"
):
    """Parse <link rel="canonical"> out of raw HTML — the page-side
    dedup signal every production crawler honors before indexing (the
    reference indexes every fetched URL verbatim; SURVEY §2 P1 covers
    only URL-side normalization).  Host-relative hrefs resolve against
    the page URL's scheme+host; `is_self` marks pages that are already
    the canonical representative and `cross_host` flags canonicals that
    leave the host (the case a crawler must treat as a redirect-like
    edge, not a silent collapse).  Pure JVM regexp, shuffle-free at any
    scale."""
    href = F.regexp_extract(
        F.col(html_col), '<link rel="canonical" href="([^"]*)"', 1
    )
    host = F.regexp_extract(F.col(url_col), _CANON_HOST_RE, 1)
    scheme = F.regexp_extract(F.col(url_col), r"^([a-z][a-z0-9+.-]*)://", 1)
    # RFC 3986 §5 reference resolution, the arms a crawler actually sees:
    # protocol-relative (//host/p → scheme:), root-relative (/p →
    # scheme://host), query-only (?q keeps the full base path, §5.3),
    # fragment-only (#x keeps base path+query), absolute (scheme present
    # → verbatim), bare-relative (p → against the page path's directory,
    # with bounded §5.2.4 dot-segment removal)
    path = F.regexp_extract(
        F.col(url_col), r"^[a-z][a-z0-9+.-]*://[^/?#]+(/[^?#]*)?", 1
    )
    base_path = F.when(path == "", F.lit("/")).otherwise(path)
    base_query = F.regexp_extract(F.col(url_col), r"^[^#]*?(\?[^#]*)", 1)
    page_dir = F.regexp_extract(path, r"^(.*/)", 1)
    page_dir = F.when(page_dir == "", F.lit("/")).otherwise(page_dir)
    rel_path = F.concat(page_dir, href)
    # §5.2.4 dot-segment removal, bounded: '/./' collapses, then up to
    # three '<seg>/../' hops fold (canonical hrefs in the wild nest a
    # couple of levels at most; deeper chains pass through verbatim)
    for _ in range(2):
        rel_path = F.regexp_replace(rel_path, r"/\./", "/")
    rel_path = F.regexp_replace(rel_path, r"/\.$", "/")
    for _ in range(3):
        rel_path = F.regexp_replace(rel_path, r"/(?!\.\./)[^/]+/\.\./", "/")
    rel_path = F.regexp_replace(rel_path, r"/(?!\.\./)[^/]+/\.\.$", "/")
    resolved = (
        F.when(href == "", F.lit(None).cast("string"))
        .when(href.startswith("//"), F.concat(scheme, F.lit(":"), href))
        .when(href.startswith("/"), F.concat(scheme, F.lit("://"), host, href))
        .when(
            href.startswith("?"),
            F.concat(scheme, F.lit("://"), host, base_path, href),
        )
        .when(
            href.startswith("#"),
            F.concat(scheme, F.lit("://"), host, base_path, base_query, href),
        )
        .when(href.rlike(r"^[a-zA-Z][a-zA-Z0-9+.-]*:"), href)
        .otherwise(F.concat(scheme, F.lit("://"), host, rel_path))
    )
    has = href != ""
    canon_host = F.regexp_extract(resolved, _CANON_HOST_RE, 1)
    return pages.select(
        id_col,
        has.cast("int").alias("has_canonical"),
        resolved.alias("canonical"),
        (has & (resolved == F.col(url_col))).cast("int").alias("is_self"),
        (has & (canon_host != host)).cast("int").alias("cross_host"),
    )


# ------------------------------------------------------ hreflang channel


def pack_hreflang_pages(docs, id_col: str = "doc_id", text_col: str = "text"):
    """Synthetic pages exercising hreflang alternate clusters: groups of
    3 docs are one logical page in (en, de, ja); each variant lists ALL
    three alternates plus x-default, except id%7==0 pages which carry no
    alternates at all."""
    did = F.col(id_col)
    gid = F.expr(f"div({id_col}, 3)")
    langs = ["en", "de", "ja"]

    def page_url(lang):
        return F.concat(
            F.lit("http://www.example/"), F.lit(lang), F.lit("/p/"),
            gid.cast("string"),
        )

    links = F.concat(
        *[
            F.concat(
                F.lit('<link rel="alternate" hreflang="'),
                F.lit(lang),
                F.lit('" href="'),
                page_url(lang),
                F.lit('">'),
            )
            for lang in langs
        ],
        F.lit('<link rel="alternate" hreflang="x-default" href="'),
        page_url("en"),
        F.lit('">'),
    )
    own = (
        F.when(did % 3 == 0, F.lit("en"))
        .when(did % 3 == 1, F.lit("de"))
        .otherwise(F.lit("ja"))
    )
    html = F.concat(
        F.lit("<html><head>"),
        F.when(did % 7 == 0, F.lit("")).otherwise(links),
        F.lit("</head><body><p>"),
        F.substring(F.col(text_col), 1, 40),
        F.lit("</p></body></html>"),
    )
    return docs.select(
        did.alias(id_col),
        F.concat(
            F.lit("http://www.example/"), own, F.lit("/p/"), gid.cast("string")
        ).alias("url"),
        html.alias("html"),
    )


def hreflang_extract(pages, html_col: str = "html", id_col: str = "doc_id"):
    """Explode <link rel="alternate" hreflang=..> annotations — the
    signal that groups language variants of one logical page so an
    international crawler fetches the cluster once per language instead
    of treating variants as unrelated URLs (the reference has no i18n
    layer; its Bing pages are single-locale).  One row per (page,
    hreflang annotation); is_default flags x-default.  Pure JVM
    regexp_extract_all + posexplode, shuffle-free."""
    pairs = F.regexp_extract_all(
        F.col(html_col),
        F.lit('<link rel="alternate" hreflang="([^"]*)" href="([^"]*)">'),
        0,
    )
    df = pages.select(
        id_col,
        F.posexplode(pairs).alias("pos", "tag"),
    )
    lang = F.regexp_extract(F.col("tag"), 'hreflang="([^"]*)"', 1)
    href = F.regexp_extract(F.col("tag"), 'href="([^"]*)"', 1)
    return df.select(
        id_col,
        F.col("pos").cast("int").alias("pos"),
        lang.alias("hreflang"),
        href.alias("href"),
        (lang == "x-default").cast("int").alias("is_default"),
    )
