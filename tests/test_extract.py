"""P4/P5/P6: link extraction quirks, the byte-identical text invariant, charset."""

import re
import sys

from bingcrawler_spark.functions.extract import (
    parse_page_udf,
    py_extract_links,
    py_extract_text,
    py_get_charset,
)
from bingcrawler_spark.functions.simhash import py_simhash64, to_signed64
from bingcrawler_spark.synth import synth_pages_df, synth_pages_local
from bingcrawler_spark.functions import extract as EX

HTML = (
    '<html><head><meta charset="utf-8"><title>T</title>'
    "<script>var a=1;</script><style>b{}</style></head><body>"
    '<a href="http://x.example/a">one</a>'
    '<a class="c" href="/rel/p">two</a>'
    '<a href="#frag">drop</a>'
    '<a href="javascript:void(0)">drop</a>'
    '<a href="http://x.example/b?q=1&amp;r=2">ent</a>'
    '<a href="/rel/q#sec">relfrag</a>'
    '<iframe width="9" src="http://f.example/if"></iframe>'
    '<frame src="http://f.example/fr">'
    '<a href="http://x.example/a">dupe</a>'
    "<p>Body &amp; text</p></body></html>"
)


def test_links_quirks():
    links = py_extract_links(HTML, "http://x.example/page")
    assert links == [
        "http://x.example/a",
        "http://x.example/rel/p",  # relative resolved against host_url (P2)
        "http://x.example/b?q=1&r=2",  # &amp; unescaped (P3)
        "http://x.example/rel/q",  # relative + fragment → stripped at resolve
        "http://f.example/if",  # iframe src
        "http://f.example/fr",  # frame src (regex `i?frame` quirk)
    ]


def test_absolute_fragment_kept_until_insert():
    # absolute links keep '#...' in P4 (canon happens at frontier insert)
    html = '<a href="http://x.example/c#keep">k</a>'
    assert py_extract_links(html, "http://x.example/") == ["http://x.example/c#keep"]


def test_charset_quirk():
    # reference regex is greedy to the LAST quote — quirk preserved
    assert py_get_charset('x charset="gbk" y') == "gbk"
    assert py_get_charset("no charset here") == "utf-8"
    assert py_get_charset('charset="a" mid "b"') == 'a" mid "b'


def test_text_extraction_drops_script_style_tags():
    t = py_extract_text(HTML.encode())
    assert "var a=1" not in t
    assert "b{}" not in t
    assert "Body & text" in t
    assert "<" not in t


def test_whitespace_collapse_census():
    """py_extract_text collapses whitespace with str.split; the regex it
    replaced is kept here as the reference.  Every code point, in four
    contexts (alone, between words, in runs at both ends, mixed with ASCII
    whitespace), collapses to the same string both ways, and so does the
    whole kernel on pages whose text carries the edge cases."""
    ws = re.compile(r"\s+")
    bad = []
    for cp in range(sys.maxunicode + 1):
        c = chr(cp)
        for s in (c, f"a{c}b", f"{c}{c}a{c}{c}", f" {c}\t{c} "):
            if " ".join(s.split()) != ws.sub(" ", s).strip():
                bad.append((hex(cp), s))
    assert not bad, bad[:10]
    edge = "\x1c\x85 one two 　three\x1f\r\n"
    html = f"<p>{edge}</p>{edge}<b>four</b>\xa0&amp;\u2003{edge}"
    ref = ws.sub(" ", EX.py_unescape_entities(EX._ANY_TAG_RE.sub(" ", html))).strip()
    assert py_extract_text(html) == ref == "one two three one two three four & one two three"


def test_invariant_by_construction_local():
    for r in synth_pages_local(150):
        assert py_extract_text(r["html"]) == r["text"], r["url"]


def test_udf_invariant_and_links_match(spark):
    pages = synth_pages_df(spark, 120).select("url", "html", "text")
    null_page = spark.createDataFrame([("http://null.example/", None, None)], pages.schema)
    rows = (
        pages.unionByName(null_page)
        .withColumn("p", parse_page_udf("html", "url"))
        .select("url", "html", "text", "p.links", "p.simhash")
        .collect()
    )
    assert len(rows) > 100
    for r in rows:
        if r["html"] is None:
            assert r["links"] is None and r["simhash"] is None, r["url"]
            continue
        assert list(r["links"]) == py_extract_links(bytes(r["html"]).decode(), r["url"]), r["url"]
        # the kernel hashes the text the pages table stores (P5 byte-identical contract)
        assert r["simhash"] == to_signed64(py_simhash64(r["text"])), r["url"]


# ---------------------------------------------------- JSON-LD structured data


def test_jsonld_roundtrip_and_absent_block(spark):
    from bingcrawler_spark.functions import extract as EX

    docs = spark.createDataFrame(
        [(i, f"body text for {i}") for i in [0, 1, 9, 86400 + 3661]],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r for r in EX.jsonld_extract(
        EX.pack_jsonld_pages(docs)).collect()}
    # doc 0 and 9: no block
    for i in (0, 9):
        r = got[i]
        assert r["has_ld"] == 0 and r["headline"] is None
        assert r["date_published"] is None and r["word_count"] is None
    assert got[1]["has_ld"] == 1
    assert got[1]["headline"] == "Doc 1"
    assert got[1]["date_published"] == "2024-01-01T00:00:01Z"
    assert got[1]["word_count"] == 1
    # day + hour + minute + second rollover, all TZ-independent
    assert got[86400 + 3661]["date_published"] == "2024-01-02T01:01:01Z"
    assert got[86400 + 3661]["word_count"] == (86400 + 3661) % 997


def test_jsonld_extract_tolerates_foreign_html(spark):
    from bingcrawler_spark.functions import extract as EX

    df = spark.createDataFrame(
        [(1, "<html><body>no structured data here</body></html>"),
         (2, '<script type="application/ld+json">{"@type":"Article",'
             '"headline":"X"}</script>')],
        "doc_id long, html string",
    )
    got = {r["doc_id"]: r for r in EX.jsonld_extract(df).collect()}
    assert got[1]["has_ld"] == 0
    assert got[2]["has_ld"] == 1 and got[2]["headline"] == "X"
    assert got[2]["word_count"] is None  # field absent -> typed NULL


# ------------------------------------------------------ meta robots channel


def test_meta_robots_arms_and_default(spark):
    from bingcrawler_spark.functions import extract as EX

    docs = spark.createDataFrame(
        [(i, f"text {i}") for i in range(5)], "doc_id long, text string"
    )
    got = {r["doc_id"]: (r["has_meta"], r["noindex"], r["nofollow"])
           for r in EX.meta_robots_extract(
               EX.pack_meta_robots_pages(docs)).collect()}
    assert got == {
        0: (1, 1, 1),  # noindex,nofollow
        1: (1, 1, 0),  # noindex
        2: (1, 0, 1),  # nofollow
        3: (1, 0, 0),  # all
        4: (0, 0, 0),  # no tag -> index+follow default
    }


def test_meta_robots_none_and_case(spark):
    from bingcrawler_spark.functions import extract as EX

    df = spark.createDataFrame(
        [(1, '<meta name="robots" content="NONE">'),
         (2, '<meta name="robots" content="NoIndex">'),
         (3, "<html>nothing</html>")],
        "doc_id long, html string",
    )
    got = {r["doc_id"]: (r["has_meta"], r["noindex"], r["nofollow"])
           for r in EX.meta_robots_extract(df).collect()}
    assert got[1] == (1, 1, 1)   # none == noindex,nofollow
    assert got[2] == (1, 1, 0)   # case-insensitive
    assert got[3] == (0, 0, 0)


def test_rel_canonical_arms(spark):
    rows = [
        # absolute self
        (1, "http://a.example/p/1",
         '<html><head><link rel="canonical" href="http://a.example/p/1"></head></html>'),
        # same-host other page
        (2, "http://a.example/p/2?page=2",
         '<html><head><link rel="canonical" href="http://a.example/p/2"></head></html>'),
        # cross-host
        (3, "http://a.example/p/3",
         '<html><head><link rel="canonical" href="http://m.example/p/3"></head></html>'),
        # absent
        (4, "http://a.example/p/4", "<html><head></head></html>"),
        # host-relative: resolves against the page scheme+host
        (5, "https://a.example/p/5?v=1",
         '<html><head><link rel="canonical" href="/p/5"></head></html>'),
        # protocol-relative: inherits the page scheme, NOT its host
        (6, "http://a.example/p/6",
         '<html><head><link rel="canonical" href="//cdn.example/p/6"></head></html>'),
        # bare-relative: resolves against the page path's directory
        (7, "http://a.example/p/7",
         '<html><head><link rel="canonical" href="canon/7"></head></html>'),
        # query-only: keeps the FULL base path (RFC 3986 §5.3)
        (8, "http://a.example/p/8?page=2",
         '<html><head><link rel="canonical" href="?page=1"></head></html>'),
        # fragment-only: keeps base path AND query
        (9, "http://a.example/p/9?v=1",
         '<html><head><link rel="canonical" href="#top"></head></html>'),
        # dot-segments fold away (§5.2.4)
        (10, "http://a.example/p/sub/10",
         '<html><head><link rel="canonical" href="../canon/10"></head></html>'),
        (11, "http://a.example/p/11",
         '<html><head><link rel="canonical" href="./canon/11"></head></html>'),
    ]
    df = spark.createDataFrame(rows, "doc_id long, url string, html string")
    got = {r["doc_id"]: (r["has_canonical"], r["canonical"], r["is_self"],
                         r["cross_host"])
           for r in EX.rel_canonical_extract(df).collect()}
    assert got[1] == (1, "http://a.example/p/1", 1, 0)
    assert got[2] == (1, "http://a.example/p/2", 0, 0)
    assert got[3] == (1, "http://m.example/p/3", 0, 1)
    assert got[4] == (0, None, 0, 0)
    assert got[5] == (1, "https://a.example/p/5", 0, 0)
    assert got[6] == (1, "http://cdn.example/p/6", 0, 1)
    assert got[7] == (1, "http://a.example/p/canon/7", 0, 0)
    assert got[8] == (1, "http://a.example/p/8?page=1", 0, 0)
    assert got[9] == (1, "http://a.example/p/9?v=1#top", 0, 0)
    assert got[10] == (1, "http://a.example/p/canon/10", 0, 0)
    assert got[11] == (1, "http://a.example/p/canon/11", 0, 0)


def test_rel_canonical_pack_roundtrip(spark):
    docs = spark.createDataFrame(
        [(i, "body text") for i in range(14)], "doc_id long, text string"
    )
    pages = EX.pack_rel_canonical_pages(docs)
    got = {r["doc_id"]: r for r in EX.rel_canonical_extract(pages).collect()}
    for d in range(14):
        r = got[d]
        assert r["has_canonical"] == (0 if d % 7 == 3 else 1)
        assert r["is_self"] == (1 if d % 7 == 0 else 0)
        assert r["cross_host"] == (1 if d % 7 in (2, 5) else 0)
        if d % 7 in (1, 4):  # absolute and root-relative resolve identically
            assert r["canonical"] == f"http://h{d % 20}.example/canon/{d // 7}"
        if d % 7 == 5:  # protocol-relative picks up the page scheme
            assert r["canonical"] == f"http://mirror.example/it/{d}"
        if d % 7 == 6:  # bare-relative resolves under the /it/ directory
            assert r["canonical"] == f"http://h{d % 20}.example/it/canon/{d // 7}"


def test_hreflang_extract_and_pack(spark):
    docs = spark.createDataFrame(
        [(i, "body") for i in range(9)], "doc_id long, text string"
    )
    pages = EX.pack_hreflang_pages(docs)
    rows = EX.hreflang_extract(pages).collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append(r)
    # d%7==0 pages (0 and 7) carry no annotations
    assert 0 not in by_doc and 7 not in by_doc
    for d, rs in by_doc.items():
        rs = sorted(rs, key=lambda r: r["pos"])
        assert [r["hreflang"] for r in rs] == ["en", "de", "ja", "x-default"]
        assert rs[3]["is_default"] == 1 and rs[3]["href"].endswith(f"/en/p/{d // 3}")
        # all three language variants of a cluster list identical alternates
    a = {tuple(sorted((r["hreflang"], r["href"]) for r in by_doc[d]))
         for d in (3, 4, 5)}
    assert len(a) == 1


def test_synth_graph_actually_contains_iframe_edges():
    """The P4 iframe arm must be exercised by the synthetic crawl graph
    itself, not only by unit fixtures.  Regression: the old generator arm
    required k ≡ 14 (mod 45) with k <= 11 — impossible — so every corpus
    silently carried ZERO iframe edges while the docs claimed coverage."""
    from bingcrawler_spark.synth import page_links

    kinds = {
        kind
        for i in range(300)
        for kind, _ in page_links(i, 300, 8)
    }
    assert "iframe" in kinds
    assert "a" in kinds
