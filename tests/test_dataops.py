"""Training-data pipeline operators: dedup, similarity, text stats,
multimodal plumbing — semantic checks against pure-Python recomputation
and injected ground truth."""

import hashlib
import struct

import numpy as np
import pytest
from pyspark.sql import functions as F

from bingcrawler_spark.dataops import dedup as DD
from bingcrawler_spark.dataops import multimodal as MM
from bingcrawler_spark.dataops import similarity as SIM
from bingcrawler_spark.dataops import textstats as TS


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


def test_quality_filters_rules(spark):
    """Each Gopher/C4 rule fires on the doc built to violate it and only
    that doc loses keep."""
    good = "the fast data " + " ".join(f"w{i} data fast" for i in range(12))
    rows = [
        (0, good),                                   # passes everything
        (1, "the fast " + "x " * 40 + "{ brace"),    # r_braces
        (2, good + " lorem ipsum dolor"),            # r_lorem
        (3, "the fast data"),                        # r_wordcount (3 words)
        (4, "the fast " + "aaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaa " * 35),  # meanlen
        (5, " ".join(f"u{i}" for i in range(40))),   # r_stopwords (none)
        (6, "the fast " + "data " * 50),             # r_ttr (repetition)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r.asDict() for r in TS.quality_filters(df).collect()}
    assert out[0]["keep"] == 1
    for did, rule in [(1, "r_braces"), (2, "r_lorem"), (3, "r_wordcount"),
                      (4, "r_meanlen"), (5, "r_stopwords"), (6, "r_ttr")]:
        assert out[did][rule] == 0, (did, rule, out[did])
        assert out[did]["keep"] == 0


def test_chunk_dedup_first_occurrence_wins(spark):
    """10-token chunks: the globally first (doc_id, pos) occurrence of a
    repeated chunk survives; later copies are dropped; reassembly keeps
    chunk order; a fully-duplicated doc survives with empty text."""
    c1 = " ".join(f"a{i}" for i in range(10))
    c2 = " ".join(f"b{i}" for i in range(10))
    c3 = " ".join(f"c{i}" for i in range(10))
    rows = [
        (0, c1 + " " + c2),       # both kept
        (1, c2 + " " + c3),       # c2 dropped (doc 0 owns it), c3 kept
        (2, c1),                  # fully duplicated → empty
        (3, c3 + " tail words"),  # c3 dropped, short remainder chunk kept
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r.asDict() for r in DD.chunk_dedup(df).collect()}
    assert (out[0]["n_chunks"], out[0]["n_kept"]) == (2, 2)
    assert out[0]["text_dedup"] == c1 + " " + c2
    assert out[1]["text_dedup"] == c3
    assert (out[2]["n_kept"], out[2]["text_dedup"]) == (0, "")
    assert out[3]["text_dedup"] == "tail words"


# ------------------------------------------------------------------ dedup


def test_exact_dedup_finds_injected_clones(docs):
    clones = docs.where(F.col("doc_id") % 9 == 0).select(
        (F.col("doc_id") + 5000).alias("doc_id"), "text"
    )
    corpus = docs.select("doc_id", "text").unionByName(clones)
    out = DD.exact_dedup(corpus)
    dups = {r.doc_id: r.canonical_id for r in out.where("is_dup = 1").collect()}
    want = {r.doc_id + 5000: r.doc_id for r in docs.where("doc_id % 9 = 0").collect()}
    assert dups == want
    assert out.where("is_dup = 0").count() == docs.count()


def _near_corpus(docs):
    near = docs.where(F.col("doc_id") % 17 == 0).select(
        (F.col("doc_id") + 5000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" zzz")).alias("text"),
        "lang",
    )
    return docs.select("doc_id", "text", "lang").unionByName(near)


def test_minhash_lsh_finds_injected_neardups(docs):
    corpus = _near_corpus(docs)
    pairs = {
        (r.doc_a, r.doc_b)
        for r in DD.minhash_lsh_pairs(corpus, min_jaccard_pct=50).collect()
    }
    expected = {(r.doc_id, r.doc_id + 5000) for r in docs.where("doc_id % 17 = 0").collect()}
    assert expected <= pairs  # LSH with 4 bands must catch ~identical docs


def test_simhash_neardup_finds_injected_clones(docs):
    # identical text → identical fingerprint → every band matches
    # (pigeonhole guarantees detection only below n_bands hamming; the
    # tiny 31-word synthetic vocabulary makes one-token edits flip ~10
    # of 60 bits, so the guaranteed case is the exact clone)
    clones = docs.where(F.col("doc_id") % 17 == 0).select(
        (F.col("doc_id") + 5000).alias("doc_id"), "text", "lang"
    )
    corpus = docs.select("doc_id", "text", "lang").unionByName(clones)
    out = DD.simhash_neardup_pairs(corpus, max_hamming=8)
    pairs = {(r.doc_a, r.doc_b): r.hamming for r in out.collect()}
    for r in docs.where("doc_id % 17 = 0").collect():
        assert pairs.get((r.doc_id, r.doc_id + 5000)) == 0


def test_ngram_jaccard_exact_counts(docs):
    corpus = _near_corpus(docs).where("doc_id % 17 = 0 or doc_id >= 5000")
    out = DD.ngram_jaccard_pairs(corpus, min_jaccard_pct=80)
    for r in out.collect():
        assert r.doc_b - r.doc_a == 5000
        assert r.n_common * 100 >= r.n_union * 80


# -------------------------------------------------------------- similarity


def test_brute_force_topk_matches_numpy(emb):
    rows = emb.limit(200).collect()
    mat = np.array([r.embedding for r in rows], dtype=np.float64)
    ids = np.array([r.vec_id for r in rows])
    corpus = emb.limit(200)
    out = SIM.brute_force_topk(corpus, corpus.where("vec_id < 5"), k=3)
    got = {}
    for r in out.collect():
        got.setdefault(r.query_id, []).append((r.rank, r.neighbor_id))
    norms = np.linalg.norm(mat, axis=1)
    for q in range(5):
        qi = int(np.where(ids == q)[0][0])
        cos = mat @ mat[qi] / (norms * norms[qi])
        order = sorted(
            [(float(-cos[j]), int(ids[j])) for j in range(len(ids)) if ids[j] != q]
        )[:3]
        want = [(rank + 1, nid) for rank, (_, nid) in enumerate(order)]
        assert sorted(got[q]) == want


def test_lsh_topk_respects_buckets(emb):
    out = SIM.lsh_topk(emb, emb.where("vec_id < 10"), k=3, n_bits=6)
    joined = (
        out.join(
            emb.select(
                F.col("vec_id").alias("query_id"),
                SIM.sign_bucket_col(F.col("embedding"), 6).alias("qb"),
            ),
            "query_id",
        )
        .join(
            emb.select(
                F.col("vec_id").alias("neighbor_id"),
                SIM.sign_bucket_col(F.col("embedding"), 6).alias("nb"),
            ),
            "neighbor_id",
        )
    )
    assert joined.where("qb != nb").count() == 0


def test_ivf_single_cell_degenerates_to_exact(emb):
    """With one cell and one probe every vector lands in cell 0 and IVF
    must return exactly the brute-force top-k."""
    corpus = emb.limit(150)
    q = corpus.where("vec_id < 5")
    ivf = SIM.ivf_topk(corpus, q, k=3, n_cells=1, n_probe=1)
    exact = SIM.brute_force_topk(corpus, q, k=3)
    assert sorted(map(tuple, ivf.collect())) == sorted(map(tuple, exact.collect()))


def test_ivf_ranks_dense_and_recall_reasonable(emb):
    """Probing 2 of 8 cells: ranks are dense 1..n per query, result is a
    subset of the corpus, and recall vs exact top-3 is non-trivial (>0 —
    the quantization is verified exactly by the driver oracle; this pins
    the operator's shape)."""
    corpus = emb.limit(200)
    q = corpus.where("vec_id < 8")
    out = SIM.ivf_topk(corpus, q, k=3, n_cells=8, n_probe=2).collect()
    per_q: dict = {}
    for r in out:
        per_q.setdefault(r.query_id, []).append(r.rank)
    assert per_q  # probes always contain the query's own cell → neighbors
    for ranks in per_q.values():
        assert sorted(ranks) == list(range(1, len(ranks) + 1))
    exact = {
        (r.query_id, r.neighbor_id)
        for r in SIM.brute_force_topk(corpus, q, k=3).collect()
    }
    got = {(r.query_id, r.neighbor_id) for r in out}
    assert len(got & exact) > 0


def test_embedding_clone_pairs(emb):
    clones = emb.where("vec_id % 19 = 0").select(
        (F.col("vec_id") + 9000).alias("vec_id"), "embedding"
    )
    corpus = emb.select("vec_id", "embedding").unionByName(clones)
    out = SIM.embedding_clone_pairs(corpus, min_cos_e4=9999)
    got = {(r.vec_a, r.vec_b) for r in out.collect()}
    want = {(r.vec_id, r.vec_id + 9000) for r in emb.where("vec_id % 19 = 0").collect()}
    assert want <= got


def test_semdedup_hand_vectors(spark):
    """Deterministic centroids = 2 lowest ids; near-parallel vectors drop
    in favor of the lowest id in their cell; the diagonal vector ties on
    centroid cosine (goes to the lowest cell) and survives."""
    rows = [
        (0, [1.0, 0.0]),
        (1, [0.0, 1.0]),
        (2, [1.0, 0.01]),   # cell 0, cos vs id0 ≈ 0.99995 → dropped
        (3, [0.01, 1.0]),   # cell 1, cos vs id1 ≈ 0.99995 → dropped
        (4, [0.7, 0.7]),    # centroid-cos tie → cell 0; no close lower id
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = {r.vec_id: (r.cell, r.kept)
           for r in SIM.semdedup(df, min_cos_e4=9990, n_cells=2).collect()}
    assert out == {0: (0, 1), 1: (1, 1), 2: (0, 0), 3: (1, 0), 4: (0, 1)}
    # exact duplicate of the keeper is also pruned
    df2 = spark.createDataFrame(rows + [(5, [1.0, 0.0])],
                                "vec_id long, embedding array<float>")
    out2 = {r.vec_id: r.kept
            for r in SIM.semdedup(df2, min_cos_e4=9990, n_cells=2).collect()}
    assert out2[5] == 0 and out2[0] == 1


def test_semdedup_auto_warns_past_cell_cap(spark):
    """The sign-cell auto path caps n_bits at 20: a corpus needing more than
    2**20 cells must warn instead of going quadratic silently.  The count
    is stubbed so the check runs on four vectors."""
    df = spark.createDataFrame(
        [(i, [float(i + 1)] * 24) for i in range(4)],
        "vec_id long, embedding array<float>",
    )
    df.count = lambda: 2**20 * SIM.SEMDEDUP_CELL_TARGET + 1
    with pytest.warns(UserWarning, match="2\\*\\*20"):
        out = SIM.semdedup(df, min_cos_e4=9990)
    assert out.count() == 4


# --------------------------------------------------------------- textstats


def test_token_stats_matches_python(docs):
    sample = docs.limit(20)
    got = {r.doc_id: r for r in TS.token_stats(sample).collect()}
    for r in sample.collect():
        toks = r.text.split(" ")
        g = got[r.doc_id]
        assert g.ws_tokens == len(toks)
        assert g.distinct_tokens == len(set(toks))
        assert g.n_chars == len(r.text)


def test_quality_score_fixed_point(docs):
    sample = docs.limit(20)
    got = {r.doc_id: r for r in TS.quality_score(sample).collect()}
    stop = sorted({w for ws in TS.LANG_STOPWORDS.values() for w in ws})
    for r in sample.collect():
        toks = r.text.split(" ")
        d = set(toks)
        g = got[r.doc_id]
        assert g.ttr_e4 == len(d) * 10000 // len(toks)
        assert g.stop_ratio_e4 == len(d & set(stop)) * 10000 // len(d)


def test_lang_id_deterministic(docs):
    a = TS.lang_id(docs.limit(30)).collect()
    b = TS.lang_id(docs.limit(30)).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))
    assert all(r.lang_guess in TS.LANG_STOPWORDS for r in a)


def test_boilerplate_strip_hand_vectors(spark):
    """Nav (link-dense), ad (one link), tiny, and footer blocks drop; the
    long low-link paragraph and a long div survive in order."""
    body = "word " * 12  # 60 chars incl trailing space, trimmed to 59
    html = (
        '<div><a href="/">Home</a> <a href="/a">About</a></div>'
        f"<p>{body}</p>"
        '<div><a href="/b">BUY</a></div>'
        "<p>tiny</p>"
        f"<div>closing thoughts: {body}</div>"
        "<footer>end</footer>"
    )
    df = spark.createDataFrame([(1, html)], "doc_id long, html string")
    r = TS.boilerplate_strip(df).collect()[0]
    assert r.blocks_total == 6  # 5 closes + trailing '<footer>end</footer>'
    assert r.blocks_kept == 2
    assert r.main_text == f"{body.strip()}\nclosing thoughts: {body.strip()}"
    # a block whose anchor text is exactly 1/3 of its chars is dropped
    # (strict inequality), just over 1/3 non-link survives nothing extra
    third = '<p><a href="/x">0123456789</a>01234567890123456789</p>'
    df2 = spark.createDataFrame([(2, third)], "doc_id long, html string")
    assert TS.boilerplate_strip(df2).collect()[0].blocks_kept == 0


# --------------------------------------------------------------- multimodal


def test_multimodal_plumbing(docs):
    media = MM.pack_media(docs.limit(30))
    feats = MM.extract_features(media).collect()
    assert len(feats) == 30
    by_id = {r.media_id: r for r in feats}
    for r in media.collect():
        f = by_id[r.media_id]
        assert len(f.features) == MM.FEATURE_DIM
        assert f.n_bytes == len(r.media)
        # deterministic fake features match the driver-side stub
        want = MM._fake_features(bytes(r.media))
        assert [round(x, 5) for x in f.features] == [round(x, 5) for x in want]
    meta = {r.media_id: r for r in MM.media_metadata(media).collect()}
    for r in media.collect():
        m = meta[r.media_id]
        assert m.checksum == hashlib.md5(bytes(r.media)).hexdigest()
        assert m.first_byte == bytes(r.media)[0]


def test_decode_media_is_honestly_stubbed():
    # JPEG genuinely needs a codec library absent from this container
    with pytest.raises(NotImplementedError):
        MM.decode_media(b"\xff\xd8\xff\xe0 fake jpeg", "image")
    # ...and so do PNG layouts beyond 8-bit gray/truecolor: a 16-bit-depth
    # IHDR must refuse rather than mis-decode
    ihdr = struct.pack(">IIBBBBB", 2, 2, 16, 2, 0, 0, 0)
    blob = MM._PNG_SIG + MM._png_chunk(b"IHDR", ihdr)
    with pytest.raises(NotImplementedError):
        MM.decode_media(blob, "image")


def test_png_roundtrip_all_filters():
    """encode_png → decode_media is exact for every scanline filter type,
    on a raster where the filters actually differ (non-constant bytes)."""
    w, h = 7, 5
    raster = bytes((i * 37 + (i * i) % 11) % 256 for i in range(w * h * 3))
    want_mean = sum(raster) // len(raster)
    for ft in range(5):
        blob = MM.encode_png(w, h, raster=raster, filter_type=ft)
        out = MM.decode_media(blob, "image")
        assert out == {
            "kind": "image", "width": w, "height": h, "mean_val": want_mean,
        }, f"filter {ft}"


def test_png_grayscale_decode():
    """The decoder's ctype=0 (8-bit gray) path: hand-built single-IDAT
    PNG with an up-filtered second row."""
    import zlib

    w, h = 4, 2
    row0, row1 = bytes([10, 20, 30, 40]), bytes([15, 25, 35, 45])
    scan = bytes([0]) + row0 + bytes([2]) + bytes(
        (row1[i] - row0[i]) & 255 for i in range(w))
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 0, 0, 0, 0)
    blob = (MM._PNG_SIG + MM._png_chunk(b"IHDR", ihdr)
            + MM._png_chunk(b"IDAT", zlib.compress(scan))
            + MM._png_chunk(b"IEND", b""))
    out = MM.decode_media(blob, "image")
    assert out == {"kind": "image", "width": w, "height": h,
                   "mean_val": sum(row0 + row1) // (w * h)}


def test_png_rejects_corruption():
    """Bit-flip inside a chunk body → CRC mismatch; truncated IDAT raster
    → ValueError. Both must be ValueError (→ decoded=0 in decode_stats),
    never a silent wrong answer."""
    blob = bytearray(MM.encode_png(6, 4, value=123, filter_type=1))
    blob[40] ^= 0xFF  # somewhere inside IHDR/IDAT body
    with pytest.raises(ValueError):
        MM.decode_media(bytes(blob), "image")
    import zlib

    ihdr = struct.pack(">IIBBBBB", 4, 4, 8, 2, 0, 0, 0)
    short = (MM._PNG_SIG + MM._png_chunk(b"IHDR", ihdr)
             + MM._png_chunk(b"IDAT", zlib.compress(b"\x00" * 10))
             + MM._png_chunk(b"IEND", b""))
    with pytest.raises(ValueError):
        MM.decode_media(short, "image")


def test_frame_sampling_fanout(docs):
    media = MM.pack_media(docs.limit(60))
    frames = MM.sample_frames(media, every_ms=10000).collect()
    vids = {r.media_id: r.duration_ms for r in media.where("kind = 'video'").collect()}
    by_id = {}
    for f in frames:
        by_id.setdefault(f.media_id, []).append(f.frame_idx)
    assert set(by_id) == set(vids)
    for mid, idxs in by_id.items():
        assert sorted(idxs) == list(range(max(1, vids[mid] // 10000)))


def test_resize_images_raises_via_stub(spark, docs):
    media = MM.pack_media(docs.limit(9))
    with pytest.raises(Exception, match="NotImplementedError|decode"):
        MM.resize_images(media).collect()


def test_decontaminate_flags_ngram_leakage(spark):
    """A train doc sharing any word n-gram with an eval doc (id % mod == 0)
    is flagged; disjoint docs are not; eval docs don't appear in output."""
    ev = " ".join(f"e{i}" for i in range(8))  # eval doc, ids 0 mod 5
    rows = [
        (0, ev),                              # eval
        (1, "pre " + ev + " post"),           # leaks the full 8-gram
        (2, " ".join(f"x{i}" for i in range(12))),  # clean
        (3, ev.replace("e3", "z3")),          # 8-gram broken → clean
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r.contaminated for r in
           DD.decontaminate(df, n=8, eval_mod=5).collect()}
    assert out == {1: 1, 2: 0, 3: 0}


def test_repetition_stats_hand_vectors(spark):
    """top2_covered_e4 = chars of the most-covering word 2-gram / doc chars;
    dup3_frac_e4 sums duplicated 3-gram coverage (overlap-naive, may
    exceed 1.0e4 by design)."""
    rows = [
        (0, "a b a b c"),    # "a b"x2 covers 6 of 9 chars; no dup 3-gram
        (1, "x y x y x y"),  # "x y"x3 covers 9 of 11; both 3-grams dup'd
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: (r.top2_covered_e4, r.dup3_frac_e4)
           for r in TS.repetition_stats(df).collect()}
    assert out[0] == (6 * 10000 // 9, 0)
    assert out[1] == (9 * 10000 // 11, (10 + 10) * 10000 // 11)


def test_real_codecs_roundtrip():
    """encode_ppm/encode_wav_pcm16 parse back exactly via decode_media."""
    img = MM.decode_media(MM.encode_ppm(8, 6, 200), "image")
    assert img == {"kind": "image", "width": 8, "height": 6, "mean_val": 200}
    wav = MM.decode_media(MM.encode_wav_pcm16(1600, 8000, -321), "audio")
    assert (wav["duration_ms"], wav["rate"], wav["mean_val"]) == (200, 8000, -321)
    resized = MM.resize_ppm(MM.encode_ppm(10, 10, 77), 4, 3)
    assert MM.decode_media(resized, "image") == {
        "kind": "image", "width": 4, "height": 3, "mean_val": 77}


def test_decode_stats_matches_id_arithmetic(docs):
    """Spark decodes the REAL payload bytes; expectations derive
    independently from the closed-form id parameters."""
    media = MM.pack_media_encoded(docs.limit(30))
    out = {r.media_id: r for r in MM.decode_stats(media).collect()}
    assert len(out) == 30
    for mid, r in out.items():
        k = mid % 3
        if k == 0:
            assert (r.decoded, r.width, r.height, r.mean_val) == (
                1, 8 + mid % 9, 6 + mid % 5, mid % 251)
        elif k == 1:
            assert (r.decoded, r.duration_ms, r.mean_val) == (
                1, 10 * (1 + mid % 20), mid % 1000 - 500)
        else:
            assert (r.decoded, r.width, r.duration_ms) == (0, None, None)
    # real resize over the encoded images: output parses at the new dims
    small = MM.resize_images(media, width=4, height=3).collect()
    assert small and all(
        MM.decode_media(bytes(r.media), "image")["width"] == 4 for r in small)


def test_decode_stats_survives_corrupt_payloads(spark):
    """One corrupt/truncated blob must not fail the Spark task: every
    unparseable payload (bad header, truncated raster, short fmt chunk,
    unknown magic) yields decoded=0, and the good row still decodes."""
    rows = [
        (0, "image", bytearray(MM.encode_ppm(4, 3, 50))),        # good
        (1, "image", bytearray(b"P6\n not a header")),           # ValueError
        (2, "image", bytearray(MM.encode_ppm(8, 6, 9)[:-10])),   # truncated
        (3, "audio", bytearray(b"RIFF\x04\x00\x00\x00WAVEfmt ")),  # short fmt
        (4, "audio", bytearray(b"\x00\x01\x02")),                # garbage
        (5, "image", bytearray(b"\x89PNG....")),                 # bad magic
        (6, "image", bytearray(MM._PNG_SIG + b"\x00garbage")),   # corrupt PNG
        (7, "image", bytearray(MM.encode_png(4, 3, value=9))),   # good PNG
    ]
    df = spark.createDataFrame(rows, "media_id long, kind string, media binary")
    out = {r.media_id: r.decoded for r in MM.decode_stats(df).collect()}
    assert out == {0: 1, 1: 0, 2: 0, 3: 0, 4: 0, 5: 0, 6: 0, 7: 1}


def test_pii_redact_hand_vectors(spark):
    rows = [
        (1, "mail me at a.b+c@site.example or 10.1.2.3 and 415-555-0100 now"),
        (2, "no pii here at all"),
        (3, "two mails x@y.io z@w.ai one ip 255.255.255.255"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {r["doc_id"]: r.asDict() for r in TS.pii_redact(df).collect()}
    assert (got[1]["n_email"], got[1]["n_ip"], got[1]["n_phone"]) == (1, 1, 1)
    assert (got[2]["n_email"], got[2]["n_ip"], got[2]["n_phone"]) == (0, 0, 0)
    assert (got[3]["n_email"], got[3]["n_ip"], got[3]["n_phone"]) == (2, 1, 0)
    red1 = "mail me at <EMAIL> or <IP> and <PHONE> now"
    assert got[1]["redacted_md5"] == hashlib.md5(red1.encode()).hexdigest()
    red2 = "no pii here at all"
    assert got[2]["redacted_md5"] == hashlib.md5(red2.encode()).hexdigest()


def test_pii_redact_matches_duckdb(spark):
    import duckdb
    import pandas as pd

    duck = duckdb.connect()
    pdf = pd.DataFrame(
        {
            "doc_id": [1, 2, 3],
            "text": [
                "ping root@box.example from 192.168.0.1",
                "call 650-555-0199 or 650-555-0200",
                "plain words only",
            ],
        }
    )
    duck.register("pii_docs", pdf)
    want = duck.sql(
        TS.pii_redact_sql("SELECT doc_id, text FROM pii_docs")
    ).df().sort_values("doc_id")
    got = (
        TS.pii_redact(spark.createDataFrame(pdf))
        .orderBy("doc_id")
        .toPandas()
    )
    for col in ["n_email", "n_ip", "n_phone", "redacted_md5"]:
        assert list(got[col]) == list(want[col]), col


def test_dup_clusters_transitive_closure(spark):
    """A~B and B~C near-dups must land in ONE cluster with rep=min id,
    even when A and C never share a band; isolated docs produce no row."""
    # three near-identical docs forming a chain + one unrelated doc
    base = " ".join(f"w{i}" for i in range(40))
    rows = [
        (1, base + " tail one"),
        (2, base + " tail two"),
        (3, base + " tail tri"),
        (9, " ".join(f"z{i}" for i in range(40))),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in DD.dup_clusters(df, min_jaccard_pct=50).collect()}
    assert set(out) == {1, 2, 3}
    assert all(out[d].cluster_rep == 1 for d in (1, 2, 3))
    assert all(out[d].cluster_size == 3 for d in (1, 2, 3))


def test_dup_clusters_matches_recursive_oracle(docs):
    """Spark min-label propagation == DuckDB recursive-CTE closure on the
    real sf corpus."""
    import duckdb

    spark_rows = sorted(
        tuple(r) for r in DD.dup_clusters(docs).collect()
    )
    pdf = docs.select("doc_id", "text").toPandas()
    con = duckdb.connect()
    con.register("documents", pdf)
    oracle = sorted(
        tuple(r)
        for r in con.sql(
            DD.dup_clusters_sql("SELECT doc_id, text FROM documents")
        ).fetchall()
    )
    assert spark_rows == oracle


@pytest.mark.filterwarnings("error::FutureWarning")
def test_domain_mixture_deterministic_and_monotone(docs):
    """Same input → same kept set; raising a rate only ADDS docs; rate
    1000 keeps every doc of the source; rate 0 keeps none."""
    from bingcrawler_spark.dataops import sampling as DS

    lo = DS.domain_mixture(docs, {"src0": 1000, "src1": 200}, default_rate=0)
    hi = DS.domain_mixture(docs, {"src0": 1000, "src1": 600}, default_rate=0)
    lo_ids = {r.doc_id for r in lo.collect()}
    lo_ids2 = {r.doc_id for r in lo.collect()}
    hi_ids = {r.doc_id for r in hi.collect()}
    assert lo_ids == lo_ids2  # deterministic across actions
    assert lo_ids <= hi_ids  # monotone under rate raise
    n_src0 = docs.where(F.col("source") == "src0").count()
    kept_src0 = lo.where(F.col("source") == "src0").count()
    assert kept_src0 == n_src0  # rate 1000 = keep all
    assert lo.where(~F.col("source").isin("src0", "src1")).count() == 0


def test_stratified_topk_exact_counts_and_prefix(docs):
    """Exactly k rows per source; the k=3 pick is a PREFIX of the k=7 pick
    (deterministic nested samples); WindowGroupLimit appears in the plan."""
    from bingcrawler_spark.dataops import sampling as DS

    k7 = DS.stratified_topk(docs, 7)
    per_src = {r.source: r.n for r in
               k7.groupBy("source").agg(F.count("*").alias("n")).collect()}
    n_src = docs.select("source").distinct().count()
    assert len(per_src) == n_src and all(v == 7 for v in per_src.values())
    ids3 = {r.doc_id for r in DS.stratified_topk(docs, 3).collect()}
    ids7 = {r.doc_id for r in k7.collect()}
    assert ids3 <= ids7
    assert "WindowGroupLimit" in k7._jdf.queryExecution().executedPlan().toString()


# ------------------------------------------------------------- containment


def test_containment_catches_prefix_twin_jaccard_misses(spark):
    import random

    rng = random.Random(7)
    words = [f"w{i}" for i in range(60)]
    full = " ".join(rng.choice(words) for _ in range(200))
    prefix = " ".join(full.split(" ")[:90])  # 45% of tokens: Jaccard < 0.5
    other = " ".join(rng.choice(words) for _ in range(200))
    corpus = spark.createDataFrame(
        [(1, full), (2, prefix), (3, other)], "doc_id long, text string"
    )
    cont = {
        (r["doc_a"], r["doc_b"]): (r["n_common"], r["n_small"])
        for r in DD.containment_pairs(corpus, min_containment_pct=95).collect()
    }
    assert (1, 2) in cont
    n_common, n_small = cont[(1, 2)]
    assert n_common * 100 >= n_small * 95
    # the symmetric-Jaccard path must NOT pair them at 50%
    jac = {
        (r["doc_a"], r["doc_b"])
        for r in DD.minhash_lsh_pairs(corpus, min_jaccard_pct=50).collect()
    }
    assert (1, 2) not in jac


def test_containment_duckdb_twin(spark):
    import duckdb

    docs = [
        (1, " ".join(f"t{i}" for i in range(40))),
        (2, " ".join(f"t{i}" for i in range(25))),   # strict prefix
        (3, " ".join(f"u{i}" for i in range(40))),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = sorted(tuple(r) for r in DD.containment_pairs(df).collect())
    con = duckdb.connect()
    con.register("docs", df.toPandas())
    want = sorted(
        tuple(r)
        for r in con.sql(
            DD.containment_pairs_sql("SELECT doc_id, text FROM docs")
        ).fetchall()
    )
    assert got == want and len(got) >= 1


# ------------------------------------------------------------ NFC normalize


def test_nfc_normalize_flags_and_canonical_hash(spark):
    import duckdb
    import hashlib
    import unicodedata

    decomposed = "café au lait"      # e + combining acute
    precomposed = unicodedata.normalize("NFC", decomposed)
    assert decomposed != precomposed
    docs = spark.createDataFrame(
        [(1, decomposed), (2, precomposed), (3, "plain ascii")],
        "doc_id long, text string",
    )
    from bingcrawler_spark.dataops import textstats as TS

    got = {r["doc_id"]: (r["changed"], r["nfc_md5"])
           for r in TS.nfc_normalize(docs).collect()}
    canon = hashlib.md5(precomposed.encode()).hexdigest()
    assert got[1] == (1, canon)
    assert got[2] == (0, canon)          # same canonical hash either way
    assert got[3][0] == 0
    # DuckDB twin agrees byte for byte
    con = duckdb.connect()
    con.register("docs", docs.toPandas())
    want = {
        r[0]: (r[1], r[2])
        for r in con.sql(
            TS.nfc_normalize_sql("SELECT doc_id, text FROM docs")
        ).fetchall()
    }
    assert got == want


# -------------------------------------------------------- compression ratio


def test_compression_ratio_matches_zlib_and_orders_quality(spark):
    import zlib

    from bingcrawler_spark.dataops import textstats as TS

    repetitive = "spam ham " * 200
    prose = ("the quick brown fox jumps over the lazy dog and then "
             "discusses distributed systems at length ") * 10
    import random
    rng = random.Random(3)
    junk = " ".join("".join(rng.choice("abcdefghijklmnop") for _ in range(8))
                    for _ in range(150))
    docs = spark.createDataFrame(
        [(1, repetitive), (2, prose), (3, junk)], "doc_id long, text string"
    )
    got = {r["doc_id"]: r.asDict() for r in TS.compression_ratio(docs).collect()}
    for i, t in [(1, repetitive), (2, prose), (3, junk)]:
        assert got[i]["raw_len"] == len(t)
        assert got[i]["zlib_len"] == len(zlib.compress(t.encode(), 6))
        assert got[i]["ratio_e4"] == got[i]["zlib_len"] * 10000 // len(t)
    # template spam compresses hardest, random junk least
    assert got[1]["ratio_e4"] < got[2]["ratio_e4"] < got[3]["ratio_e4"]


def test_compression_ratio_null_text_matches_oracle(spark, tmp_path, monkeypatch):
    """A null text row reads as empty on both sides: the Spark query and
    the driver's precomputed VALUES oracle both emit raw_len = zlib_len =
    ratio_e4 = 0."""
    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    from bingcrawler_spark import driver_queries as DQ

    pq.write_table(
        pa.table({"doc_id": pa.array([1, 2], pa.int64()),
                  "text": pa.array(["spam ham " * 20, None], pa.string())}),
        tmp_path / "documents.parquet",
    )
    monkeypatch.setenv("SPARK_GRAFT_ORACLE_SF", str(tmp_path))
    want = sorted(duckdb.sql(DQ._ts_compression_oracle()).fetchall())
    got = sorted(tuple(r) for r in DQ.ts_compression(spark, str(tmp_path)).collect())
    assert got == want
    assert got[1] == (2, 0, 0, 0)


# --------------------------------------------------------- perceptual hash


def test_dhash_scale_and_format_invariant():
    from bingcrawler_spark.dataops import multimodal as MM

    r64 = MM.block_raster(42, 64, 64)
    r32 = MM.block_raster(42, 32, 32)
    h_png64 = MM.dhash56(MM.encode_png(64, 64, raster=r64))
    h_ppm32 = MM.dhash56(MM.encode_ppm_raster(32, 32, r32))
    h_png32_paeth = MM.dhash56(MM.encode_png(32, 32, raster=r32, filter_type=4))
    assert h_png64 == h_ppm32 == h_png32_paeth
    assert h_png64 != MM.dhash56(MM.encode_png(64, 64, raster=MM.block_raster(43, 64, 64)))
    assert 0 <= h_png64 < 1 << 56


def test_dhash_matches_closed_form_sql():
    import duckdb

    from bingcrawler_spark.dataops import multimodal as MM

    con = duckdb.connect()
    for pid in (0, 1, 7, 991):
        want = con.sql(f"SELECT {MM.dhash_formula_sql(str(pid))}").fetchone()[0]
        got = MM.dhash56(MM.encode_ppm_raster(64, 64, MM.block_raster(pid, 64, 64)))
        assert got == want, pid


def test_image_neardup_pairs_links_twins_only(spark):
    from bingcrawler_spark.dataops import multimodal as MM

    rows = []
    for pid in range(12):
        rows.append((pid, MM.encode_png(64, 64, raster=MM.block_raster(pid, 64, 64))))
        if pid % 3 == 0:
            rows.append(
                (pid + 100, MM.encode_ppm_raster(32, 32, MM.block_raster(pid, 32, 32)))
            )
    media = spark.createDataFrame(rows, "media_id long, media binary")
    pairs = {
        (r["doc_a"], r["doc_b"]): r["hamming"]
        for r in MM.image_neardup_pairs(MM.dhash_media(media)).collect()
    }
    assert pairs == {(0, 100): 0, (3, 103): 0, (6, 106): 0, (9, 109): 0}


# --------------------------------------------- content-defined chunking


def _cdc_py(text: str) -> list[str]:
    """Pure-Python oracle of the CDC chunker spec."""
    chunks, cur, started = [], "", False
    for t in text.split(" "):
        h = int(hashlib.md5(t.encode()).hexdigest()[:2], 16)
        if h % DD.CDC_MOD == 0 and started:
            chunks.append(cur)
            cur = t
        elif not started:
            cur = t
        else:
            cur = cur + " " + t
        started = True
    if started:
        chunks.append(cur)
    return chunks


def test_cdc_chunker_matches_python_spec(spark):
    texts = [
        "the quick brown fox jumps over the lazy dog and runs far away",
        "one two three four five six seven eight nine ten eleven twelve",
        "",
        "a  b",  # double space -> empty token survives the roundtrip
        "solo",
    ]
    rows = [(i, t) for i, t in enumerate(texts)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r["chunk_md5"], r["n_toks"], r["n_docs"], r["n_occ"])
        for r in DD.cdc_chunks(df).collect()
    }
    # python-side expectation: chunk multiset over all docs, keep >= 2
    from collections import Counter, defaultdict

    occ = Counter()
    docs_per = defaultdict(set)
    for i, t in rows:
        for c in _cdc_py(t):
            occ[hashlib.md5(c.encode()).hexdigest()] += 1
            docs_per[hashlib.md5(c.encode()).hexdigest()].add(i)
    want = set()
    tok_len = {}
    for i, t in rows:
        for c in _cdc_py(t):
            tok_len[hashlib.md5(c.encode()).hexdigest()] = len(c.split(" "))
    for h, n in occ.items():
        if n >= 2:
            want.add((h, tok_len[h], len(docs_per[h]), n))
    assert got == want


def test_cdc_survives_prefix_shift(spark):
    # The CDC property fixed windows lack: prepend one word and chunks
    # after the first boundary still align -> shared chunks reported.
    base = (
        "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda "
        "mu nu xi omicron pi rho sigma tau upsilon phi chi psi omega "
        "red orange yellow green blue indigo violet cyan magenta teal"
    )
    df = spark.createDataFrame(
        [(0, base), (1, "shifted " + base)], "doc_id long, text string"
    )
    shared = [
        r
        for r in DD.cdc_chunks(df).collect()
        if r["n_docs"] == 2 and r["n_occ"] == 2
    ]
    # python spec agrees there is at least one post-boundary shared chunk
    a, b = set(_cdc_py(base)), set(_cdc_py("shifted " + base))
    assert len(shared) == len(a & b) > 0


def test_cdc_matches_duckdb_twin(spark, sf_dir):
    import duckdb

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    got = sorted(tuple(r) for r in DD.cdc_chunks(docs).collect())
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{sf_dir}/documents.parquet'"
    )
    want = sorted(
        tuple(r)
        for r in con.execute(
            DD.cdc_chunks_sql("SELECT doc_id, text FROM documents")
        ).fetchall()
    )
    assert got == want


# ------------------------------------------------------ vocabulary growth


def test_vocab_growth_hand_counts(spark):
    df = spark.createDataFrame(
        [(0, "a a b"), (1, "a c")], "doc_id long, text string"
    )
    got = {r["metric"]: r["value"] for r in TS.vocab_growth(df).collect()}
    assert got["total_tokens"] == 5
    assert got["vocab"] == 3
    assert got["hapax"] == 2  # b, c
    assert got["dis"] == 0
    assert got["ttr_ppm"] == 3 * 1_000_000 // 5
    assert got["rank_1"] == 3  # 'a'
    assert got["rank_2"] == 1  # 'b' (count 1, tie broken by token asc)
    assert "rank_4" not in got  # vocab is only 3


def test_vocab_growth_matches_duckdb_twin(spark, sf_dir):
    import duckdb

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    got = sorted(tuple(r) for r in TS.vocab_growth(docs).collect())
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{sf_dir}/documents.parquet'"
    )
    want = sorted(
        tuple(r)
        for r in con.execute(
            TS.vocab_growth_sql("SELECT doc_id, text, lang FROM documents")
        ).fetchall()
    )
    assert got == want


# ------------------------------------------------------- sequence packing


def test_seq_packing_bins_and_straddle(spark):
    from bingcrawler_spark.dataops import sampling as DS

    # 4-token bins; doc lengths 3, 3, 2: cum-before = 0, 3, 6
    # -> bins 0, 0, 1; bin 0 holds 6 tokens (straddle), fill 1500 pml
    df = spark.createDataFrame(
        [(0, "a b c"), (1, "d e f"), (2, "g h")],
        "doc_id long, text string",
    )
    got = {r["bin"]: (r["n_docs"], r["n_tokens"], r["fill_pml"])
           for r in DS.seq_packing(df, bin_tokens=4).collect()}
    assert got == {0: (2, 6, 1500), 1: (1, 2, 500)}


# ------------------------------------------------------ truncation families


def test_prefix_families_catches_truncation(spark):
    base = " ".join(f"w{i}" for i in range(50))
    rows = [
        (0, base),                                  # full
        (1, " ".join(base.split()[:40])),           # truncated twin
        (2, "short doc below the k floor"),         # ineligible (<32 toks)
        (3, " ".join(f"x{i}" for i in range(40))),  # lone long doc
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    fams = DD.prefix_families(df, k=32).collect()
    assert len(fams) == 1
    f = fams[0]
    assert f["n_docs"] == 2 and f["min_toks"] == 40 and f["max_toks"] == 50
    assert f["truncated"] == 1


# ------------------------------------------------------- script detection


def test_script_detect_labels_and_tiebreak(spark):
    rows = [
        (0, "hello plain english"),
        (1, "привет мир это тест приветствия"),
        (2, "你好世界这是一个测试"),
        (3, "مرحبا بالعالم هذا اختبار"),
        (4, "ab яб"),  # 2 latin vs 2 cyrillic -> first-listed (latin) wins
        (5, "12345 !!!"),  # no script chars at all -> all zero -> latin
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r for r in TS.script_detect(df).collect()}
    assert got[0]["script"] == "latin" and got[0]["n_latin"] == 17
    assert got[1]["script"] == "cyrillic" and got[1]["n_latin"] == 0
    assert got[2]["script"] == "cjk" and got[2]["n_cjk"] == 10
    assert got[3]["script"] == "arabic"
    assert got[4]["script"] == "latin"
    assert got[5]["script"] == "latin" and got[5]["n_latin"] == 0


# ------------------------------------------------------ incremental dedup


def test_incremental_dedup_flags(spark):
    corpus = spark.createDataFrame(
        [(i, f"shared prefix words alpha beta gamma delta epsilon zeta eta "
             f"theta unique{i} iota kappa")
         for i in range(20)],
        "doc_id long, text string",
    )
    rows = corpus.collect()
    batch = spark.createDataFrame(
        [
            (100, rows[0]["text"]),            # exact clone
            (101, rows[1]["text"] + " zzz"),   # near-dup (band hit, not exact)
            (102, "totally different content with no overlap at all " * 3),
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r for r in DD.incremental_dedup(corpus, batch).collect()}
    assert got[100]["exact_dup"] == 1 and got[100]["keep"] == 0
    assert got[100]["band_hit"] == 1  # identical sig shares every band
    assert got[101]["exact_dup"] == 0 and got[101]["band_hit"] == 1
    assert got[101]["keep"] == 0
    assert got[102]["exact_dup"] == 0 and got[102]["keep"] == (
        1 - got[102]["band_hit"]
    )


# -------------------------------------------------------- upsample planning


def test_upsample_plan_hand_math(spark):
    from bingcrawler_spark.dataops import sampling as DS

    # src a: 60 tokens, src b: 30, src c: 10 -> total 100
    rows = (
        [(i, " ".join(["w"] * 6), "a") for i in range(10)]
        + [(i + 10, " ".join(["w"] * 6), "b") for i in range(5)]
        + [(20, " ".join(["w"] * 10), "c")]
    )
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    got = {r["source"]: r for r in DS.upsample_plan(
        df, {"a": 500000, "b": 400000, "c": 100000}).collect()}
    assert got["a"]["natural_ppm"] == 600000
    # factors: a = .5*100/60 e6 = 833333, b = .4*100/30 = 1333333,
    # c = .1*100/10 = 1000000; min = a -> epochs a=1000, b=1600, c=1200
    assert got["a"]["epochs_e3"] == 1000
    assert got["b"]["epochs_e3"] == 1333333 * 1000 // 833333
    assert got["c"]["epochs_e3"] == 1000000 * 1000 // 833333


# ------------------------------------------------------------ frame sample


def test_frame_sample_offsets(spark):
    df = spark.createDataFrame(
        [(7, 50), (8, 24), (9, 1)], "media_id long, n_frames long"
    )
    got = {}
    for r in MM.frame_sample(df, every=24).collect():
        got.setdefault(r["media_id"], []).append(
            (r["frame_idx"], r["byte_offset"], r["ts_ms"])
        )
    assert got[7] == [
        (0, 64, 0),
        (24, 64 + 24 * 1024, 1000),
        (48, 64 + 48 * 1024, 2000),
    ]
    assert got[8] == [(0, 64, 0)]
    assert got[9] == [(0, 64, 0)]


def test_audio_features_pinned_and_twin(spark):
    import duckdb
    from bingcrawler_spark.dataops import multimodal as MM

    docs = spark.createDataFrame([(d,) for d in range(8)], "doc_id long")
    out = MM.audio_features(MM.pack_audio_frames(docs)).collect()
    # doc d has exactly 1 + d%4 frames of 160 samples
    frames = {}
    for r in out:
        frames.setdefault(r["doc_id"], set()).add(r["frame"])
    assert {d: len(f) for d, f in frames.items()} == {
        d: 1 + d % 4 for d in range(8)}
    # hand-check doc 0 frame 0: s_i = (i*37) % 1024 - 512
    import math
    s = [(i * 37) % 1024 - 512 for i in range(160)]
    r0 = next(r for r in out if r["doc_id"] == 0 and r["frame"] == 0)
    assert r0["peak"] == max(abs(x) for x in s)
    assert r0["zcr"] == sum(1 for a, b in zip(s, s[1:]) if a * b < 0)
    rms = math.sqrt(sum(x * x for x in s) / len(s))
    assert r0["rms_e4"] == math.floor(rms * 10_000 + 0.5)
    con = duckdb.connect()
    con.register("docs", docs.toPandas())
    want = sorted(
        tuple(r)
        for r in con.sql(
            MM.audio_features_sql("SELECT doc_id FROM docs")
        ).fetchall()
    )
    assert sorted(tuple(r) for r in out) == want


def test_char_entropy_pinned_and_twin(spark):
    import duckdb
    import math
    from bingcrawler_spark.dataops import textstats as TS

    docs = spark.createDataFrame(
        [
            (1, "aaaa"),            # one symbol -> H = 0
            (2, "abab"),            # two equiprobable -> H = ln 2
            (3, "abcd"),            # four equiprobable -> H = ln 4
            (4, "x"),               # single char -> 0 by contract
            (5, "aab"),             # H = ln 3 - (2 ln 2)/3
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r for r in TS.char_entropy(docs).collect()}
    assert got[1]["entropy_e4"] == 0
    assert got[2]["entropy_e4"] == math.floor(math.log(2) * 10_000 + 0.5)
    assert got[3]["entropy_e4"] == math.floor(math.log(4) * 10_000 + 0.5)
    assert got[4]["entropy_e4"] == 0 and got[4]["n_chars"] == 1
    h5 = math.log(3) - (2 * math.log(2)) / 3
    assert got[5]["entropy_e4"] == math.floor(h5 * 10_000 + 0.5)
    assert got[3]["distinct_chars"] == 4
    con = duckdb.connect()
    con.register("docs", docs.toPandas())
    want = sorted(
        tuple(r)
        for r in con.sql(
            TS.char_entropy_sql("SELECT doc_id, text FROM docs")
        ).fetchall()
    )
    assert sorted(tuple(r) for r in TS.char_entropy(docs).collect()) == want


def test_split_leakage_counts(spark):
    import duckdb
    from bingcrawler_spark.dataops import sampling as DS

    # 3 near-identical doc groups; shared long texts so minhash pairs fire
    base = ("the quick brown fox jumps over the lazy dog again and again "
            "while the crawler collects pages for the corpus ")
    rows = []
    for g in range(3):
        for v in range(3):
            rows.append((g * 10 + v, base + f"group {g} " + ("extra " if v == 2 else "")))
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = DS.split_leakage(docs).collect()
    # every pair accounted for; leak flag marks cross-split rows
    assert sum(r["n_pairs"] for r in out) > 0
    for r in out:
        assert r["is_leak"] == (1 if r["split_a"] != r["split_b"] else 0)
        assert r["split_a"] <= r["split_b"]
    con = duckdb.connect()
    con.register("docs", docs.toPandas())
    want = sorted(
        tuple(r)
        for r in con.sql(
            DS.split_leakage_sql("SELECT doc_id, text FROM docs")
        ).fetchall()
    )
    assert sorted(tuple(r) for r in out) == want


def test_frame_sample_zero_frames_yields_no_rows(spark):
    """n_frames = 0 (empty/corrupt video) must produce zero frame rows,
    matching the DuckDB twin's range(0, 0, k) — not a runtime error from
    sequence(0, -1, k)."""
    media = spark.createDataFrame(
        [(1, 48), (2, 0), (3, 1)], "media_id long, n_frames long"
    )
    got = sorted(
        (r["media_id"], r["frame_idx"])
        for r in MM.frame_sample(media, every=24).collect()
    )
    assert got == [(1, 0), (1, 24), (3, 0)]
