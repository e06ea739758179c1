"""Tests for training-data operators (dedup / similarity / text / media)."""

from pyspark.sql import functions as F

from post_processor_spark.analytics import dedup, multimodal, similarity, text


def _docs(spark):
    rows = [
        ("d1", "the quick brown fox jumps over the lazy dog"),
        ("d2", "the quick brown fox jumps over the lazy dog"),          # exact dup of d1
        ("d3", "The  Quick Brown FOX jumps over the lazy dog"),         # normalized dup
        ("d4", "the quick brown fox leaps over the lazy dog"),          # near dup (1 word)
        ("d5", "completely different content about spark engines here"),
        ("d6", ""),
    ]
    return spark.createDataFrame(rows, "doc_id string, text string")


def test_exact_dedup(spark):
    out = dedup.exact_dedup(_docs(spark))
    kept = sorted(r["doc_id"] for r in out.collect())
    assert kept == ["d1", "d4", "d5", "d6"]


def test_minhash_lsh_finds_near_dups(spark):
    docs = _docs(spark).filter("text != ''")
    sig = dedup.minhash_signatures(docs, num_hashes=32, shingle_n=2)
    pairs = dedup.minhash_lsh_candidates(sig, bands=16, rows_per_band=2)
    got = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    # exact dups always collide on every band
    assert ("d1", "d2") in got and ("d1", "d3") in got
    # near-dup d4 should share at least one band with d1 at this setting
    assert ("d1", "d4") in got
    # unrelated doc shouldn't pair with anything
    assert not any("d5" in p for p in got)


def test_simhash_matches_python_oracle(spark):
    """Sequential Python oracle for the simhash AGGREGATION: token hashes
    come from Spark's xxhash64 (the pinned hash primitive), the bit-vote
    sum + sign → bit assembly is re-implemented row-at-a-time in Python
    and must match dedup.simhash exactly (VERDICT r2 task 6)."""
    from collections import defaultdict

    docs = _docs(spark).filter("text != ''")
    toks = docs.select(
        "doc_id",
        F.explode(F.split(dedup.normalize_text(F.col("text")), " ")).alias("tok"),
    ).withColumn("h", F.xxhash64("tok"))
    votes = defaultdict(lambda: [0] * 64)
    for r in toks.collect():
        h = r["h"] & 0xFFFFFFFFFFFFFFFF  # two's-complement bit view
        for i in range(64):
            votes[r["doc_id"]][i] += 1 if (h >> i) & 1 else -1
    expect = {}
    for d, v in votes.items():
        sig = sum(1 << i for i in range(64) if v[i] > 0)
        expect[d] = sig - (1 << 64) if sig >= (1 << 63) else sig  # signed long
    got = {r["id"]: r["simhash"] for r in dedup.simhash(docs).collect()}
    assert got == expect


def test_minhash_candidates_recall_property(spark):
    """Recall/superset property (VERDICT r2 task 6): every pair whose TRUE
    shingle-set Jaccard is ≥ 0.85 must appear in the LSH candidates at
    bands=16 × rows=2 (band threshold ≈ 0.25; a J≥0.85 pair misses all
    bands with probability (1-J²)^16 ≈ 1e-10 — and the hash family is
    deterministic, so this is a fixed property of the fixture)."""
    import random

    rng = random.Random(7)
    words = [f"w{i}" for i in range(50)]
    docs_rows = []
    for i in range(12):
        b = [rng.choice(words) for _ in range(30)]
        docs_rows.append((f"b{i}", " ".join(b)))
        near = list(b)
        near[rng.randrange(len(near))] = rng.choice(words)
        docs_rows.append((f"n{i}", " ".join(near)))
    docs = spark.createDataFrame(docs_rows, "doc_id string, text string")
    sig = dedup.minhash_signatures(docs, num_hashes=32, shingle_n=2)
    got = {
        (r["id_a"], r["id_b"])
        for r in dedup.minhash_lsh_candidates(sig, bands=16, rows_per_band=2).collect()
    }

    def sh(text):
        t = text.split()
        return {" ".join(t[j : j + 2]) for j in range(len(t) - 1)}

    shings = dict((d, sh(t)) for d, t in docs_rows)
    ids = sorted(shings)
    must = [
        (a, b)
        for i, a in enumerate(ids)
        for b in ids[i + 1 :]
        if len(shings[a] & shings[b]) / len(shings[a] | shings[b]) >= 0.85
    ]
    assert must, "fixture must contain high-jaccard pairs"
    missing = [p for p in must if p not in got]
    assert not missing, missing


def _lsh_corpus_and_batch(spark):
    """Deterministic corpus (20 docs) + incoming batch (8 docs) with
    near-dups inside the corpus, inside the batch, and across the two."""
    import random

    rng = random.Random(11)
    words = [f"w{i}" for i in range(60)]
    corpus, batch = [], []
    for i in range(10):
        b = [rng.choice(words) for _ in range(25)]
        corpus.append((f"c{i}", " ".join(b)))
        near = list(b)
        near[rng.randrange(len(near))] = rng.choice(words)
        if i < 5:
            corpus.append((f"cn{i}", " ".join(near)))   # corpus-internal dup
        else:
            batch.append((f"bn{i}", " ".join(near)))    # cross corpus↔batch dup
    for i in range(3):
        b = [rng.choice(words) for _ in range(25)]
        batch.append((f"b{i}", " ".join(b)))
        if i == 0:
            batch.append((f"bb{i}", " ".join(b)))        # batch-internal dup
    schema = "doc_id string, text string"
    return (
        spark.createDataFrame(corpus, schema),
        spark.createDataFrame(batch, schema),
    )


def test_lsh_probe_matches_batch(spark):
    """Incremental contract: index_candidates(build(corpus)) ∪
    probe(batch, index) must equal minhash_lsh_candidates(corpus ∪ batch)
    exactly when the bucket cap doesn't bind — the incremental split is
    an optimization, invisible in the result."""
    corpus, batch = _lsh_corpus_and_batch(spark)
    kw = dict(bands=16, rows_per_band=2)
    sig_c = dedup.minhash_signatures(corpus, num_hashes=32, shingle_n=2)
    sig_b = dedup.minhash_signatures(batch, num_hashes=32, shingle_n=2)
    sig_all = dedup.minhash_signatures(
        corpus.unionByName(batch), num_hashes=32, shingle_n=2
    )
    index = dedup.build_lsh_index(sig_c, **kw)
    got = {
        (r["id_a"], r["id_b"])
        for r in dedup.index_candidates(index)
        .unionByName(dedup.probe_lsh_index(sig_b, index, **kw))
        .collect()
    }
    expect = {
        (r["id_a"], r["id_b"])
        for r in dedup.minhash_lsh_candidates(sig_all, **kw).collect()
    }
    assert got == expect
    # non-vacuous: the fixture exercises all three pair populations
    assert any(a.startswith("c") and b.startswith("c") for a, b in expect)
    assert any(a.startswith("b") and b.startswith("b") for a, b in expect)
    assert any(a.startswith("b") != b.startswith("b") for a, b in expect)


def test_merge_lsh_index_unions_deltas(spark):
    """Delta-log contract (same as merge_bloom / merge_exact_index):
    merging per-batch index deltas equals building over the union."""
    corpus, batch = _lsh_corpus_and_batch(spark)
    kw = dict(bands=16, rows_per_band=2)
    sig_c = dedup.minhash_signatures(corpus, num_hashes=32, shingle_n=2)
    sig_b = dedup.minhash_signatures(batch, num_hashes=32, shingle_n=2)
    sig_all = dedup.minhash_signatures(
        corpus.unionByName(batch), num_hashes=32, shingle_n=2
    )
    merged = dedup.merge_lsh_index(
        dedup.build_lsh_index(sig_c, **kw).unionByName(
            dedup.build_lsh_index(sig_b, **kw)
        )
    )
    whole = dedup.build_lsh_index(sig_all, **kw)
    m = {(r["band"], r["bucket"]): list(r["ids"]) for r in merged.collect()}
    w = {(r["band"], r["bucket"]): list(r["ids"]) for r in whole.collect()}
    assert m == w


def test_ngram_jaccard(spark):
    docs = _docs(spark)
    pairs = dedup.ngram_jaccard_pairs(docs, n=1, threshold=0.7)
    got = {(r["id_a"], r["id_b"]): r["jaccard"] for r in pairs.collect()}
    assert got[("d1", "d2")] == 1.0
    assert got[("d1", "d3")] == 1.0
    assert 0.7 <= got[("d1", "d4")] < 1.0


def test_ngram_jaccard_hot_shingle_cap(spark):
    """A degenerate shared shingle must not produce O(n^2) pairs when the
    df cap is on; the cap drops it from the representation consistently."""
    rows = [(f"d{i}", f"common unique{i}a unique{i}b") for i in range(40)]
    docs = spark.createDataFrame(rows, "doc_id string, text string")
    uncapped = dedup.ngram_jaccard_pairs(docs, n=1, threshold=0.1, max_df=None)
    assert uncapped.count() == 40 * 39 // 2  # every pair shares 'common'
    capped = dedup.ngram_jaccard_pairs(docs, n=1, threshold=0.1, max_df=5)
    assert capped.count() == 0  # no doc pair shares a surviving shingle
    # a cap that nothing exceeds must be a no-op (exactness preserved)
    same = dedup.ngram_jaccard_pairs(docs, n=1, threshold=0.1, max_df=100)
    assert same.count() == uncapped.count()


def test_embedding_neardup_grid_matches_exact(spark):
    """The default grid-bucketed path must return EXACTLY the all-pairs
    answer (its corner-cell emission guarantees completeness) without an
    all-pairs join in the plan."""
    import math
    rows = [
        (i, [math.cos(i * 0.17 + d * 0.9) for d in range(8)]) for i in range(80)
    ]
    vecs = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    for thr in (0.35, 0.8, 0.95):
        grid = dedup.embedding_neardup_pairs(vecs, threshold=thr)
        exact = dedup.embedding_neardup_pairs(vecs, threshold=thr, method="exact")
        g = sorted((r["id_a"], r["id_b"], round(r["cosine"], 9)) for r in grid.collect())
        e = sorted((r["id_a"], r["id_b"], round(r["cosine"], 9)) for r in exact.collect())
        assert g == e, f"threshold {thr}: grid {len(g)} vs exact {len(e)}"
        assert len(e) > 0  # non-vacuous at every tested threshold
    plan = grid._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_simhash_near_dups(spark):
    docs = _docs(spark).filter("text != ''")
    sig = dedup.simhash(docs)
    vals = {r["id"]: r["simhash"] for r in sig.collect()}
    assert vals["d1"] == vals["d2"] == vals["d3"]
    pairs = dedup.simhash_near_dups(sig, max_hamming=8)
    got = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    assert ("d1", "d2") in got and ("d1", "d4") in got


def test_brute_force_topk_and_lsh(spark):
    import math
    rows = [(i, [math.cos(i * 0.3 + d) for d in range(4)]) for i in range(50)]
    corpus = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    queries = corpus.filter("vec_id < 3").select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    topk = similarity.brute_force_topk(corpus, queries, k=3, vec_col="embedding")
    res = {(r["query_id"], r["rank"]): r for r in topk.collect()}
    # self is always the top neighbor with sim ~1
    for q in range(3):
        assert res[(q, 1)]["neighbor_id"] == q
        assert abs(res[(q, 1)]["sim"] - 1.0) < 1e-9
    lsh = similarity.lsh_topk(corpus, queries, k=3, n_planes=4, dim=4)
    lres = {(r["query_id"], r["rank"]): r for r in lsh.collect()}
    for q in range(3):  # self shares its own bucket → always recalled
        assert lres[(q, 1)]["neighbor_id"] == q


def test_text_profile(spark):
    docs = _docs(spark)
    prof = {r["doc_id"]: r for r in text.profile(docs).collect()}
    assert prof["d1"]["n_tokens"] == 9
    assert prof["d6"]["n_tokens"] == 0
    assert prof["d1"]["lang_pred"] == "en"
    assert prof["d1"]["fingerprint"] == prof["d3"]["fingerprint"]
    assert prof["d1"]["fingerprint"] != prof["d4"]["fingerprint"]
    assert 0.0 <= prof["d1"]["quality"] <= 1.0


def test_multimodal_plumbing(spark):
    docs = _docs(spark)
    media = multimodal.synthetic_media(docs)
    assert media.count() == 6
    feats = multimodal.extract_features(media, dim=8)
    rows = feats.collect()
    assert all(len(r["feature"]) == 8 for r in rows)
    # deterministic: same input → same features
    again = {r["media_id"]: r["feature"] for r in multimodal.extract_features(media, dim=8).collect()}
    for r in rows:
        assert again[r["media_id"]] == r["feature"]
    resized = multimodal.resize_images(media, max_px=128)
    for r in resized.collect():
        assert max(r["target_width"], r["target_height"]) <= 128
    frames = multimodal.sample_frames(media, every_ms=5000)
    assert frames.count() >= media.filter("kind='video'").count()


def test_simhash_md5_matches_python_oracle(spark):
    """Sequential Python oracle for simhash_md5: md5 via hashlib, the
    same bit-vote + sign assembly per 32-bit half. Pins the Spark
    conv/substring hash derivation (the DuckDB driver oracle checks the
    same contract cross-engine at sf0.01)."""
    import hashlib
    import re

    docs = _docs(spark)
    expect = {}
    for r in docs.collect():
        norm = re.sub(r"\s+", " ", (r["text"] or "").strip().lower())
        vh, vl = [0] * 32, [0] * 32
        for t in norm.split(" "):
            h = hashlib.md5(t.encode()).hexdigest()
            hi, lo = int(h[:8], 16), int(h[8:16], 16)
            for i in range(32):
                vh[i] += 1 if (hi >> i) & 1 else -1
                vl[i] += 1 if (lo >> i) & 1 else -1
        expect[r["doc_id"]] = (
            sum(1 << i for i in range(32) if vh[i] > 0),
            sum(1 << i for i in range(32) if vl[i] > 0),
        )
    got = {
        r["id"]: (r["simhash_hi"], r["simhash_lo"])
        for r in dedup.simhash_md5(docs).collect()
    }
    assert got == expect


def test_minhash_md5_matches_python_oracle(spark):
    """Sequential Python oracle for the md5-keyed minhash signatures:
    3-word shingles, first-32-md5-bits base hash, affine family mod the
    >2^32 prime — must match dedup.minhash_signatures_md5 exactly."""
    import hashlib
    import re

    docs = _docs(spark).filter("text != ''")
    expect = {}
    for r in docs.collect():
        norm = re.sub(r"\s+", " ", r["text"].strip().lower())
        toks = norm.split(" ")
        grams = []
        for i in range(max(len(toks) - 3, 0) + 1):
            g = " ".join(toks[i : i + 3])
            if g not in grams:
                grams.append(g)
        hs = [int(hashlib.md5(g.encode()).hexdigest()[:8], 16) for g in grams]
        expect[r["doc_id"]] = [
            min(((2 * i + 1) * h + 1000003 * i + 12345) % 4294967311 for h in hs)
            for i in range(32)
        ]
    got = {
        r["id"]: list(r["sig"])
        for r in dedup.minhash_signatures_md5(docs).collect()
    }
    assert got == expect


def test_synthetic_media_arithmetic_mode(spark):
    """arithmetic=True derives metadata from numeric-id modular arithmetic
    (the oracle-reproducible mode); payload (sha256 of the id string) is
    identical to the default mode, so features agree across modes."""
    docs = spark.createDataFrame([(i,) for i in range(7)], "doc_id long")
    media = multimodal.synthetic_media(docs, arithmetic=True)
    rows = {r["media_id"]: r for r in media.collect()}
    kinds = ["image", "audio", "video"]
    for i in range(7):
        r = rows[str(i)]
        assert r["kind"] == kinds[i % 3]
        assert r["width"] == i % 1920 + 1
        assert r["height"] == i % 1080 + 1
        assert r["duration_ms"] == i % 60000
    f_arith = {
        r["media_id"]: r["feature"]
        for r in multimodal.extract_features(media, dim=8).collect()
    }
    f_default = {
        r["media_id"]: r["feature"]
        for r in multimodal.extract_features(
            multimodal.synthetic_media(docs), dim=8
        ).collect()
    }
    assert f_arith == f_default


def test_strict_decode_raises(spark):
    """Strict mode on a payload that is NOT a supported container (the
    synthetic sha256 bytes) must still fail loudly — the compressed-
    format boundary stays an explicit error, not a silent fake."""
    import pytest as _pytest
    media = multimodal.synthetic_media(_docs(spark)).limit(1)
    with _pytest.raises(Exception):
        multimodal.extract_features(media, strict=True).collect()


def test_bmp_roundtrip():
    """encode_bmp → decode_bmp is (near-)identity for grayscale content:
    24-bit BI_RGB with B=G=R=gray, bottom-up rows, 4-byte row padding.
    Luma weights sum to 1 so equal channels reproduce the gray value."""
    import numpy as np

    rng = np.random.RandomState(7)
    gray = rng.randint(0, 256, size=(7, 5)).astype(np.uint8)  # odd width → row padding
    data = multimodal.encode_bmp(gray)
    assert data[:2] == b"BM"
    out = multimodal.decode_bmp(data)
    assert out.shape == (7, 5)
    assert np.allclose(out, gray.astype(np.float64), atol=1e-9)

    import pytest as _pytest
    # a payload cut short of its raster (or of its headers) is rejected
    # before any pixel byte is read
    for cut in (len(data) - 1, 40):
        with _pytest.raises(ValueError, match="truncated"):
            multimodal.decode_bmp(data[:cut])
    # BITMAPCOREHEADER (12-byte info header, 16-bit dims) is refused, not
    # misparsed with BITMAPINFOHEADER offsets
    import struct
    core = struct.pack("<IHHHH", 12, 5, 7, 1, 24)
    pixels = data[54:]
    head = struct.pack("<2sIHHI", b"BM", 26 + len(pixels), 0, 0, 26)
    with _pytest.raises(NotImplementedError, match="12 bytes"):
        multimodal.decode_bmp(head + core + pixels)


def test_bmp_8bpp_palette_mapped():
    """8-bpp BMP pixels are color-table indices: a non-identity palette
    must map through the table's luma, not read indices as gray values.
    Index 0 → pure red (luma 76.245), index 1 → pure white (255)."""
    import struct

    import numpy as np

    w, h = 3, 2
    row_bytes = ((8 * w + 31) // 32) * 4
    raster = np.array([[0, 1, 0, 0], [1, 0, 1, 0]], dtype=np.uint8)
    pixels = raster[::-1].tobytes()  # bottom-up
    # 2-entry palette: BGRX quads — red then white
    palette = bytes([0, 0, 255, 0, 255, 255, 255, 0])
    pix_off = 14 + 40 + len(palette)
    info = struct.pack(
        "<IiiHHIIiiII", 40, w, h, 1, 8, 0, len(pixels), 2835, 2835, 2, 0
    )
    header = struct.pack("<2sIHHI", b"BM", pix_off + len(pixels), 0, 0, pix_off)
    out = multimodal.decode_bmp(header + info + palette + pixels)
    red = 255 * 0.299
    assert out.shape == (h, w)
    assert np.allclose(out, [[red, 255.0, red], [255.0, red, 255.0]], atol=1e-9)


def test_pnm_decode_variants():
    """P5 binary PGM (with a comment line), P6 binary PPM (luma-reduced),
    and P2 ascii PGM all parse per spec."""
    import numpy as np

    p5 = b"P5\n# a comment\n3 2\n255\n" + bytes([0, 10, 20, 30, 40, 50])
    out = multimodal.decode_pnm(p5)
    assert out.shape == (2, 3) and out[1, 2] == 50.0

    rgb = bytes([255, 0, 0,  0, 255, 0,  0, 0, 255])  # one row: R, G, B px
    p6 = b"P6\n3 1\n255\n" + rgb
    out6 = multimodal.decode_pnm(p6)
    assert np.allclose(out6[0], [255 * 0.299, 255 * 0.587, 255 * 0.114])

    p2 = b"P2\n2 2\n255\n0 64\n128 255\n"
    out2 = multimodal.decode_pnm(p2)
    assert out2.tolist() == [[0.0, 64.0], [128.0, 255.0]]

    # 16-bit binary is big-endian per spec
    p5w = b"P5\n1 1\n65535\n" + (513).to_bytes(2, "big")
    assert multimodal.decode_pnm(p5w)[0, 0] == 513.0


def test_png_roundtrip_and_filters():
    """encode_png → decode_png is identity for 8-bit grayscale; a
    hand-filtered stream exercises all five scanline filter types
    (None/Sub/Up/Average/Paeth) against a reference forward-filter."""
    import struct
    import zlib

    import numpy as np

    rng = np.random.RandomState(11)
    gray = rng.randint(0, 256, size=(9, 7)).astype(np.uint8)
    out = multimodal.decode_png(multimodal.encode_png(gray))
    assert out.shape == (9, 7)
    assert np.array_equal(out, gray.astype(np.float64))

    # forward-filter the same image with one row per filter type
    def chunk(ctype, body):
        return (struct.pack(">I", len(body)) + ctype + body
                + struct.pack(">I", zlib.crc32(ctype + body) & 0xFFFFFFFF))

    img = rng.randint(0, 256, size=(5, 6)).astype(np.uint8)
    raw = b""
    prev = np.zeros(6, dtype=np.int32)
    for y, ftype in enumerate([0, 1, 2, 3, 4]):
        row = img[y].astype(np.int32)
        filt = row.copy()
        for x in range(6):
            a = row[x - 1] if x >= 1 else 0
            b, c = prev[x], (prev[x - 1] if x >= 1 else 0)
            if ftype == 1:
                filt[x] = (row[x] - a) & 0xFF
            elif ftype == 2:
                filt[x] = (row[x] - b) & 0xFF
            elif ftype == 3:
                filt[x] = (row[x] - ((a + b) >> 1)) & 0xFF
            elif ftype == 4:
                pa, pb, pc = abs(b - c), abs(a - c), abs(a + b - 2 * c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                filt[x] = (row[x] - pred) & 0xFF
        raw += bytes([ftype]) + bytes(filt.astype(np.uint8))
        prev = row
    ihdr = struct.pack(">IIBBBBB", 6, 5, 8, 0, 0, 0, 0)
    data = (multimodal._PNG_SIG + chunk(b"IHDR", ihdr)
            + chunk(b"IDAT", zlib.compress(raw)) + chunk(b"IEND", b""))
    assert np.array_equal(multimodal.decode_png(data), img.astype(np.float64))


def test_png_rgb_and_16bit():
    """8-bit RGB reduces through the luma weights; 16-bit grayscale
    samples are big-endian per spec."""
    import struct
    import zlib

    import numpy as np

    def chunk(ctype, body):
        return (struct.pack(">I", len(body)) + ctype + body
                + struct.pack(">I", zlib.crc32(ctype + body) & 0xFFFFFFFF))

    def png(w, h, depth, ct, raw):
        ihdr = struct.pack(">IIBBBBB", w, h, depth, ct, 0, 0, 0)
        return (multimodal._PNG_SIG + chunk(b"IHDR", ihdr)
                + chunk(b"IDAT", zlib.compress(raw)) + chunk(b"IEND", b""))

    rgb_row = b"\x00" + bytes([255, 0, 0, 0, 255, 0, 0, 0, 255])
    out = multimodal.decode_png(png(3, 1, 8, 2, rgb_row))
    assert np.allclose(out[0], [255 * 0.299, 255 * 0.587, 255 * 0.114])

    g16 = b"\x00" + (513).to_bytes(2, "big") + (65535).to_bytes(2, "big")
    out16 = multimodal.decode_png(png(2, 1, 16, 0, g16))
    assert out16.tolist() == [[513.0, 65535.0]]

    import pytest

    with pytest.raises(NotImplementedError):  # palette stays on the boundary
        multimodal.decode_png(png(1, 1, 8, 3, b"\x00\x00"))


def test_wav_decode():
    """Stdlib-written 16-bit stereo PCM decodes to channel-averaged
    float64 samples."""
    import io
    import wave

    import numpy as np

    buf = io.BytesIO()
    with wave.open(buf, "wb") as wf:
        wf.setnchannels(2)
        wf.setsampwidth(2)
        wf.setframerate(8000)
        frames = np.array([100, 200, -300, 500, 0, -32768], dtype="<i2")
        wf.writeframes(frames.tobytes())
    out = multimodal.decode_wav(buf.getvalue())
    assert np.allclose(out, [150.0, 100.0, -16384.0])


def test_strict_pipeline_on_real_media(spark):
    """extract_features and perceptual_hash run strict=True end-to-end on
    REAL container bytes (a BMP fixture) through the Arrow mapInPandas
    path, and the features equal the numpy-side bucket means of the
    decoded image — the round-4 'real codec behind the real plumbing'
    milestone."""
    import numpy as np

    rng = np.random.RandomState(42)
    gray = rng.randint(0, 256, size=(8, 8)).astype(np.uint8)
    payload = multimodal.encode_bmp(gray)
    png_payload = multimodal.encode_png(gray)
    media = spark.createDataFrame(
        [
            ("m1", "image", "image/bmp", 8, 8, 0, bytearray(payload)),
            ("m2", "image", "image/png", 8, 8, 0, bytearray(png_payload)),
        ],
        schema=multimodal.MEDIA_SCHEMA,
    )
    feats = {
        r["media_id"]: r
        for r in multimodal.extract_features(media, dim=4, strict=True).collect()
    }
    decoded = multimodal.decode_media(payload, "image").astype(np.float32)
    want, _ = multimodal._bucket_means(decoded, 4)
    assert np.allclose(feats["m1"]["feature"], want.astype(np.float32))
    # same image through the PNG decoder → identical features
    assert np.allclose(feats["m2"]["feature"], want.astype(np.float32))
    media = media.filter("media_id = 'm1'")

    ph = multimodal.perceptual_hash(media, dim=16, strict=True).collect()
    b64, mu = multimodal._bucket_means(decoded.astype(np.float64), 16)
    want_h = 0
    for i in range(16):
        if b64[i] > mu:
            want_h |= 1 << i
    assert ph[0]["phash"] == want_h


def test_neardup_clusters(spark):
    """Connected components over pair edges: chains must collapse into one
    cluster (multi-round propagation — a path graph is the worst case for
    hash-min), disjoint components stay apart, and cluster_id is the min
    member id."""
    pairs = spark.createDataFrame(
        # component 1: chain 1-2-3-4 (diameter 3); component 2: 10-11;
        # component 3 via out-of-order edge: 20-21, 21-7 => min id 7
        [(1, 2), (2, 3), (3, 4), (10, 11), (20, 21), (7, 21)],
        "id_a long, id_b long",
    )
    out = {r["doc_id"]: r["cluster_id"] for r in dedup.neardup_clusters(pairs).collect()}
    assert out == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 20: 7, 21: 7, 7: 7}


def test_neardup_clusters_empty(spark):
    pairs = spark.createDataFrame([], "id_a long, id_b long")
    assert dedup.neardup_clusters(pairs).count() == 0


def test_neardup_keep(spark):
    """Keep = one representative per cluster + all unclustered docs."""
    docs = spark.createDataFrame([(i, f"t{i}") for i in range(8)], "doc_id long, text string")
    pairs = spark.createDataFrame([(1, 2), (2, 3), (5, 6)], "id_a long, id_b long")
    clusters = dedup.neardup_clusters(pairs)
    kept = sorted(r["doc_id"] for r in dedup.neardup_keep(docs, clusters).collect())
    assert kept == [0, 1, 4, 5, 7]


def test_pagerank_matches_python_oracle(spark):
    """Sequential Python power iteration (same teleport + dangling
    semantics) over a small digraph with parallel edges, a dangling node,
    and an isolated node — Spark ranks match within double-sum noise and
    sum to 1 every configuration."""
    from post_processor_spark.analytics import graph

    node_ids = list(range(7))  # 6 is isolated (no edges at all)
    edge_list = [
        (0, 1), (0, 2), (1, 2), (2, 0), (3, 2),
        (4, 0), (4, 1), (4, 1),  # parallel edge 4->1 counts twice
        # 5 is dangling (in-edges only)
        (3, 5),
    ]
    nodes = spark.createDataFrame([(i,) for i in node_ids], "id long")
    edges = spark.createDataFrame(edge_list, "src long, dst long")

    def py_pagerank(ids, es, iterations, d):
        n = len(ids)
        out = {}
        for s, t in es:
            out.setdefault(s, []).append(t)
        r = {v: 1.0 / n for v in ids}
        for _ in range(iterations):
            dm = sum(r[v] for v in ids if v not in out)
            nxt = {v: (1 - d) / n + d * dm / n for v in ids}
            for s, ts in out.items():
                for t in ts:
                    nxt[t] += d * r[s] / len(ts)
            r = nxt
        return r

    for iterations in (1, 3):
        got = {
            r["id"]: r["rank"]
            for r in graph.pagerank(nodes, edges, iterations=iterations).collect()
        }
        want = py_pagerank(node_ids, edge_list, iterations, 0.85)
        assert set(got) == set(want)
        for v in node_ids:
            assert abs(got[v] - want[v]) < 1e-12, (iterations, v, got[v], want[v])
        assert abs(sum(got.values()) - 1.0) < 1e-9


def test_neardup_keep_best_prefers_high_score(spark):
    """keep_best keeps the highest-prefer member per cluster (min id on
    ties) and every unclustered doc; same row set size as neardup_keep."""
    docs = spark.createDataFrame(
        [(1, 0.2), (2, 0.9), (3, 0.9), (4, 0.1), (5, 0.5)],
        "doc_id long, quality double",
    )
    # clusters: {1,2,3} (cluster_id 1), {4} unclustered, {5} unclustered
    clusters = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 1)], "doc_id long, cluster_id long"
    )
    kept = sorted(
        r["doc_id"]
        for r in dedup.neardup_keep_best(docs, clusters, prefer="quality").collect()
    )
    # cluster {1,2,3}: 2 and 3 tie at 0.9 -> min id 2 wins; 4,5 unclustered
    assert kept == [2, 4, 5]
    # min-id variant keeps 1 instead
    kept_min = sorted(
        r["doc_id"] for r in dedup.neardup_keep(docs, clusters).collect()
    )
    assert kept_min == [1, 4, 5]


def test_rank_priority_feedback(spark):
    """rank_priority maps authority to frontier scheduling classes
    (value-based, partitioning-independent): uniform rank keeps the
    base class, each authority doubling moves one class earlier, and
    the output drives frontier scheduling order within a host."""
    import math

    from post_processor_spark import frontier
    from post_processor_spark.analytics import graph

    n = 8
    ranks = spark.createDataFrame(
        [(i, [1.0 / n, 2.0 / n, 4.0 / n, 0.25 / n, 64.0 / n, 1.0 / n, 1.0 / n, 1.0 / n][i])
         for i in range(n)],
        "id long, rank double",
    )
    got = {r["id"]: r["priority"] for r in graph.rank_priority(ranks).collect()}
    for i, rank in [(0, 1.0), (1, 2.0), (2, 4.0), (3, 0.25), (4, 64.0)]:
        want = min(9, max(0, 5 - math.floor(math.log2(rank))))
        assert got[i] == want, (i, got[i], want)
    assert got[0] == 5 and got[1] == 4 and got[2] == 3 and got[3] == 7 and got[4] == 0

    # end-to-end: priorities from rank_priority reorder scheduling within
    # a host under a tight politeness budget (lower class first).
    seeds = ranks.join(
        graph.rank_priority(ranks), "id"
    ).select(
        F.concat(F.lit("https://feedback.example.com/doc/"), F.col("id")).alias("url"),
        "priority",
        F.col("id").alias("seq"),
    )
    cand = frontier.seeds_to_frontier(seeds)
    sched = frontier.politeness_schedule(
        cand.drop("status", "not_before", "sched_gen"),
        generation=1, budget_per_host=2, crawl_delay_sec=0, salt_parts=4,
    ).filter(F.col("status") == "scheduled")
    picked = sorted(r["url"].rsplit("/", 1)[1] for r in sched.collect())
    # budget 2 on one host: doc 4 (class 0) and doc 2 (class 3) win
    assert picked == ["2", "4"]


def test_hashed_linear_score_matches_python_oracle(spark):
    """Trained-weights path: bucket = md5 feature hash, score =
    sigmoid(bias + mean token weight), recomputed in pure Python."""
    import hashlib
    import math
    import random

    import pytest

    rng = random.Random(3)
    dim = 64
    weights = [rng.uniform(-2, 2) for _ in range(dim)]
    docs = [
        (0, "the quick brown fox"),
        (1, "  spaced    out   tokens "),
        (2, ""),            # empty → sigmoid(bias)
        (3, "   "),         # whitespace-only → sigmoid(bias)
        (4, "Mixed CASE Tokens mixed case tokens"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    out = {
        r["doc_id"]: r["score"]
        for r in df.select(
            "doc_id",
            text.hashed_linear_score(
                F.col("text"), weights=weights, dim=dim, bias=0.25, salt="s"
            ).alias("score"),
        ).collect()
    }

    def bucket(tok):
        return int(hashlib.md5((tok + "s").encode()).hexdigest()[:8], 16) % dim

    for doc_id, txt in docs:
        toks = [t for t in txt.lower().strip().split() if t]
        mean_w = sum(weights[bucket(t)] for t in toks) / len(toks) if toks else 0.0
        want = 1.0 / (1.0 + math.exp(-(0.25 + mean_w)))
        assert abs(out[doc_id] - want) < 1e-12, (doc_id, out[doc_id], want)

    with pytest.raises(ValueError, match="weights length"):
        df.select(text.hashed_linear_score(F.col("text"), weights=[0.0], dim=8))
    with pytest.raises(ValueError, match="dim"):
        df.select(text.hashed_linear_score(F.col("text"), dim=0))


def test_hashed_linear_score_is_map_only(spark):
    """No shuffle, no Python runner in the plan — pure codegen filter
    material."""
    df = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    plan = (
        df.select(text.hashed_linear_score(F.col("text")).alias("s"))
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange" not in plan
    assert "Python" not in plan  # no BatchEvalPython / ArrowEvalPython


def test_collocations_matches_python_oracle(spark):
    """Sequential oracle for PMI collocation mining: unigram/bigram
    counts and the exact division tree over a corpus with a single-token
    doc, an empty doc, and repeated bigrams."""
    import math

    corpus = [
        "the quick brown fox jumps over the lazy dog",
        "the quick brown fox sleeps",
        "the quick brown cat",
        "quick brown everywhere",
        "solo",
        "   ",
        "brown the quick brown",
    ]
    docs = spark.createDataFrame([(i, t) for i, t in enumerate(corpus)], "doc_id long, text string")

    uni, big = {}, {}
    for t in corpus:
        tk = t.strip().lower().split()
        if not tk:
            continue
        for w in tk:
            uni[w] = uni.get(w, 0) + 1
        for a, b in zip(tk, tk[1:]):
            big[(a, b)] = big.get((a, b), 0) + 1
    n_tok, n_big = sum(uni.values()), sum(big.values())
    want = {}
    for (a, b), n in big.items():
        if n >= 2:
            pmi = math.log((n / n_big) / ((uni[a] / n_tok) * (uni[b] / n_tok)))
            want[(a, b)] = (n, uni[a], uni[b], round(pmi, 6))

    got = {
        (r["w1"], r["w2"]): (r["n_pair"], r["n_w1"], r["n_w2"], r["pmi"])
        for r in text.collocations(docs, min_count=2).collect()
    }
    assert got == want
    assert ("quick", "brown") in got  # the repeated collocation survives


def test_collocations_min_count_prunes_tail(spark):
    docs = spark.createDataFrame(
        [(0, "a b a b"), (1, "c d")], "doc_id long, text string"
    )
    got = text.collocations(docs, min_count=2).collect()
    assert {(r["w1"], r["w2"]) for r in got} == {("a", "b")}


def test_media_phash_near_dup_bridge(spark):
    """perceptual_hash → dedup.simhash_near_dups: a one-byte payload
    perturbation lands within hamming ≤3 of the original (caught by the
    quarter-blocked pair join), while a structurally different payload
    stays out."""
    a = bytes([200] * 16 + [10] * 16)
    b = bytes([200] * 15 + [10] + [10] * 16)  # one bucket flips → hamming 1
    c = bytes([7] * 32)                        # all 32 low bits set → far
    media = spark.createDataFrame(
        [("a", "image", bytearray(a)), ("b", "image", bytearray(b)),
         ("c", "image", bytearray(c))],
        "media_id string, kind string, payload binary",
    )
    sig = multimodal.perceptual_hash(media).select(
        F.col("media_id").alias("id"), F.col("phash").alias("simhash")
    )
    pairs = {(r["id_a"], r["id_b"]): r["hamming"]
             for r in dedup.simhash_near_dups(sig, max_hamming=3).collect()}
    assert pairs == {("a", "b"): 1}


def test_media_phash_deterministic_and_padded_bits_zero(spark):
    """Stub-decoded sha payloads are 32 bytes → buckets 32..63 are pad
    zeros and must never set a bit; the hash is stable across runs."""
    from post_processor_spark.analytics import multimodal as mm

    docs = spark.createDataFrame([(i,) for i in range(20)], "doc_id long")
    media = mm.synthetic_media(docs, arithmetic=True)
    got1 = {r["media_id"]: r["phash"] for r in mm.perceptual_hash(media).collect()}
    got2 = {r["media_id"]: r["phash"] for r in mm.perceptual_hash(media).collect()}
    assert got1 == got2
    assert all(0 <= h < (1 << 32) for h in got1.values())


def test_script_profile_detection_and_tiebreak(spark):
    """Script counts per Unicode class, dominant-script pick, and the
    first-in-table tie-break (latin beats cyrillic on equal counts)."""
    docs = spark.createDataFrame(
        [
            (0, "hello world"),
            (1, "Привет мир"),
            (2, "γειά σου κόσμε"),
            (3, "שלום עולם"),
            (4, "مرحبا"),
            (5, "नमस्ते"),
            (6, "你好 こんにちは 안녕"),
            (7, "ab аб"),       # 2 latin vs 2 cyrillic → tie → latin
            (8, "1234 !!!"),    # no letters → unknown
            (9, "mix Привет of two worlds"),
        ],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in text.script_profile(docs).collect()}
    assert rows[0]["script"] == "latin" and rows[0]["n_latin"] == 10
    assert rows[1]["script"] == "cyrillic" and rows[1]["n_cyrillic"] == 9
    assert rows[2]["script"] == "greek"
    assert rows[3]["script"] == "hebrew"
    assert rows[4]["script"] == "arabic"
    assert rows[5]["script"] == "devanagari"
    assert rows[6]["script"] == "cjk" and rows[6]["n_cjk"] == 9
    assert rows[7]["script"] == "latin"
    assert rows[8]["script"] == "unknown" and rows[8]["n_scripted"] == 0
    assert rows[9]["script"] == "latin" and rows[9]["n_cyrillic"] == 6


def test_edit_distance_verify_matches_python_oracle(spark):
    """Banded Levenshtein verification vs a sequential DP oracle,
    covering below-threshold, above-threshold (-1), and the length-gap
    short-circuit."""

    def lev(s, t):
        prev = list(range(len(t) + 1))
        for i, cs in enumerate(s, 1):
            cur = [i]
            for j, ct in enumerate(t, 1):
                cur.append(min(prev[j] + 1, cur[j - 1] + 1,
                               prev[j - 1] + (cs != ct)))
            prev = cur
        return prev[-1]

    texts = {
        0: "the quick brown fox jumps over the lazy dog",
        1: "the quick brown fox jumped over the lazy dog",  # tiny edit
        2: "a completely different document altogether here",
        3: "x" * 200,  # length gap vs everything → short-circuit
    }
    docs = spark.createDataFrame(list(texts.items()), "doc_id long, text string")
    pairs = spark.createDataFrame(
        [(0, 1), (0, 2), (0, 3), (1, 2)], "id_a long, id_b long"
    )
    got = {(r["id_a"], r["id_b"]): (r["dist"], r["is_dup"])
           for r in dedup.edit_distance_verify(pairs, docs, max_dist=10).collect()}
    for (ia, ib), (dist, is_dup) in got.items():
        sa, sb = texts[ia], texts[ib]
        if abs(len(sa) - len(sb)) > 10:
            want = -1
        else:
            d = lev(sa, sb)
            want = d if d <= 10 else -1
        assert dist == want, (ia, ib, dist, want)
        assert is_dup == (want >= 0)
    assert got[(0, 1)][0] == 2 and got[(0, 1)][1]
    assert got[(0, 3)][0] == -1


def test_collocations_ignores_split_edge_empties(spark):
    """Newline/tab-terminated docs must not emit '' tokens or
    (word, '') bigrams — Spark trim() strips spaces only, so the
    tokenizer filters split edge artifacts explicitly."""
    docs = spark.createDataFrame(
        [(0, "hello world\n"), (1, "\thello world"), (2, "hello world")],
        "doc_id long, text string",
    )
    got = text.collocations(docs, min_count=2).collect()
    assert {(r["w1"], r["w2"]) for r in got} == {("hello", "world")}
    row = got[0]
    assert row["n_pair"] == 3 and row["n_w1"] == 3 and row["n_w2"] == 3


def test_perceptual_hash_rejects_wide_dim(spark):
    import pytest

    media = spark.createDataFrame(
        [("a", "image", bytearray(b"\x01\x02"))],
        "media_id string, kind string, payload binary",
    )
    with pytest.raises(ValueError):
        multimodal.perceptual_hash(media, dim=128)


def test_script_profile_plans_map_only(spark):
    """script_profile is pure per-row regexp counting — the physical
    plan must contain no Exchange (the 100 TB cost is the scan)."""
    df = spark.createDataFrame([(1, "hello")], "doc_id long, text string")
    plan = (
        text.script_profile(df)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange" not in plan


def test_lsh_bucket_cap_bounds_the_aggregation(spark):
    """A degenerate near-dup family (every doc identical → every doc in
    the SAME (band,bucket) for every band) must be pre-gated BEFORE the
    member-array aggregation: no (band,bucket) group may feed more than
    ~oversample × max_bucket rows into collect_list, and the final index
    rows stay ≤ max_bucket. Pins the round-4 pre-aggregation cap."""
    from pyspark.sql import functions as F
    from post_processor_spark.analytics import dedup

    n, cap = 5000, 100
    docs = spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.lit("the same boilerplate text repeated on every single page "
              "of this mirror site again and again").alias("text"),
    )
    sig = dedup.minhash_signatures(docs, num_hashes=8, shingle_n=2)
    b = dedup._band_buckets(sig, bands=4, rows_per_band=2)
    gated_sizes = (
        dedup._gate_oversized_buckets(b, cap)
        .groupBy("band", "bucket").agg(F.count("*").alias("n"))
        .agg(F.max("n").alias("mx")).collect()[0]["mx"]
    )
    # expectation is oversample×cap = 200 survivors; 4× is far beyond any
    # realistic deviation but still 12× under the ungated 5000
    assert cap <= gated_sizes <= 4 * cap
    idx = dedup.build_lsh_index(sig, bands=4, rows_per_band=2, max_bucket=cap)
    rows = idx.select(F.size("ids").alias("s")).collect()
    assert rows and all(r["s"] <= cap for r in rows)
    # pair generation still works over the capped members
    pairs = dedup.minhash_lsh_candidates(sig, bands=4, rows_per_band=2,
                                         max_bucket=cap)
    assert pairs.count() > 0


def test_lsh_bucket_gate_is_identity_under_cap(spark):
    """Buckets at or under max_bucket pass the gate untouched — the
    hash-rank pre-gate only changes membership where the cap was already
    truncating."""
    from pyspark.sql import functions as F
    from post_processor_spark.analytics import dedup

    docs = spark.range(50).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("distinct document number "),
                 F.col("id").cast("string"),
                 F.lit(" with its own words")).alias("text"),
    )
    sig = dedup.minhash_signatures(docs, num_hashes=8, shingle_n=2)
    b = dedup._band_buckets(sig, bands=4, rows_per_band=2)
    before = sorted((r["band"], r["bucket"], r["id"]) for r in b.collect())
    after = sorted(
        (r["band"], r["bucket"], r["id"])
        for r in dedup._gate_oversized_buckets(b, 1000).collect()
    )
    assert before == after


def test_merge_lsh_index_overlapping_deltas_keep_all_in_cap_ids(spark):
    """Merging MANY overlapping deltas must honor the 'sorted distinct
    union, re-capped' contract: when a bucket's DISTINCT membership is
    within max_bucket, every id survives the merge no matter how many
    deltas repeat it. With a raw count(*) census the 8× duplication
    below inflated _n to 800 > cap and the gate dropped ~70% of the
    distinct ids; the census must count distinct ids."""
    from pyspark.sql import functions as F
    from post_processor_spark.analytics import dedup

    ids = [f"doc{i:03d}" for i in range(100)]
    one = spark.createDataFrame(
        [(0, 7, ids)], "band int, bucket bigint, ids array<string>"
    )
    deltas = one
    for _ in range(7):
        deltas = deltas.unionByName(one)
    merged = dedup.merge_lsh_index(deltas, max_bucket=120).collect()
    assert len(merged) == 1
    assert merged[0]["ids"] == sorted(ids)
    # idempotency: re-merging the merged index changes nothing
    again = dedup.merge_lsh_index(
        spark.createDataFrame(merged, "band int, bucket bigint, ids array<string>"),
        max_bucket=120,
    ).collect()
    assert again == merged


def test_lsh_gate_small_cap_never_undershoots(spark):
    """max_bucket far below the Chernoff-comfortable range (~100) must
    still leave at least max_bucket survivors for the final slice: the
    gate's keep-threshold targets _CAP_MIN_EXPECT survivors when
    2×max_bucket would be too small an expectation."""
    from pyspark.sql import functions as F
    from post_processor_spark.analytics import dedup

    cap = 10
    b = spark.range(5000).select(
        F.lit(0).alias("band"),
        F.lit(1).cast("long").alias("bucket"),
        F.concat(F.lit("d"), F.col("id").cast("string")).alias("id"),
    )
    survivors = dedup._gate_oversized_buckets(b, cap).count()
    assert cap <= survivors <= 4 * dedup._CAP_MIN_EXPECT
    members = (
        dedup._gate_oversized_buckets(b, cap)
        .groupBy("band", "bucket")
        .agg(F.slice(F.sort_array(F.collect_list("id")), 1, cap).alias("ids"))
        .collect()
    )
    assert len(members) == 1 and len(members[0]["ids"]) == cap
