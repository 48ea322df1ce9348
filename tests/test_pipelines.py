"""Dedup / ANN / text / multimodal pipeline tests."""

import pytest
from pyspark.sql import functions as F

from cugraph_spark.pipelines.dedup import (
    exact_duplicates,
    shingles,
    minhash_signatures,
    minhash_lsh_candidates,
    minhash_lsh_duplicates,
    simhash_fingerprints,
    simhash_near_duplicates,
    ngram_jaccard_pairs,
)
from cugraph_spark.pipelines.similarity_search import (
    brute_force_topk,
    lsh_topk,
    embedding_near_duplicates,
)
from cugraph_spark.pipelines.text import (
    token_counts,
    quality_scores,
    language_id,
    document_fingerprints,
    repetition_scores,
    redact_pii,
)
from cugraph_spark.pipelines.multimodal import (
    decode_images,
    resize_images,
    sample_video_frames,
)


@pytest.fixture(scope="module")
def docs(spark):
    base = "the quick brown fox jumps over the lazy dog again and again today"
    rows = [
        (1, base),
        (2, base),  # exact dup of 1
        (3, base + " extra tail words here"),  # near dup of 1
        (4, "completely different content about spark dataframes and shuffles"),
        (5, "der hund und die katze sind nicht zu haus mit den kindern"),
        (6, "12345 67890 !!! ??? ###"),
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_exact_duplicates(docs):
    out = {r["doc_id"]: (r["group_id"], r["group_size"], r["is_canonical"]) for r in exact_duplicates(docs).collect()}
    assert out[1] == (1, 2, True)
    assert out[2] == (1, 2, False)
    assert out[3][1] == 1


def test_minhash_lsh_near_dups(docs):
    out = minhash_lsh_duplicates(docs, threshold=0.3, k=3).collect()
    pairs = {(r["first"], r["second"]) for r in out}
    assert (1, 2) in pairs  # identical docs always collide, jaccard 1.0
    j = {(r["first"], r["second"]): r["jaccard"] for r in out}
    assert j[(1, 2)] == pytest.approx(1.0)
    # near-dup 1-3 should be found with high probability given 32 hashes
    assert (1, 3) in pairs
    assert (1, 4) not in pairs


def test_minhash_candidates_vs_exact_jaccard(docs):
    sh = shingles(docs, k=2)
    sig = minhash_signatures(sh, num_hashes=16)
    assert sig.count() == 6
    assert len(sig.first()["sig"]) == 16
    cand = minhash_lsh_candidates(sig, bands=4)
    assert {tuple(r) for r in cand.collect()} >= {(1, 2)}


def test_simhash(docs):
    fps = {r["doc_id"]: r["simhash"] for r in simhash_fingerprints(docs).collect()}
    assert fps[1] == fps[2]  # identical text -> identical fingerprint
    out = simhash_near_duplicates(docs, max_hamming=10)
    pairs = {(r["first"], r["second"]): r["hamming"] for r in out.collect()}
    assert pairs[(1, 2)] == 0


def test_ngram_jaccard(docs, spark):
    pairs = spark.createDataFrame([(1, 2), (1, 4)], ["first", "second"])
    out = {(r["first"], r["second"]): r["jaccard"] for r in ngram_jaccard_pairs(docs, pairs).collect()}
    assert out[(1, 2)] == pytest.approx(1.0)
    assert out[(1, 4)] < 0.5


@pytest.fixture(scope="module")
def vectors(spark):
    import random

    rng = random.Random(9)
    rows = []
    for i in range(50):
        rows.append((i, [rng.gauss(0, 1) for _ in range(8)]))
    # vec 100 = vec 0 scaled (cosine 1), vec 101 = near vec 1
    rows.append((100, [2 * x for x in rows[0][1]]))
    rows.append((101, [x + 0.01 for x in rows[1][1]]))
    return spark.createDataFrame(rows, ["vec_id", "embedding"])


def test_brute_force_topk(vectors):
    q = vectors.filter(F.col("vec_id").isin([0, 1])).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = brute_force_topk(vectors, q, k=2)
    rows = {(r["query_id"], r["vec_id"]): r["cosine"] for r in out.collect()}
    # top-1 for query 0 is itself (cos 1), then 100 (scaled copy, cos 1)
    assert rows[(0, 0)] == pytest.approx(1.0)
    assert rows[(0, 100)] == pytest.approx(1.0)
    assert rows[(1, 1)] == pytest.approx(1.0)
    assert (1, 101) in rows


def test_lsh_topk_recalls_identical(vectors):
    q = vectors.filter(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = lsh_topk(vectors, q, k=3, n_planes=6)
    ids = [r["vec_id"] for r in out.collect()]
    assert 0 in ids and 100 in ids  # same-direction vectors share every bucket


def test_ivf_topk(vectors):
    from cugraph_spark.pipelines.similarity_search import brute_force_topk, ivf_topk

    q = vectors.filter(F.col("vec_id").isin([0, 1, 2])).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = brute_force_topk(vectors, q, k=3)
    approx = ivf_topk(vectors, q, k=3, n_lists=4, n_probe=2, kmeans_iters=3)
    # identical-direction pair lands in the same list -> always recalled
    ids0 = [r["vec_id"] for r in approx.filter(F.col("query_id") == 0).collect()]
    assert 0 in ids0 and 100 in ids0
    # recall@3 against brute force with half the lists probed
    ex = {(r["query_id"], r["vec_id"]) for r in exact.collect()}
    ap = {(r["query_id"], r["vec_id"]) for r in approx.collect()}
    assert len(ex & ap) / len(ex) >= 0.5
    # deterministic: a second run returns the identical result set
    again = {(r["query_id"], r["vec_id"]) for r in
             ivf_topk(vectors, q, k=3, n_lists=4, n_probe=2, kmeans_iters=3).collect()}
    assert ap == again


def test_ivf_zero_norm_centroid_is_never_nearest(spark):
    """A list whose members average to zero has a zero-norm centroid: its
    unit vector is null in Spark and NaN in NumPy, and ``np.argmax``
    returns the first NaN, which sent every row to that list. Both IVF
    argmax sites (corpus assignment, driver Lloyd) must skip it."""
    import numpy as np

    from cugraph_spark.pipelines.similarity_search import (
        _assign_lists,
        _nearest_unit,
        _unit_centroid_rows,
    )
    from cugraph_spark.plans.iterloop import local_table

    members = {
        0: [[1.0, 1.0], [-1.0, -1.0]],  # averages to (0, 0)
        1: [[1.0, 0.0], [2.0, 0.2]],
        2: [[0.0, 1.0], [0.1, 3.0]],
    }
    means = [np.mean(v, axis=0) for v in members.values()]
    vecs = [v for vs in members.values() for v in vs]
    cent = local_table(
        spark, [(lid, m.tolist()) for lid, m in enumerate(means)], "list_id int, _ctr array<double>"
    )
    corpus = local_table(
        spark, [(i, v) for i, v in enumerate(vecs)], "vec_id long, _cv array<double>"
    )
    # nearest by cosine among the lists with a nonzero centroid (1 and 2)
    X = np.array(vecs)
    unit = np.array(means[1:]) / np.linalg.norm(means[1:], axis=1, keepdims=True)
    want = 1 + np.argmax(X @ unit.T, axis=1)
    assert set(want) == {1, 2}

    got = dict(_assign_lists(corpus, _unit_centroid_rows(cent)).select("vec_id", "list_id").collect())
    assert [got[i] for i in range(len(vecs))] == want.tolist()

    # driver Lloyd: the same matrix as _kmeans_driver normalizes it
    C = np.array(means)
    with np.errstate(divide="ignore", invalid="ignore"):
        cu = C / np.sqrt((C * C).sum(axis=1, keepdims=True))
    assert np.isnan(cu[0]).all()
    assert _nearest_unit(X, cu.T).tolist() == want.tolist()
    # no finite centroid at all: a defined answer, the first list
    assert _nearest_unit(X, np.full((2, 3), np.nan)).tolist() == [0] * len(vecs)


def test_embedding_near_duplicates(vectors):
    out = {(r["first"], r["second"]): r["cosine"] for r in embedding_near_duplicates(vectors, threshold=0.99).collect()}
    assert (0, 100) in out
    assert out[(0, 100)] == pytest.approx(1.0)
    assert (1, 101) in out


def test_token_counts(docs):
    out = {r["doc_id"]: (r["n_words"], r["n_tokens"]) for r in token_counts(docs).collect()}
    assert out[1][0] == 13
    assert out[6][1] >= 10  # symbols count as single tokens


def test_quality_scores(docs):
    out = {r["doc_id"]: r for r in quality_scores(docs).collect()}
    assert out[1]["quality_score"] > out[6]["quality_score"]
    assert out[6]["digit_ratio"] > 0.3
    assert 0 <= out[1]["stopword_ratio"] <= 1


def test_language_id(docs):
    out = {r["doc_id"]: r["lang_pred"] for r in language_id(docs).collect()}
    assert out[1] == "en"
    assert out[5] == "de"
    assert out[6] == "unknown"


def test_document_fingerprints(docs):
    fp = {r["doc_id"]: r["fingerprint"] for r in document_fingerprints(docs, k=3).collect()}
    assert fp[1] == fp[2]
    assert fp[1] != fp[4]


def test_repetition_scores(spark):
    rows = [
        (1, "a b\na b\nc d e"),      # dup line, repeated bigram
        (2, "x y x y x y x y"),      # heavy n-gram repetition
        (3, ""),                      # empty doc
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r["doc_id"]: r for r in repetition_scores(df).collect()}
    r1 = out[1]
    assert r1["n_lines"] == 3
    assert r1["dup_line_frac"] == pytest.approx(2 / 3, abs=1e-6)
    # "a b" twice = 6 chars duplicated of 11 total line chars
    assert r1["dup_line_char_frac"] == pytest.approx(6 / 11, abs=1e-6)
    # bigrams of [a b a b c d e]: "a b" x2 of 6 total
    assert r1["top_ngram_frac"] == pytest.approx(2 / 6, abs=1e-6)
    assert r1["dup_ngram_frac"] == 0.0  # all 5-grams distinct
    r2 = out[2]
    assert r2["n_lines"] == 1 and r2["dup_line_frac"] == 0.0
    assert r2["top_ngram_frac"] == pytest.approx(4 / 7, abs=1e-6)  # "x y" x4 of 7
    assert r2["dup_ngram_frac"] == 1.0  # every 5-gram occurs twice
    r3 = out[3]
    assert r3["n_lines"] == 0 and r3["dup_line_frac"] == 0.0
    assert r3["dup_ngram_frac"] == 0.0


def test_redact_pii(spark):
    rows = [
        (1, "mail a.b@x.io or c@y.org, ip 1.2.3.4, call +1 415-555-2671 now"),
        (2, "clean text"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r["doc_id"]: r for r in redact_pii(df).collect()}
    r1 = out[1]
    assert (r1["n_email"], r1["n_ip"], r1["n_phone"]) == (2, 1, 1)
    assert r1["text_redacted"] == "mail <EMAIL> or <EMAIL>, ip <IP>, call +<PHONE> now"
    r2 = out[2]
    assert (r2["n_email"], r2["n_ip"], r2["n_phone"]) == (0, 0, 0)
    assert r2["text_redacted"] == "clean text"


def test_multimodal_stub_pipeline(spark):
    rows = [(1, bytearray(b"fake-image-bytes-1")), (2, bytearray(b"other-bytes"))]
    df = spark.createDataFrame(rows, "media_id long, payload binary")
    meta = decode_images(df)
    got = {r["media_id"]: r for r in meta.collect()}
    assert set(got) == {1, 2}
    assert got[1]["n_bytes"] == 18
    assert len(got[1]["feature"]) == 8
    # deterministic stub
    again = {r["media_id"]: r for r in decode_images(df).collect()}
    assert got[1]["width"] == again[1]["width"]

    resized = resize_images(meta, max_side=64)
    for r in resized.collect():
        assert max(r["target_width"], r["target_height"]) <= 64 + 1

    vids = spark.createDataFrame([(1, 3.5)], "media_id long, duration_s double")
    frames = sample_video_frames(vids, fps=2.0)
    assert frames.count() == 7


def test_semantic_duplicates_planted(spark):
    import math

    from cugraph_spark.pipelines.similarity_search import semantic_duplicates

    # vec 0 and 7 nearly identical; vec 3 its negation (cos -1); others axis-aligned
    def unit(i, dim=8):
        v = [0.0] * dim
        v[i % dim] = 1.0
        return v

    rows = [
        (0, [1.0, 0.02, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0]),
        (7, [1.0, 0.0, 0.02, 0.0, 0.0, 0.0, 0.0, 0.0]),
        (3, [-1.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0]),
        (1, unit(1)),
        (2, unit(2)),
        (4, unit(4)),
        (5, unit(5)),
        (6, unit(6)),
    ]
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"])
    out = {
        r["vec_id"]: (r["is_duplicate"], r["dup_of"])
        for r in semantic_duplicates(
            emb, threshold=0.95, n_lists=4, kmeans_iters=2
        ).collect()
    }
    assert out[7] == (True, 0)  # higher id marked dup of lower
    assert out[0] == (False, None)  # canonical keeps
    assert out[3][0] is False  # negation is not a duplicate
    assert all(not out[v][0] for v in (1, 2, 4, 5, 6))


def test_decontaminate_planted(spark):
    from cugraph_spark.pipelines.decontaminate import decontaminate

    ev = spark.createDataFrame(
        [(0, "the quick brown fox jumps over the lazy dog today")],
        ["doc_id", "text"],
    )
    train = spark.createDataFrame(
        [
            (10, "completely unrelated text with no overlap whatsoever here"),
            (11, "prefix words then the quick brown fox jumps over something"),
            (12, "another clean training document about graphs and spark"),
        ],
        ["doc_id", "text"],
    )
    out = {
        r["doc_id"]: (r["contaminated"], r["n_hits"], r["first_eval_id"])
        for r in decontaminate(train, ev, ngram=5, min_hits=1).collect()
    }
    assert out[11][0] is True and out[11][1] >= 1 and out[11][2] == 0
    assert out[10][0] is False and out[10][2] is None
    assert out[12][0] is False


def test_multimodal_real_decoders(spark):
    import io
    import struct
    import wave

    from cugraph_spark.pipelines.multimodal import decode_audio, decode_images

    # real PNG header (signature + IHDR): 320x200
    png = (
        b"\x89PNG\r\n\x1a\n" + b"\x00\x00\x00\rIHDR"
        + struct.pack(">II", 320, 200) + b"\x08\x02\x00\x00\x00" + b"rest"
    )
    # real GIF header: 17x9
    gif = b"GIF89a" + struct.pack("<HH", 17, 9) + b"\x00" * 8
    # real JPEG with SOF0: 64x48
    jpeg = (
        b"\xff\xd8" + b"\xff\xe0" + struct.pack(">H", 16) + b"JFIF\x00" + b"\x00" * 9
        + b"\xff\xc0" + struct.pack(">H", 17) + b"\x08" + struct.pack(">HH", 48, 64)
        + b"\x03" + b"\x00" * 9 + b"\xff\xd9"
    )
    # real binary PPM 2x1: one red pixel, one white pixel
    ppm = b"P6\n2 1\n255\n" + bytes([255, 0, 0, 255, 255, 255])
    # real 24-bit BMP 1x1: pure blue pixel (BGR on disk)
    row = bytes([255, 0, 0]) + b"\x00"  # padded to 4 bytes
    bmp = (
        b"BM" + struct.pack("<IHHI", 54 + len(row), 0, 0, 54)
        + struct.pack("<IiiHHIIiiII", 40, 1, 1, 1, 24, 0, len(row), 0, 0, 0, 0)
        + row
    )
    junk = b"not-an-image"
    df = spark.createDataFrame(
        [(1, bytearray(png)), (2, bytearray(gif)), (3, bytearray(jpeg)),
         (4, bytearray(ppm)), (5, bytearray(bmp)), (6, bytearray(junk))],
        "media_id long, payload binary",
    )
    got = {r["media_id"]: r for r in decode_images(df).collect()}
    assert (got[1]["width"], got[1]["height"], got[1]["format"]) == (320, 200, "png")
    assert (got[2]["width"], got[2]["height"], got[2]["format"]) == (17, 9, "gif")
    assert (got[3]["width"], got[3]["height"], got[3]["format"]) == (64, 48, "jpeg")
    assert (got[4]["width"], got[4]["height"], got[4]["format"]) == (2, 1, "ppm")
    assert (got[5]["width"], got[5]["height"], got[5]["format"]) == (1, 1, "bmp")
    assert got[6]["format"].endswith("-stub")
    # real pixel features: ppm mean R = (255+255)/2/255 = 1.0, mean G = 0.5
    f4 = got[4]["feature"]
    assert abs(f4[0] - 1.0) < 1e-5 and abs(f4[1] - 0.5) < 1e-5 and abs(f4[2] - 0.5) < 1e-5
    # bmp decoded BGR->RGB: pure blue => R=0, G=0, B=1
    f5 = got[5]["feature"]
    assert abs(f5[0]) < 1e-5 and abs(f5[1]) < 1e-5 and abs(f5[2] - 1.0) < 1e-5

    # real WAV: 0.5s of silence, 16-bit mono 8kHz
    buf = io.BytesIO()
    with wave.open(buf, "wb") as wf:
        wf.setnchannels(1)
        wf.setsampwidth(2)
        wf.setframerate(8000)
        wf.writeframes(b"\x00\x00" * 4000)
    adf = spark.createDataFrame(
        [(1, bytearray(buf.getvalue())), (2, bytearray(b"mp3-ish-junk"))],
        "media_id long, payload binary",
    )
    a = {r["media_id"]: r for r in decode_audio(adf).collect()}
    assert a[1]["format"] == "wav"
    assert a[1]["n_channels"] == 1 and a[1]["sample_rate"] == 8000
    assert abs(a[1]["duration_s"] - 0.5) < 1e-9
    assert a[1]["feature"][0] == 0.0  # RMS of silence
    assert a[2]["format"] == "audio-stub"


def _encode_png(w, h, pixels, color_type, filters):
    """Minimal stdlib PNG writer (zlib + struct + crc32) used to prove
    the stdlib decoder on REAL spec-conformant files: each scanline is
    filtered with the given per-row filter types (0=None 1=Sub 2=Up
    3=Average 4=Paeth)."""
    import struct as st
    import zlib
    from binascii import crc32

    nch = {0: 1, 2: 3, 4: 2, 6: 4}[color_type]
    stride = w * nch
    raw = bytearray()
    for r in range(h):
        f = filters[r % len(filters)]
        raw.append(f)
        for x in range(stride):
            v = pixels[r * stride + x]
            a = pixels[r * stride + x - nch] if x >= nch else 0
            b = pixels[(r - 1) * stride + x] if r > 0 else 0
            c = pixels[(r - 1) * stride + x - nch] if (r > 0 and x >= nch) else 0
            if f == 0:
                pred = 0
            elif f == 1:
                pred = a
            elif f == 2:
                pred = b
            elif f == 3:
                pred = (a + b) >> 1
            else:
                pp = a + b - c
                pa, pb, pc = abs(pp - a), abs(pp - b), abs(pp - c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
            raw.append((v - pred) & 0xFF)

    def chunk(ctype, data):
        return (
            st.pack(">I", len(data)) + ctype + data
            + st.pack(">I", crc32(ctype + data) & 0xFFFFFFFF)
        )

    ihdr = st.pack(">IIBBBBB", w, h, 8, color_type, 0, 0, 0)
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(bytes(raw)))
        + chunk(b"IEND", b"")
    )


def test_png_stdlib_raster_decode(spark):
    """8-bit PNGs decode for REAL in this container (no Pillow): pixel
    features must match the known raster through every filter type, for
    RGB, RGBA and grayscale; palette PNGs keep real header dims but fall
    back to the digest stub feature."""
    from cugraph_spark.pipelines.multimodal import (
        _feature_stub,
        _pixel_feature,
        _png_decode,
        decode_images,
    )

    # 3x5 RGB with a deterministic gradient, one row per filter type
    w, h = 3, 5
    rgb = bytes((r * 37 + x * 11) % 256 for r in range(h) for x in range(w * 3))
    png_rgb = _encode_png(w, h, rgb, 2, [0, 1, 2, 3, 4])
    got = _png_decode(png_rgb)
    assert got == (w, h, rgb, 3)

    # RGBA (Paeth everywhere) and grayscale (Sub everywhere)
    rgba = bytes((r * 53 + x * 7) % 256 for r in range(4) for x in range(2 * 4))
    assert _png_decode(_encode_png(2, 4, rgba, 6, [4])) == (2, 4, rgba, 4)
    gray = bytes((r * 29 + x * 3) % 256 for r in range(3) for x in range(4))
    assert _png_decode(_encode_png(4, 3, gray, 0, [1])) == (4, 3, gray, 1)

    # palette stream missing its PLTE chunk is invalid -> None
    pal = _encode_png(2, 2, bytes(4), 0, [0])
    pal = pal.replace(b"\x08\x00\x00\x00\x00", b"\x08\x03\x00\x00\x00", 1)
    assert _png_decode(pal) is None

    # end-to-end through the Arrow-batched mapInPandas stage
    df = spark.createDataFrame(
        [(1, bytearray(png_rgb)), (2, bytearray(pal))],
        "media_id long, payload binary",
    )
    out = {r["media_id"]: r for r in decode_images(df).collect()}
    assert (out[1]["width"], out[1]["height"], out[1]["format"]) == (w, h, "png")
    # feature rides as array<float>: float32 round-trip tolerance
    assert out[1]["feature"] == pytest.approx(_pixel_feature(rgb, 3), abs=1e-6)
    assert out[2]["feature"] == pytest.approx(_feature_stub(bytes(pal)), abs=1e-6)


_ADAM7_ENC = [
    (0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
    (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2),
]


def test_jpeg_progressive_decode():
    """Progressive (SOF2) JPEGs decode for REAL: multi-scan spectral
    selection + successive approximation reconstructs the quantized
    coefficients EXACTLY (DC arithmetic-shift + refinement bits; AC
    magnitude truncation + G.1.2.3 correction bits), so the progressive
    decode is bit-identical to the baseline decode of the same image —
    across 4:4:4, 4:2:0, grayscale, DC-scan restarts, a 3-level AC
    successive-approximation ladder, and EOB runs spanning blocks."""
    import numpy as np

    from cugraph_spark.pipelines.multimodal import _jpeg_decode

    rng_y, rng_x = np.meshgrid(np.arange(48), np.arange(41), indexing="ij")
    rgb = np.stack(
        [
            ((rng_y * 5 + rng_x * 3) % 256),
            ((rng_y * 2 + rng_x * 7) % 256),
            ((rng_y * 11 + rng_x) % 256),
        ],
        axis=-1,
    ).astype(np.uint8)

    # 4:4:4, default Al ladder (DC 1 level, AC 1 level)
    base = _jpeg_decode(_encode_jpeg(41, 48, rgb))
    prog = _jpeg_decode(_encode_jpeg_progressive(41, 48, rgb))
    assert base is not None and prog == base

    # 4:2:0 with restarts in the interleaved DC scan
    base420 = _jpeg_decode(_encode_jpeg(41, 48, rgb, subsample=(2, 2)))
    prog420 = _jpeg_decode(
        _encode_jpeg_progressive(41, 48, rgb, subsample=(2, 2), restart=2)
    )
    assert base420 is not None and prog420 == base420

    # grayscale, 3-level AC ladder + 2-level DC ladder (deep refinement:
    # the middle AC refine has nonzero history AND newly-nonzero coefs)
    gray = ((rng_y * 13 + rng_x * 29) % 256).astype(np.uint8)
    gbase = _jpeg_decode(_encode_jpeg(41, 48, gray))
    gprog = _jpeg_decode(
        _encode_jpeg_progressive(41, 48, gray, dc_al=2, ac_al=(2, 1, 0))
    )
    assert gbase is not None and gprog == gbase

    # near-flat image: the AC-first scans are almost all EOB runs
    # spanning many blocks (exercises EOBn extension bits + the
    # eobrun>0 skip/refine paths); still exact vs baseline
    flat = np.full((48, 41, 3), 150, np.uint8)
    flat[0, 0] = [160, 150, 150]
    fbase = _jpeg_decode(_encode_jpeg(41, 48, flat))
    fprog = _jpeg_decode(_encode_jpeg_progressive(41, 48, flat))
    assert fbase is not None and fprog == fbase


def _encode_png_ext(w, h, samples, color_type, bit=8, interlace=0, plte=None,
                    filters=(0,)):
    """Extended minimal PNG writer (independent of the decoder): palette
    (PLTE) color, sub-byte sample packing (bit depth 1/2/4, MSB-first),
    and Adam7 interlacing — each pass filtered as its own sub-image with
    the given per-row filter cycle. ``samples`` is one byte per sample
    (palette index for color type 3), row-major at full image size."""
    import struct as st
    import zlib
    from binascii import crc32

    nch = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}[color_type]
    bpp = max(1, (nch * bit + 7) // 8)

    def pack_row(srow):
        if bit == 16:  # srow holds 0-65535 ints, big-endian pairs
            return b"".join(st.pack(">H", s) for s in srow)
        if bit == 8:
            return bytes(srow)
        out = bytearray((len(srow) * bit + 7) // 8)
        for i, s in enumerate(srow):
            out[(i * bit) >> 3] |= (s & ((1 << bit) - 1)) << (8 - bit - ((i * bit) & 7))
        return bytes(out)

    def filt(rows_packed):
        raw = bytearray()
        prev = bytes(len(rows_packed[0])) if rows_packed else b""
        for ri, row in enumerate(rows_packed):
            f = filters[ri % len(filters)]
            raw.append(f)
            for x in range(len(row)):
                v, a, b = row[x], row[x - bpp] if x >= bpp else 0, prev[x]
                c = prev[x - bpp] if x >= bpp else 0
                if f == 0:
                    pred = 0
                elif f == 1:
                    pred = a
                elif f == 2:
                    pred = b
                elif f == 3:
                    pred = (a + b) >> 1
                else:
                    pp = a + b - c
                    pa, pb, pc = abs(pp - a), abs(pp - b), abs(pp - c)
                    pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                raw.append((v - pred) & 0xFF)
            prev = row
        return raw

    raw = bytearray()
    if interlace == 0:
        raw += filt([pack_row(samples[r * w * nch : (r + 1) * w * nch]) for r in range(h)])
    else:
        for xs, ys, xstep, ystep in _ADAM7_ENC:
            pw = (w - xs + xstep - 1) // xstep if w > xs else 0
            ph = (h - ys + ystep - 1) // ystep if h > ys else 0
            if pw == 0 or ph == 0:
                continue
            rows = []
            for ri in range(ph):
                y = ys + ri * ystep
                srow = []
                for ci in range(pw):
                    o = (y * w + xs + ci * xstep) * nch
                    srow.extend(samples[o : o + nch])
                rows.append(pack_row(srow))
            raw += filt(rows)

    def chunk(ctype, data):
        return (st.pack(">I", len(data)) + ctype + data
                + st.pack(">I", crc32(ctype + data) & 0xFFFFFFFF))

    ihdr = st.pack(">IIBBBBB", w, h, bit, color_type, 0, 0, interlace)
    out = b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
    if plte is not None:
        out += chunk(b"PLTE", bytes(plte))
    return out + chunk(b"IDAT", zlib.compress(bytes(raw))) + chunk(b"IEND", b"")


def test_png_palette_decode(spark):
    """Palette PNGs (color type 3) decode for REAL at every legal bit
    depth: indices map through PLTE to RGB, sub-byte rows unpack
    MSB-first, filters apply in the packed-byte domain (bpp=1)."""
    from cugraph_spark.pipelines.multimodal import (
        _pixel_feature,
        _png_decode,
        decode_images,
    )

    plte = bytes((i * 17 + c * 41) % 256 for i in range(16) for c in range(3))

    def expect_rgb(samples):
        return bytes(plte[s * 3 + c] for s in samples for c in range(3))

    # 8-bit palette through every filter type
    w, h = 5, 5
    idx8 = bytes((r * 3 + x) % 16 for r in range(h) for x in range(w))
    png = _encode_png_ext(w, h, idx8, 3, bit=8, plte=plte, filters=(0, 1, 2, 3, 4))
    assert _png_decode(png) == (w, h, expect_rgb(idx8), 3)

    # 4-bit (odd width -> padded final byte), 2-bit, 1-bit
    idx4 = bytes((r + x) % 16 for r in range(3) for x in range(5))
    assert _png_decode(_encode_png_ext(5, 3, idx4, 3, bit=4, plte=plte)) == (
        5, 3, expect_rgb(idx4), 3)
    idx2 = bytes((r * x) % 4 for r in range(4) for x in range(7))
    assert _png_decode(_encode_png_ext(7, 4, idx2, 3, bit=2, plte=plte)) == (
        7, 4, expect_rgb(idx2), 3)
    idx1 = bytes((r ^ x) & 1 for r in range(3) for x in range(11))
    assert _png_decode(_encode_png_ext(11, 3, idx1, 3, bit=1, plte=plte)) == (
        11, 3, expect_rgb(idx1), 3)

    # out-of-range palette index is invalid -> None
    bad = _encode_png_ext(2, 1, bytes([0, 15]), 3, bit=8, plte=plte[:6])
    assert _png_decode(bad) is None

    # end-to-end: real pixel feature, not the digest stub
    df = spark.createDataFrame([(1, bytearray(png))], "media_id long, payload binary")
    out = {r["media_id"]: r for r in decode_images(df).collect()}
    assert (out[1]["width"], out[1]["height"], out[1]["format"]) == (w, h, "png")
    assert out[1]["feature"] == pytest.approx(
        _pixel_feature(expect_rgb(idx8), 3), abs=1e-6)


def test_png_adam7_interlaced_decode():
    """Adam7 PNGs decode for REAL: 7-pass de-interleave must reproduce
    the sequential raster exactly, for RGB and sub-byte palette, on
    dimensions that exercise empty and single-pixel passes; per-pass
    filter state must reset (Up filter on a pass's first row sees zeros,
    not the previous pass's last row)."""
    from cugraph_spark.pipelines.multimodal import _png_decode

    # 9x10 RGB: every pass non-trivial; filters cycle 0,2,1 within passes
    w, h = 9, 10
    rgb = bytes((r * 37 + x * 11) % 256 for r in range(h) for x in range(w * 3))
    png = _encode_png_ext(w, h, rgb, 2, bit=8, interlace=1, filters=(0, 2, 1))
    assert _png_decode(png) == (w, h, rgb, 3)

    # tiny images: most passes empty (1x1 has only pass 1; 3x3 skips several)
    for tw, th in [(1, 1), (2, 2), (3, 3), (8, 1), (1, 9)]:
        tiny = bytes((r * 7 + x) % 256 for r in range(th) for x in range(tw * 3))
        assert _png_decode(
            _encode_png_ext(tw, th, tiny, 2, bit=8, interlace=1)
        ) == (tw, th, tiny, 3)

    # interlaced 4-bit palette: packing + de-interleave compose
    plte = bytes((i * 29) % 256 for i in range(16) for _ in range(3))
    idx = bytes((r * 5 + x) % 16 for r in range(6) for x in range(7))
    got = _png_decode(_encode_png_ext(7, 6, idx, 3, bit=4, interlace=1, plte=plte))
    want = bytes(plte[s * 3 + c] for s in idx for c in range(3))
    assert got == (7, 6, want, 3)

    # grayscale+alpha interlaced (bpp=2 filter distance inside a pass)
    ga = bytes((r * 13 + x * 3) % 256 for r in range(5) for x in range(4 * 2))
    assert _png_decode(
        _encode_png_ext(4, 5, ga, 4, bit=8, interlace=1, filters=(4,))
    ) == (4, 5, ga, 2)


def test_png_16bit_and_subbyte_gray_decode():
    """16-bit channels reduce to the high byte of each big-endian pair
    (filter distance bpp=2·nch inside the packed row); sub-byte
    grayscale expands to full range (v·255/(2^bit−1))."""
    from cugraph_spark.pipelines.multimodal import _png_decode

    # 16-bit RGB, filters over 6-byte pixels; expect the high bytes
    w, h = 3, 4
    hi = [(r * 31 + x * 7) % 256 for r in range(h) for x in range(w * 3)]
    s16 = [v * 257 for v in hi]  # the standard 8→16 expansion
    got = _png_decode(_encode_png_ext(w, h, s16, 2, bit=16, filters=(0, 1, 2, 4)))
    assert got == (w, h, bytes(hi), 3)

    # 16-bit grayscale, non-trivial low bytes (hi*256+123): high byte wins
    g16 = [(r * 29 + x * 13) % 256 * 256 + 123 for r in range(3) for x in range(5)]
    got = _png_decode(_encode_png_ext(5, 3, g16, 0, bit=16, filters=(3,)))
    assert got == (5, 3, bytes(v >> 8 for v in g16), 1)

    # 16-bit RGBA interlaced: reduction composes with Adam7
    ra = [(r * 17 + x * 5) % 256 for r in range(5) for x in range(4 * 4)]
    got = _png_decode(
        _encode_png_ext(4, 5, [v * 257 for v in ra], 6, bit=16, interlace=1)
    )
    assert got == (4, 5, bytes(ra), 4)

    # 1/2/4-bit grayscale: range expansion (0..mask -> 0..255)
    for bit in (1, 2, 4):
        mask = (1 << bit) - 1
        g = [(r + x) % (mask + 1) for r in range(3) for x in range(7)]
        want = bytes((v * 255) // mask for v in g)
        assert _png_decode(_encode_png_ext(7, 3, g, 0, bit=bit)) == (7, 3, want, 1)


def _encode_jpeg(w, h, rgb, subsample=(1, 1), restart=0, q_luma=16, q_chroma=16):
    """Minimal baseline-JPEG writer used to prove the stdlib+numpy decoder
    on REAL spec-conformant streams. Independent implementation: its own
    FDCT basis, fixed-length canonical Huffman tables (12 DC symbols at 4
    bits, 162 AC symbols at 8 bits — valid Kraft sums), flat quant tables,
    4:4:4 or 4:2:0 (box-average chroma), optional restart markers.
    ``rgb=None`` with 1 channel via the ``gray`` kwarg path below."""
    import struct as st

    import numpy as np

    hs, vs = subsample
    grayscale = rgb.ndim == 2
    # --- color convert + plane extraction (JFIF YCbCr) ----------------
    if grayscale:
        planes = [rgb.astype(np.float64)]
        comps = [(1, 1, 1, 0)]
    else:
        r, g, b = (rgb[..., i].astype(np.float64) for i in range(3))
        y = 0.299 * r + 0.587 * g + 0.114 * b
        cb = 128.0 - 0.168736 * r - 0.331264 * g + 0.5 * b
        cr = 128.0 + 0.5 * r - 0.418688 * g - 0.081312 * b
        planes = [y, cb, cr]
        comps = [(1, hs, vs, 0), (2, 1, 1, 1), (3, 1, 1, 1)]

    hmax = max(c[1] for c in comps)
    vmax = max(c[2] for c in comps)
    mcux, mcuy = -(-w // (8 * hmax)), -(-h // (8 * vmax))

    def pad_to(p, ph, pw):
        return np.pad(p, ((0, ph - p.shape[0]), (0, pw - p.shape[1])), mode="edge")

    prepped = []
    for ci, (_, ch, cv, _) in enumerate(comps):
        p = planes[ci]
        if ci > 0 and (hmax // ch > 1 or vmax // cv > 1):  # box-average chroma
            fy, fx = vmax // cv, hmax // ch
            p = pad_to(p, -(-p.shape[0] // fy) * fy, -(-p.shape[1] // fx) * fx)
            p = p.reshape(p.shape[0] // fy, fy, p.shape[1] // fx, fx).mean((1, 3))
        prepped.append(pad_to(p, mcuy * cv * 8, mcux * ch * 8) - 128.0)

    # --- FDCT + quantize ----------------------------------------------
    xs = np.arange(8)
    B = 0.5 * np.cos((2 * xs[None, :] + 1) * xs[:, None] * np.pi / 16)
    B[0] *= 1 / np.sqrt(2)
    qts = [np.full((8, 8), q_luma, np.int32), np.full((8, 8), q_chroma, np.int32)]
    coeffs = []
    for ci, (_, ch, cv, tq) in enumerate(comps):
        p = prepped[ci]
        by, bx = p.shape[0] // 8, p.shape[1] // 8
        blocks = p.reshape(by, 8, bx, 8).transpose(0, 2, 1, 3)
        F = np.einsum("ux,nmxy,vy->nmuv", B, blocks, B)
        coeffs.append(np.rint(F / qts[tq]).astype(np.int64))

    # --- fixed-length canonical Huffman tables --------------------------
    dc_syms = list(range(12))  # all 4-bit codes
    ac_syms = [0x00, 0xF0] + [(rr << 4) | ss for rr in range(16) for ss in range(1, 11)]
    ac_codes = {s: (i, 8) for i, s in enumerate(ac_syms)}  # all 8-bit codes
    dc_codes = {s: (i, 4) for i, s in enumerate(dc_syms)}

    zig = [
        0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
        12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
        35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
        58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
    ]

    class BitWriter:
        def __init__(self):
            self.out, self.acc, self.n = bytearray(), 0, 0

        def write(self, code, length):
            for i in range(length - 1, -1, -1):
                self.acc = (self.acc << 1) | ((code >> i) & 1)
                self.n += 1
                if self.n == 8:
                    self.out.append(self.acc)
                    if self.acc == 0xFF:
                        self.out.append(0x00)  # byte stuffing
                    self.acc, self.n = 0, 0

        def flush(self):
            while self.n:
                self.write(1, 1)  # pad with 1-bits
            return bytes(self.out)

    def magnitude(v):
        s, a = 0, abs(v)
        while a:
            s, a = s + 1, a >> 1
        return s, (v if v >= 0 else v + (1 << s) - 1)

    def encode_block(bw, blk, pred, dc_t, ac_t):
        seq = blk.reshape(64)[zig]
        s, bits = magnitude(int(seq[0]) - pred)
        bw.write(*dc_t[s])
        bw.write(bits, s)
        run = 0
        nz = np.nonzero(seq[1:])[0]
        last = nz[-1] + 1 if len(nz) else 0
        for k in range(1, last + 1):
            v = int(seq[k])
            if v == 0:
                run += 1
                continue
            while run > 15:
                bw.write(*ac_t[0xF0])
                run -= 16
            s, bits = magnitude(v)
            bw.write(*ac_t[(run << 4) | s])
            bw.write(bits, s)
            run = 0
        if last < 63:
            bw.write(*ac_t[0x00])  # EOB
        return int(seq[0])

    # --- entropy-coded scan, MCU-interleaved, optional restarts ---------
    chunks, bw = [], BitWriter()
    preds = [0] * len(comps)
    n_mcu, emitted = mcux * mcuy, 0
    for mcu in range(n_mcu):
        if restart and mcu and mcu % restart == 0:
            chunks.append(bw.flush())
            chunks.append(bytes([0xFF, 0xD0 + (emitted % 8)]))
            emitted += 1
            bw, preds = BitWriter(), [0] * len(comps)
        my, mx = divmod(mcu, mcux)
        for ci, (_, ch, cv, _) in enumerate(comps):
            for by in range(cv):
                for bx in range(ch):
                    blk = coeffs[ci][my * cv + by, mx * ch + bx]
                    preds[ci] = encode_block(bw, blk, preds[ci], dc_codes, ac_codes)
    chunks.append(bw.flush())
    scan_data = b"".join(chunks)

    # --- markers ---------------------------------------------------------
    def seg(marker, payload):
        return bytes([0xFF, marker]) + st.pack(">H", len(payload) + 2) + payload

    def dqt(tq, q):
        return seg(0xDB, bytes([tq]) + bytes(int(q[z // 8, z % 8]) for z in zig))

    def dht(tc, th, syms, length):
        counts = [0] * 16
        counts[length - 1] = len(syms)
        return seg(0xC4, bytes([tc << 4 | th]) + bytes(counts) + bytes(syms))

    sof = bytes([8]) + st.pack(">HH", h, w) + bytes([len(comps)])
    for cid, ch, cv, tq in comps:
        sof += bytes([cid, (ch << 4) | cv, tq])
    sos = bytes([len(comps)])
    for ci, (cid, _, _, tq) in enumerate(comps):
        sos += bytes([cid, (tq << 4) | tq])  # DC/AC table = quant table id
    sos += bytes([0, 63, 0])

    out = b"\xff\xd8" + dqt(0, qts[0])
    if not grayscale:
        out += dqt(1, qts[1])
    out += dht(0, 0, dc_syms, 4) + dht(1, 0, ac_syms, 8)
    if not grayscale:
        out += dht(0, 1, dc_syms, 4) + dht(1, 1, ac_syms, 8)
    if restart:
        out += seg(0xDD, st.pack(">H", restart))
    out += seg(0xC0, sof) + seg(0xDA, sos) + scan_data + b"\xff\xd9"
    return out


def _encode_jpeg_progressive(w, h, rgb, subsample=(1, 1), restart=0,
                             dc_al=1, ac_al=(1, 0), band_split=6,
                             q_luma=16, q_chroma=16):
    """Minimal progressive-JPEG (SOF2) writer used to prove the stdlib
    decoder on REAL spec-conformant multi-scan streams. Independent
    implementation (shares only the FDCT/quant idea with the sequential
    writer): scan script = interleaved DC first at Al=dc_al + one DC
    refinement bit scan per level, then per-component AC band scans
    (comp 0 split at ``band_split``) at Al=ac_al[0] with EOBn run coding,
    then AC refinement scans down the ac_al ladder with T.81 G.1.2.2/3
    correction-bit buffering. DC point transform is an arithmetic shift,
    AC is magnitude truncation, so first+refinements reconstruct the
    quantized coefficients EXACTLY — progressive decode must equal the
    baseline decode of the same image bit-for-bit. ``restart`` (MCUs)
    applies to the interleaved DC-first scan."""
    import struct as st

    import numpy as np

    hs, vs = subsample
    grayscale = rgb.ndim == 2
    if grayscale:
        planes = [rgb.astype(np.float64)]
        comps = [(1, 1, 1, 0)]
    else:
        r, g, b = (rgb[..., i].astype(np.float64) for i in range(3))
        y = 0.299 * r + 0.587 * g + 0.114 * b
        cb = 128.0 - 0.168736 * r - 0.331264 * g + 0.5 * b
        cr = 128.0 + 0.5 * r - 0.418688 * g - 0.081312 * b
        planes = [y, cb, cr]
        comps = [(1, hs, vs, 0), (2, 1, 1, 1), (3, 1, 1, 1)]

    hmax = max(c[1] for c in comps)
    vmax = max(c[2] for c in comps)
    mcux, mcuy = -(-w // (8 * hmax)), -(-h // (8 * vmax))

    def pad_to(p, ph, pw):
        return np.pad(p, ((0, ph - p.shape[0]), (0, pw - p.shape[1])), mode="edge")

    prepped = []
    for ci, (_, ch, cv, _) in enumerate(comps):
        p = planes[ci]
        if ci > 0 and (hmax // ch > 1 or vmax // cv > 1):
            fy, fx = vmax // cv, hmax // ch
            p = pad_to(p, -(-p.shape[0] // fy) * fy, -(-p.shape[1] // fx) * fx)
            p = p.reshape(p.shape[0] // fy, fy, p.shape[1] // fx, fx).mean((1, 3))
        prepped.append(pad_to(p, mcuy * cv * 8, mcux * ch * 8) - 128.0)

    xs = np.arange(8)
    B = 0.5 * np.cos((2 * xs[None, :] + 1) * xs[:, None] * np.pi / 16)
    B[0] *= 1 / np.sqrt(2)
    qts = [np.full((8, 8), q_luma, np.int32), np.full((8, 8), q_chroma, np.int32)]
    zig = [
        0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
        12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
        35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
        58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
    ]
    coeffs = []  # per comp: (nby, nbx, 64) int zigzag-order quantized
    for ci, (_, ch, cv, tq) in enumerate(comps):
        p = prepped[ci]
        by, bx = p.shape[0] // 8, p.shape[1] // 8
        blocks = p.reshape(by, 8, bx, 8).transpose(0, 2, 1, 3)
        F = np.einsum("ux,nmxy,vy->nmuv", B, blocks, B)
        q = np.rint(F / qts[tq]).astype(np.int64).reshape(by, bx, 64)
        coeffs.append(q[..., zig])  # zigzag-order coefficients

    class BitWriter:
        def __init__(self):
            self.out, self.acc, self.n = bytearray(), 0, 0

        def write(self, code, length):
            for i in range(length - 1, -1, -1):
                self.acc = (self.acc << 1) | ((code >> i) & 1)
                self.n += 1
                if self.n == 8:
                    self.out.append(self.acc)
                    if self.acc == 0xFF:
                        self.out.append(0x00)
                    self.acc, self.n = 0, 0

        def flush(self):
            while self.n:
                self.write(1, 1)
            return bytes(self.out)

    def magnitude(v):
        s, a = 0, abs(v)
        while a:
            s, a = s + 1, a >> 1
        return s, (v if v >= 0 else v + (1 << s) - 1)

    def trunc(v, al):  # AC point transform: truncate toward zero
        return (abs(v) >> al) * (1 if v >= 0 else -1)

    # fixed-length canonical tables (valid Kraft sums < 1)
    dc_syms = list(range(12))
    dc_codes = {s: (i, 4) for i, s in enumerate(dc_syms)}
    acf_syms = [rr << 4 for rr in range(15)] + [0xF0] + \
               [(rr << 4) | ss for rr in range(16) for ss in range(1, 11)]
    acf_codes = {s: (i, 8) for i, s in enumerate(acf_syms)}
    acr_syms = [rr << 4 for rr in range(15)] + [0xF0] + \
               [(rr << 4) | 1 for rr in range(16)]
    acr_codes = {s: (i, 6) for i, s in enumerate(acr_syms)}

    # ---- scan emitters --------------------------------------------------
    def comp_grid(ci):
        _, ch, cv, _ = comps[ci]
        cw, chh = -(-(w * ch) // hmax), -(-(h * cv) // vmax)
        return -(-cw // 8), -(-chh // 8)

    def dc_first_scan(al):
        chunks, bw = [], BitWriter()
        preds, emitted = [0] * len(comps), 0
        for mcu in range(mcux * mcuy):
            if restart and mcu and mcu % restart == 0:
                chunks.append(bw.flush())
                chunks.append(bytes([0xFF, 0xD0 + (emitted % 8)]))
                emitted += 1
                bw, preds = BitWriter(), [0] * len(comps)
            my, mx = divmod(mcu, mcux)
            for ci, (_, ch, cv, _) in enumerate(comps):
                for by in range(cv):
                    for bx in range(ch):
                        tdc = int(coeffs[ci][my * cv + by, mx * ch + bx, 0]) >> al
                        s, bits = magnitude(tdc - preds[ci])
                        bw.write(*dc_codes[s])
                        bw.write(bits, s)
                        preds[ci] = tdc
        chunks.append(bw.flush())
        return b"".join(chunks)

    def dc_refine_scan(al):
        bw = BitWriter()
        for mcu in range(mcux * mcuy):
            my, mx = divmod(mcu, mcux)
            for ci, (_, ch, cv, _) in enumerate(comps):
                for by in range(cv):
                    for bx in range(ch):
                        bw.write((int(coeffs[ci][my * cv + by, mx * ch + bx, 0]) >> al) & 1, 1)
        return bw.flush()

    class EobState:
        def __init__(self):
            self.run, self.bits = 0, []

    def flush_eob(bw, st_, codes):
        if st_.run:
            r = st_.run.bit_length() - 1
            bw.write(*codes[r << 4])
            if r:
                bw.write(st_.run - (1 << r), r)
        for bit in st_.bits:
            bw.write(bit, 1)
        st_.run, st_.bits = 0, []

    def ac_first_scan(ci, b0, b1, al):
        bw, st_ = BitWriter(), EobState()
        bwid, bhei = comp_grid(ci)
        for unit in range(bwid * bhei):
            by, bx = divmod(unit, bwid)
            seq = coeffs[ci][by, bx]
            t = [trunc(int(seq[k]), al) for k in range(b0, b1 + 1)]
            nz = [j for j, v in enumerate(t) if v]
            if not nz:
                st_.run += 1
                continue
            flush_eob(bw, st_, acf_codes)
            run = 0
            for j in range(nz[-1] + 1):
                if t[j] == 0:
                    run += 1
                    continue
                while run > 15:
                    bw.write(*acf_codes[0xF0])
                    run -= 16
                s, bits = magnitude(t[j])
                bw.write(*acf_codes[(run << 4) | s])
                bw.write(bits, s)
                run = 0
            if nz[-1] < len(t) - 1:
                st_.run += 1
        flush_eob(bw, st_, acf_codes)
        return bw.flush()

    def ac_refine_scan(ci, b0, b1, al):
        bw, st_ = BitWriter(), EobState()
        bwid, bhei = comp_grid(ci)
        for unit in range(bwid * bhei):
            by, bx = divmod(unit, bwid)
            seq = coeffs[ci][by, bx]
            t = [trunc(int(seq[k]), al) for k in range(b0, b1 + 1)]
            hist = [trunc(int(seq[k]), al + 1) for k in range(b0, b1 + 1)]
            newly = [j for j in range(len(t)) if hist[j] == 0 and t[j] != 0]
            if not newly:
                st_.run += 1
                st_.bits.extend(abs(t[j]) & 1 for j in range(len(t)) if hist[j])
                continue
            flush_eob(bw, st_, acr_codes)
            run, pend = 0, []
            for j in range(newly[-1] + 1):
                if t[j] == 0 and not hist[j]:
                    run += 1
                    continue
                # ZRLs flush LAZILY at the next significant position
                # (correction OR newly nonzero) so each ZRL carries only
                # the correction bits the decoder reads while advancing
                # through its 16-zero span (T.81 G.1.2.3 bit ordering)
                while run > 15:
                    bw.write(*acr_codes[0xF0])
                    run -= 16
                    for bit in pend:
                        bw.write(bit, 1)
                    pend = []
                if hist[j]:
                    pend.append(abs(t[j]) & 1)
                    continue
                bw.write(*acr_codes[(run << 4) | 1])
                bw.write(1 if t[j] > 0 else 0, 1)
                for bit in pend:
                    bw.write(bit, 1)
                run, pend = 0, []
            if newly[-1] < len(t) - 1:
                st_.run += 1
                st_.bits.extend(
                    abs(t[j]) & 1 for j in range(newly[-1] + 1, len(t)) if hist[j]
                )
        flush_eob(bw, st_, acr_codes)
        return bw.flush()

    # ---- scan script ----------------------------------------------------
    bands = {ci: ([(1, band_split - 1), (band_split, 63)] if ci == 0 else [(1, 63)])
             for ci in range(len(comps))}
    scans = []  # (scomps, ss, se, ah, al, table_th, data)
    scans.append(([ci for ci in range(len(comps))], 0, 0, 0, dc_al,
                  0, dc_first_scan(dc_al)))
    for ci in range(len(comps)):
        for b0, b1 in bands[ci]:
            scans.append(([ci], b0, b1, 0, ac_al[0], 0, ac_first_scan(ci, b0, b1, ac_al[0])))
    for al in range(dc_al - 1, -1, -1):
        scans.append(([ci for ci in range(len(comps))], 0, 0, al + 1, al,
                      0, dc_refine_scan(al)))
    for a_prev, a in zip(ac_al, ac_al[1:]):
        for ci in range(len(comps)):
            for b0, b1 in bands[ci]:
                scans.append(([ci], b0, b1, a_prev, a, 1, ac_refine_scan(ci, b0, b1, a)))

    # ---- markers ----------------------------------------------------------
    def seg(marker, payload):
        return bytes([0xFF, marker]) + st.pack(">H", len(payload) + 2) + payload

    def dqt(tq, q):
        return seg(0xDB, bytes([tq]) + bytes(int(q[z // 8, z % 8]) for z in zig))

    def dht(tc, th, syms, length):
        counts = [0] * 16
        counts[length - 1] = len(syms)
        return seg(0xC4, bytes([tc << 4 | th]) + bytes(counts) + bytes(syms))

    sof = bytes([8]) + st.pack(">HH", h, w) + bytes([len(comps)])
    for cid, ch, cv, tq in comps:
        sof += bytes([cid, (ch << 4) | cv, tq])

    out = b"\xff\xd8" + dqt(0, qts[0])
    if not grayscale:
        out += dqt(1, qts[1])
    out += dht(0, 0, dc_syms, 4) + dht(1, 0, acf_syms, 8) + dht(1, 1, acr_syms, 6)
    out += seg(0xC2, sof)
    for si, (scomps, ss, se, ah, al, th, data) in enumerate(scans):
        if restart and si == 0:
            out += seg(0xDD, st.pack(">H", restart))  # DC scan only
        elif restart and si == 1:
            out += seg(0xDD, st.pack(">H", 0))  # DRI persists: reset it
        # component byte packs (td << 4) | ta; td (=0) only read in DC scans
        sos = bytes([len(scomps)]) + b"".join(
            bytes([comps[ci][0], th]) for ci in scomps
        )
        sos += bytes([ss, se, (ah << 4) | al])
        out += seg(0xDA, sos) + data
    return out + b"\xff\xd9"


def test_jpeg_stdlib_raster_decode(spark):
    """Baseline JPEGs decode for REAL in this container (no Pillow):
    flat-gray images round-trip EXACTLY (DC-only blocks are analytic),
    smooth gradients round-trip within quantization error, for 4:4:4,
    4:2:0, grayscale and restart-marker streams; malformed SOF2 scan
    headers return None (real progressive: test_jpeg_progressive_decode)."""
    import numpy as np

    from cugraph_spark.pipelines.multimodal import (
        _jpeg_decode,
        _pixel_feature,
        decode_images,
    )

    # 1) flat gray, v-128 even -> analytic exactness (DC = 8*(v-128),
    #    quant 16 divides evenly, chroma exactly 128)
    v = 150
    flat = np.full((16, 16, 3), v, np.uint8)
    got = _jpeg_decode(_encode_jpeg(16, 16, flat, subsample=(2, 2)))
    assert got is not None and (got[0], got[1], got[3]) == (16, 16, 3)
    arr = np.frombuffer(got[2], np.uint8).reshape(16, 16, 3)
    assert (arr == v).all()

    # 2) smooth color gradient, 4:4:4 and 4:2:0, non-multiple-of-16 dims
    yy, xx = np.mgrid[0:21, 0:37]
    rgb = np.stack(
        [
            128 + 90 * np.sin(xx / 12.0),
            128 + 90 * np.cos(yy / 9.0),
            128 + 60 * np.sin((xx + yy) / 15.0),
        ],
        axis=-1,
    ).clip(0, 255).astype(np.uint8)
    for sub in ((1, 1), (2, 2)):
        got = _jpeg_decode(_encode_jpeg(37, 21, rgb, subsample=sub))
        assert got is not None and (got[0], got[1], got[3]) == (37, 21, 3)
        arr = np.frombuffer(got[2], np.uint8).reshape(21, 37, 3).astype(np.int32)
        err = np.abs(arr - rgb.astype(np.int32))
        # quant step 16 bounds the luma error; 4:2:0 adds chroma averaging
        # (measured: mean 1.97/2.84, max 9/14 for 4:4:4 / 4:2:0)
        assert err.mean() < 5 and err.max() < 25, (sub, err.mean(), err.max())

    # 3) restart markers must not change the decode
    with_rst = _jpeg_decode(_encode_jpeg(37, 21, rgb, subsample=(2, 2), restart=1))
    without = _jpeg_decode(_encode_jpeg(37, 21, rgb, subsample=(2, 2)))
    assert with_rst == without

    # 4) single-component grayscale
    gray = (yy * 7 + xx * 3).astype(np.uint8)
    got = _jpeg_decode(_encode_jpeg(37, 21, gray))
    assert got is not None and (got[0], got[1], got[3]) == (37, 21, 1)
    g = np.frombuffer(got[2], np.uint8).reshape(21, 37).astype(np.int32)
    assert np.abs(g - gray.astype(np.int32)).mean() < 4  # measured 1.18

    # 5) a baseline stream relabeled SOF2 is ILLEGAL progressive (T.81
    #    B.2.3: Ss=0 requires Se=0) -> None, not a misparse. Real
    #    progressive streams are covered by test_jpeg_progressive_decode.
    baseline = _encode_jpeg(16, 16, flat, subsample=(1, 1))
    progressive = baseline.replace(b"\xff\xc0", b"\xff\xc2", 1)
    assert _jpeg_decode(progressive) is None

    # 6) end-to-end through the Arrow-batched mapInPandas stage: REAL
    #    format + REAL pixel features for baseline AND progressive
    df = spark.createDataFrame(
        [(1, bytearray(_encode_jpeg(16, 16, flat, subsample=(2, 2)))),
         (2, bytearray(_encode_jpeg_progressive(16, 16, flat)))],
        "media_id long, payload binary",
    )
    out = {r["media_id"]: r for r in decode_images(df).collect()}
    assert (out[1]["width"], out[1]["height"], out[1]["format"]) == (16, 16, "jpeg")
    flat_bytes = bytes([v] * (16 * 16 * 3))
    assert out[1]["feature"] == pytest.approx(_pixel_feature(flat_bytes, 3), abs=1e-6)
    # progressive decodes for REAL too: same flat image, same feature
    assert (out[2]["width"], out[2]["height"], out[2]["format"]) == (16, 16, "jpeg")
    assert out[2]["feature"] == pytest.approx(_pixel_feature(flat_bytes, 3), abs=1e-6)


def _encode_gif(w, h, idx, palette, interlace=False):
    """Minimal GIF89a writer for decoder tests: constant-width LZW codes
    with a CLEAR emitted before the dictionary would force a width
    change (the classic 'uncompressed GIF' trick — spec-conformant
    output every decoder must accept). ``idx`` is row-major palette
    indices; ``palette`` packed RGB."""
    import struct as st

    n_colors = len(palette) // 3
    min_code = max(2, (n_colors - 1).bit_length())
    clear, eoi = 1 << min_code, (1 << min_code) + 1
    width = min_code + 1

    rows = list(range(h))
    if interlace:
        rows = (
            list(range(0, h, 8)) + list(range(4, h, 8))
            + list(range(2, h, 4)) + list(range(1, h, 2))
        )
    codes = [clear]
    since_clear = 0
    for r in rows:
        for x in range(w):
            codes.append(idx[r * w + x])
            since_clear += 1
            if since_clear == (1 << min_code) - 2:
                codes.append(clear)
                since_clear = 0
    codes.append(eoi)

    acc = bits = 0
    packed = bytearray()
    for c in codes:
        acc |= c << bits
        bits += width
        while bits >= 8:
            packed.append(acc & 0xFF)
            acc >>= 8
            bits -= 8
    if bits:
        packed.append(acc & 0xFF)

    gct_bits = max((n_colors - 1).bit_length(), 1)
    pal = palette + bytes(3 * ((2 << (gct_bits - 1)) * 2 // 2 - n_colors))
    out = bytearray(b"GIF89a")
    out += st.pack("<HH", w, h) + bytes([0x80 | (gct_bits - 1), 0, 0]) + pal
    out += b"\x21\xf9\x04\x00\x00\x00\x00\x00"  # graphic control ext (no-op)
    out += b"\x2c" + st.pack("<HHHH", 0, 0, w, h)
    out += bytes([0x40 if interlace else 0x00, min_code])
    for i in range(0, len(packed), 255):
        chunk = packed[i : i + 255]
        out += bytes([len(chunk)]) + chunk
    out += b"\x00\x3b"
    return bytes(out)


def _gif_lzw_pack(idx_bytes, n_colors):
    """Constant-width LZW pack (clear before width change) + min_code."""
    min_code = max(2, (n_colors - 1).bit_length())
    clear, eoi = 1 << min_code, (1 << min_code) + 1
    width = min_code + 1
    codes = [clear]
    since = 0
    for c in idx_bytes:
        codes.append(c)
        since += 1
        if since == (1 << min_code) - 2:
            codes.append(clear)
            since = 0
    codes.append(eoi)
    acc = bits = 0
    packed = bytearray()
    for c in codes:
        acc |= c << bits
        bits += width
        while bits >= 8:
            packed.append(acc & 0xFF)
            acc >>= 8
            bits -= 8
    if bits:
        packed.append(acc & 0xFF)
    return min_code, bytes(packed)


def _encode_animated_gif(cw, ch, palette, frames, bg_idx=0):
    """Hand-built multi-frame GIF89a: ``frames`` is a list of dicts with
    x, y, w, h, idx (row-major palette indices), delay_cs, disposal,
    trans (transparent index or None)."""
    import struct as st

    n_colors = len(palette) // 3
    gct_bits = max((n_colors - 1).bit_length(), 1)
    pal = palette + bytes(3 * ((2 << (gct_bits - 1)) - n_colors))
    out = bytearray(b"GIF89a")
    out += st.pack("<HH", cw, ch) + bytes([0x80 | (gct_bits - 1), bg_idx, 0]) + pal
    for f in frames:
        pf = (f.get("disposal", 0) & 0x7) << 2 | (1 if f.get("trans") is not None else 0)
        out += b"\x21\xf9\x04" + bytes([pf]) + st.pack("<H", f.get("delay_cs", 0))
        out += bytes([f.get("trans") or 0, 0])
        out += b"\x2c" + st.pack("<HHHH", f["x"], f["y"], f["w"], f["h"]) + b"\x00"
        min_code, packed = _gif_lzw_pack(bytes(f["idx"]), n_colors)
        out += bytes([min_code])
        for i in range(0, len(packed), 255):
            chunk = packed[i : i + 255]
            out += bytes([len(chunk)]) + chunk
        out += b"\x00"
    out += b"\x3b"
    return bytes(out)


def test_gif_animation_frames_compositing(spark):
    """Animated GIF frames composite with full GIF89a semantics: frame
    rect offsets, transparency holes, disposal 2 (restore-to-background)
    and 3 (restore-to-previous), and duration from summed delays —
    including delays of frames beyond max_frames (timing-only scan)."""
    from cugraph_spark.pipelines.multimodal import _gif_frames, decode_videos

    pal = bytes([255, 0, 0,  0, 255, 0,  0, 0, 255,  9, 9, 9])  # R G B bg
    cw, ch = 4, 3
    # frame 1: full canvas of RED, disposal 3 (restore previous after)
    f1 = dict(x=0, y=0, w=4, h=3, idx=[0] * 12, delay_cs=10, disposal=3, trans=None)
    # frame 2: 2x1 GREEN rect at (1,1) with one transparent px, disposal 2
    f2 = dict(x=1, y=1, w=2, h=1, idx=[1, 3], delay_cs=20, disposal=2, trans=3)
    # frame 3: 1x1 BLUE at (0,0), never materialized (max_frames=2) but
    # its delay must still count
    f3 = dict(x=0, y=0, w=1, h=1, idx=[2], delay_cs=30, disposal=0, trans=None)
    gif = _encode_animated_gif(cw, ch, pal, [f1, f2, f3], bg_idx=3)

    frames, dur = _gif_frames(gif, max_frames=2)
    assert len(frames) == 2
    assert dur == pytest.approx(0.6)  # (10+20+30) cs
    w, h, rgb1, nch = frames[0]
    assert (w, h, nch) == (cw, ch, 3)
    assert rgb1 == bytes([255, 0, 0] * 12)  # all red
    # frame 2 canvas: disposal 3 on frame 1 applies AFTER frame 1's
    # snapshot, i.e. frame 2 composites onto the RESTORED (background)
    # canvas, then draws GREEN at (1,1); its second px is transparent
    _, _, rgb2, _ = frames[1]
    exp = bytearray(bytes([9, 9, 9]) * 12)
    exp[(1 * cw + 1) * 3 : (1 * cw + 1) * 3 + 3] = bytes([0, 255, 0])
    assert rgb2 == bytes(exp)

    # disposal 2: after a frame, its rect resets to background
    g2 = _encode_animated_gif(
        cw, ch, pal,
        [dict(x=0, y=0, w=4, h=3, idx=[0] * 12, delay_cs=5, disposal=2, trans=None),
         dict(x=3, y=2, w=1, h=1, idx=[1], delay_cs=5, disposal=0, trans=None)],
        bg_idx=3,
    )
    fr2, _ = _gif_frames(g2, max_frames=2)
    exp2 = bytearray(bytes([9, 9, 9]) * 12)  # rect restored to bg...
    exp2[(2 * cw + 3) * 3 : (2 * cw + 3) * 3 + 3] = bytes([0, 255, 0])  # ...then green px
    assert fr2[1][2] == bytes(exp2)

    # decode_videos wiring: animated GIF = real video (format, dims,
    # duration from delays, pixel feature from the composited frame)
    df = spark.createDataFrame([(7, bytearray(gif))], "media_id long, payload binary")
    row = {r["media_id"]: r for r in decode_videos(df).collect()}[7]
    assert (row["width"], row["height"], row["format"]) == (cw, ch, "gif")
    assert row["duration_s"] == pytest.approx(0.6)


def test_gif_stdlib_raster_decode(spark):
    """GIFs decode for REAL in this container (no Pillow): LZW stream,
    palette lookup and deinterlace all verified against known pixels,
    end-to-end through the mapInPandas stage."""
    import numpy as np

    from cugraph_spark.pipelines.multimodal import (
        _gif_decode,
        _pixel_feature,
        decode_images,
    )

    palette = bytes(
        [255, 0, 0, 0, 255, 0, 0, 0, 255, 255, 255, 255]
    )  # R G B W
    w, h = 6, 5
    idx = bytes((r + x) % 4 for r in range(h) for x in range(w))
    expected = b"".join(palette[3 * i : 3 * i + 3] for i in idx)

    got = _gif_decode(_encode_gif(w, h, idx, palette))
    assert got == (w, h, expected, 3)

    # interlaced rows must come back in natural order
    got_i = _gif_decode(_encode_gif(w, h, idx, palette, interlace=True))
    assert got_i == (w, h, expected, 3)

    # a bigger image exercises dictionary growth across CLEAR boundaries
    w2, h2 = 31, 17
    idx2 = bytes((r * x * 7 + x) % 4 for r in range(h2) for x in range(w2))
    exp2 = b"".join(palette[3 * i : 3 * i + 3] for i in idx2)
    assert _gif_decode(_encode_gif(w2, h2, idx2, palette)) == (w2, h2, exp2, 3)

    # end-to-end: REAL pixel features through decode_images
    df = spark.createDataFrame(
        [(1, bytearray(_encode_gif(w, h, idx, palette)))],
        "media_id long, payload binary",
    )
    out = {r["media_id"]: r for r in decode_images(df).collect()}
    assert (out[1]["width"], out[1]["height"], out[1]["format"]) == (w, h, "gif")
    assert out[1]["feature"] == pytest.approx(_pixel_feature(expected, 3), abs=1e-6)


def _box(typ, payload):
    import struct as st

    return st.pack(">I", len(payload) + 8) + typ + payload


def test_video_container_metadata(spark):
    """MP4/MOV and AVI container metadata decodes for REAL (box/chunk
    walk, both mvhd/tkhd versions); frame pixels stay stubbed; the
    decoded duration feeds sample_video_frames end-to-end."""
    import struct as st

    from cugraph_spark.pipelines.multimodal import (
        decode_videos,
        parse_video_header,
        sample_video_frames,
    )

    # MP4, version-0 headers: timescale 600, duration 1500 -> 2.5s; 320x240
    mvhd0 = _box(b"mvhd", bytes(12) + st.pack(">II", 600, 1500) + bytes(80))
    tkhd0 = _box(
        b"tkhd", bytes(76) + st.pack(">II", 320 << 16, 240 << 16) + bytes(4)
    )
    trak0 = _box(b"trak", tkhd0)
    mp4 = _box(b"ftyp", b"isom\x00\x00\x02\x00isom") + _box(b"moov", mvhd0 + trak0)
    assert parse_video_header(mp4) == (320, 240, 2.5, "mp4")

    # MOV brand + version-1 headers (64-bit duration): 90000/225000 -> 2.5s
    mvhd1 = _box(
        b"mvhd", b"\x01" + bytes(19) + st.pack(">IQ", 90000, 225000) + bytes(80)
    )
    tkhd1 = _box(
        b"tkhd",
        b"\x01" + bytes(87) + st.pack(">II", 1920 << 16, 1080 << 16) + bytes(4),
    )
    mov = _box(b"ftyp", b"qt  \x00\x00\x02\x00qt  ") + _box(
        b"moov", mvhd1 + _box(b"trak", tkhd1)
    )
    assert parse_video_header(mov) == (1920, 1080, 2.5, "mov")

    # audio-only track (0x0 dims) must not clobber the video track's dims
    atrak = _box(b"trak", _box(b"tkhd", bytes(76) + st.pack(">II", 0, 0) + bytes(4)))
    mp4_av = _box(b"ftyp", b"mp42\x00\x00\x02\x00mp42") + _box(
        b"moov", mvhd0 + atrak + trak0
    )
    assert parse_video_header(mp4_av) == (320, 240, 2.5, "mp4")

    # AVI: 40ms/frame * 50 frames = 2.0s; 640x480
    avih = b"avih" + st.pack("<I", 56) + st.pack(
        "<IIIII", 40000, 0, 0, 0, 50
    ) + bytes(12) + st.pack("<II", 640, 480) + bytes(16)
    avi = b"RIFF" + st.pack("<I", 4 + len(avih)) + b"AVI " + avih
    assert parse_video_header(avi) == (640, 480, 2.0, "avi")

    assert parse_video_header(b"not-a-video") is None

    # end-to-end: decode metadata, then sample frames off the REAL duration
    df = spark.createDataFrame(
        [(1, bytearray(mp4)), (2, bytearray(avi)), (3, bytearray(b"junk"))],
        "media_id long, payload binary",
    )
    meta = decode_videos(df)
    got = {r["media_id"]: r for r in meta.collect()}
    assert (got[1]["width"], got[1]["height"], got[1]["duration_s"], got[1]["format"]) == (320, 240, 2.5, "mp4")
    assert (got[2]["width"], got[2]["height"], got[2]["format"]) == (640, 480, "avi")
    assert got[3]["format"] == "video-stub"
    frames = sample_video_frames(meta.filter("media_id = 1"), fps=2.0).collect()
    assert len(frames) == 5  # floor(2.5 * 2) frames
    assert sorted(r["ts_s"] for r in frames) == [0.0, 0.5, 1.0, 1.5, 2.0]


def test_pil_feature_gate(monkeypatch):
    """Runtime codec gate: with Pillow installed the compressed-codec
    raster path is real; without it the gate returns None (digest stub
    takes over). The fake-module branch proves the plumbing routes
    through PIL whenever one is present."""
    import cugraph_spark.pipelines.multimodal as mm

    try:
        from PIL import Image  # noqa: F401

        has_pil = True
    except ImportError:
        has_pil = False

    if has_pil:
        import io as _io

        from PIL import Image

        img = Image.new("RGB", (2, 1), (255, 0, 0))
        buf = _io.BytesIO()
        img.save(buf, "PNG")
        ras = mm._pil_decode(buf.getvalue())
        assert ras is not None and (ras[0], ras[1], ras[3]) == (2, 1, 3)
        assert ras[2][:3] == bytes([255, 0, 0])
    else:
        assert mm._PIL_IMAGE is None
        assert mm._pil_decode(b"\x89PNG-junk-payload") is None

    # fake PIL proves the gate wiring independent of the environment
    class _FakeImg:
        size = (2, 1)

        def convert(self, mode):
            assert mode == "RGB"
            return self

        def tobytes(self):
            return bytes([255, 0, 0, 0, 255, 0])

    class _FakeImage:
        @staticmethod
        def open(fp):
            return _FakeImg()

    monkeypatch.setattr(mm, "_PIL_IMAGE", _FakeImage)
    ras = mm._pil_decode(b"anything-noneless")
    assert ras == (2, 1, bytes([255, 0, 0, 0, 255, 0]), 3)
    feat = mm._pixel_feature(ras[2], ras[3])
    assert abs(feat[0] - 0.5) < 1e-6 and abs(feat[1] - 0.5) < 1e-6


def test_stratified_sample(spark):
    from cugraph_spark.pipelines.mixing import stratified_sample

    df = spark.createDataFrame(
        [(i, "a" if i % 2 == 0 else "b") for i in range(200)], ["doc_id", "s"]
    )
    out = stratified_sample(df, "s", {"a": 1.0, "b": 0.0}, seed=3)
    got = out.groupBy("s").count().collect()
    assert {r["s"]: r["count"] for r in got} == {"a": 100}
    # rough rate check + determinism
    half = stratified_sample(df, "s", {"a": 0.5}, seed=3, default_fraction=0.5)
    n1, n2 = half.count(), stratified_sample(df, "s", {"a": 0.5}, seed=3, default_fraction=0.5).count()
    assert n1 == n2 and 60 <= n1 <= 140


def test_token_budget_sample(spark):
    from cugraph_spark.pipelines.mixing import token_budget_sample

    df = spark.createDataFrame(
        [(i, "a", 10) for i in range(10)] + [(100 + i, "b", 10) for i in range(10)],
        ["doc_id", "src", "toks"],
    )
    out = token_budget_sample(
        df, {"a": 25}, strata_col="src", token_col="toks", default_budget=1000
    ).collect()
    by = {}
    for r in out:
        by.setdefault(r["src"], []).append(r["doc_id"])
    # budget 25 at 10 tokens/doc -> 2 full docs + the one crossing = 3
    assert len(by["a"]) == 3
    assert len(by["b"]) == 10  # default budget big enough for all
    # budget smaller than one doc still yields exactly one doc
    tiny = token_budget_sample(
        df, {"a": 5, "b": 5}, strata_col="src", token_col="toks"
    )
    assert tiny.groupBy("src").count().collect()[0]["count"] == 1


def test_paragraph_dedup(spark):
    from cugraph_spark.pipelines.dedup import paragraph_dedup

    rows = [
        (1, "unique one\n\nBOILERPLATE\n\nunique two"),
        (2, "BOILERPLATE\n\nother text"),          # boilerplate repeated
        (3, "BOILERPLATE"),                         # only boilerplate
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r["doc_id"]: r for r in paragraph_dedup(df).collect()}
    assert out[1]["text_dedup"] == rows[0][1]  # first occurrence keeps all
    assert out[1]["n_paras"] == 3 and out[1]["n_kept"] == 3
    assert out[2]["text_dedup"] == "other text"
    assert out[2]["n_kept"] == 1
    assert out[3]["text_dedup"] == "" and out[3]["n_kept"] == 0


def test_random_projection_preserves_similarity(vectors):
    from cugraph_spark.pipelines.similarity_search import random_projection, with_cosine

    proj = random_projection(vectors, "embedding", out_dim=6, seed=5)
    rows = {r["vec_id"]: r["projected"] for r in proj.collect()}
    assert len(rows[0]) == 6
    # identical-direction pair stays identical-direction after projection
    import math

    def cos(a, b):
        num = sum(x * y for x, y in zip(a, b))
        return num / (math.sqrt(sum(x * x for x in a)) * math.sqrt(sum(y * y for y in b)))

    assert cos(rows[0], rows[100]) == pytest.approx(1.0, abs=1e-6)
    # determinism
    again = {r["vec_id"]: r["projected"] for r in
             random_projection(vectors, "embedding", out_dim=6, seed=5).collect()}
    assert rows == again


def test_chunk_documents(spark):
    from cugraph_spark.pipelines.text import chunk_documents

    words = " ".join(f"w{i}" for i in range(10))
    df = spark.createDataFrame([(1, words), (2, "short doc")], ["doc_id", "text"])
    out = chunk_documents(df, max_tokens=4, overlap=1)
    rows = sorted(
        (r["doc_id"], r["chunk_id"], r["chunk_text"], r["n_chunk_tokens"])
        for r in out.collect()
    )
    # stride 3: ceil((10-1)/3) = 3 windows cover all ten tokens
    assert rows[0] == (1, 0, "w0 w1 w2 w3", 4)
    assert rows[1] == (1, 1, "w3 w4 w5 w6", 4)
    assert rows[2] == (1, 2, "w6 w7 w8 w9", 4)
    assert rows[3] == (2, 0, "short doc", 2)
    assert len(rows) == 4
    # overlap: last token of each chunk opens the next
    with pytest.raises(ValueError):
        chunk_documents(df, max_tokens=4, overlap=4)


def test_pack_sequences(spark):
    from cugraph_spark.pipelines.mixing import pack_sequences

    df = spark.createDataFrame(
        [(i, 100) for i in range(20)], ["doc_id", "n_tokens"]
    )
    out = pack_sequences(df, seq_len=256).collect()
    starts = sorted(r["stream_start"] for r in out)
    # exact global prefix: starts are 0, 100, ..., 1900 regardless of order
    assert starts == [i * 100 for i in range(20)]
    by_id = {r["doc_id"]: r for r in out}
    for r in out:
        assert r["bin_id"] == r["stream_start"] // 256
        assert r["bin_offset"] == r["stream_start"] % 256
        assert r["last_bin_id"] == (r["stream_start"] + 99) // 256
    # deterministic across reruns
    again = {r["doc_id"]: r["stream_start"] for r in pack_sequences(df, seq_len=256).collect()}
    assert again == {k: v["stream_start"] for k, v in by_id.items()}


def test_unigram_logprob_scores(spark):
    from cugraph_spark.pipelines.text import unigram_logprob_scores
    import math

    rows = [
        (1, "the the the"),        # most frequent token only
        (2, "the rare"),           # mixed
        (3, ""),                   # empty
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r["doc_id"]: r for r in unigram_logprob_scores(df).collect()}
    # corpus: the x4, rare x1, total 5
    assert out[1]["unigram_logprob"] == pytest.approx(math.log10(4 / 5), abs=1e-6)
    expect2 = (math.log10(4 / 5) + math.log10(1 / 5)) / 2
    assert out[2]["unigram_logprob"] == pytest.approx(expect2, abs=1e-6)
    assert out[1]["unigram_logprob"] > out[2]["unigram_logprob"]
    assert out[3]["n_scored_tokens"] == 0 and out[3]["unigram_logprob"] == 0.0


def test_near_duplicate_clusters(spark):
    from cugraph_spark.pipelines.dedup import near_duplicate_clusters

    base = "the quick brown fox jumps over the lazy dog again and again today"
    other = "completely different content about spark dataframes and shuffles"
    rows = [
        (1, base),
        (2, base),                       # dup of 1
        (3, base + " tiny tail"),        # near dup of 1 -> transitive group
        (4, other),
        (5, other),                      # dup of 4
        (6, "standalone unique text entirely"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r["doc_id"]: r for r in
           near_duplicate_clusters(df, k=3, threshold=0.5).collect()}
    assert out[1]["cluster_id"] == out[2]["cluster_id"] == out[3]["cluster_id"] == 1
    assert out[1]["is_canonical"] and not out[2]["is_canonical"]
    assert out[4]["cluster_id"] == out[5]["cluster_id"] == 4
    assert out[6]["cluster_id"] == 6 and out[6]["is_canonical"]
    kept = [d for d, r in out.items() if r["is_canonical"]]
    assert sorted(kept) == [1, 4, 6]


def test_avi_mjpeg_frame_decode(spark):
    """Motion-JPEG AVI frames decode for REAL: the RIFF walk finds the
    movi LIST, the ##dc chunks run through the stdlib+numpy baseline
    JPEG decoder, and decode_videos' feature comes from actual frame
    pixels (flat-color frames decode exactly), not the digest stub."""
    import struct as st

    import numpy as np

    from cugraph_spark.pipelines.multimodal import (
        _avi_mjpeg_frames,
        _jpeg_decode,
        _pixel_feature,
        decode_videos,
        parse_video_header,
    )

    w, h = 16, 16
    # flat gray (equal channels): chroma exactly 128, DC divides quant 16,
    # so the baseline decode round-trips bit-exactly
    rgb = bytes([150] * (w * h * 3))
    jpeg = _encode_jpeg(w, h, np.full((h, w, 3), 150, np.uint8))

    def chunk(cid, data):
        return cid + st.pack("<I", len(data)) + data + (b"\x00" if len(data) & 1 else b"")

    avih = chunk(
        b"avih",
        st.pack("<IIIII", 40000, 0, 0, 0, 2) + bytes(12) + st.pack("<II", w, h) + bytes(16),
    )
    movi = chunk(b"LIST", b"movi" + chunk(b"00dc", jpeg) + chunk(b"00dc", jpeg))
    body = b"AVI " + chunk(b"LIST", b"hdrl" + avih) + movi
    avi = b"RIFF" + st.pack("<I", len(body)) + body

    assert parse_video_header(avi) == (w, h, 0.08, "avi")
    frames = _avi_mjpeg_frames(avi, max_frames=2)
    assert len(frames) == 2
    fw, fh, raster, nch = frames[0]
    assert (fw, fh, nch) == (w, h, 3)
    assert raster == _jpeg_decode(jpeg)[2]
    # flat-color baseline JPEG round-trips exactly
    assert raster == rgb

    # non-JPEG video chunks (e.g. raw DIB) fall through to no frames
    movi_raw = chunk(b"LIST", b"movi" + chunk(b"00db", b"\x00" * 64))
    body2 = b"AVI " + chunk(b"LIST", b"hdrl" + avih) + movi_raw
    assert _avi_mjpeg_frames(b"RIFF" + st.pack("<I", len(body2)) + body2) == []

    # end-to-end through mapInPandas: REAL pixel feature, not the stub
    df = spark.createDataFrame([(1, bytearray(avi))], "media_id long, payload binary")
    out = decode_videos(df).collect()[0]
    assert (out["width"], out["height"], out["format"]) == (w, h, "avi")
    assert out["feature"] == pytest.approx(_pixel_feature(rgb, 3), abs=1e-6)


# ---------------------------------------------------------------------------
# WEBP lossless (VP8L): spec-conformant self-encoded streams, the same
# strategy the JPEG/GIF/PNG decoder tests use — an independent minimal
# encoder here, the shipped decoder must reconstruct pixels exactly.
# ---------------------------------------------------------------------------


class _VP8LW:
    """LSB-first bit writer; prefix-code bits go MSB-of-code first."""

    def __init__(self):
        self.b = []

    def bits(self, v, n):
        for i in range(n):
            self.b.append((v >> i) & 1)

    def code(self, code, length):
        for i in reversed(range(length)):
            self.b.append((code >> i) & 1)

    def tobytes(self):
        out = bytearray((len(self.b) + 7) // 8)
        for i, bit in enumerate(self.b):
            out[i >> 3] |= bit << (i & 7)
        return bytes(out)


def _vp8l_hufflens(freqs):
    """Huffman code lengths from a {sym: freq} dict (heap-based; test
    alphabets never exceed depth 15)."""
    import heapq

    items = sorted(freqs.items())
    if len(items) == 1:
        return {items[0][0]: 1}
    heap = [(f, i, [s]) for i, (s, f) in enumerate(items)]
    heapq.heapify(heap)
    depth = {s: 0 for s, _ in items}
    n = len(items)
    while len(heap) > 1:
        f1, _, s1 = heapq.heappop(heap)
        f2, _, s2 = heapq.heappop(heap)
        for s in s1 + s2:
            depth[s] += 1
        n += 1
        heapq.heappush(heap, (f1 + f2, n, s1 + s2))
    return depth


def _vp8l_canon_codes(lens):
    """{sym: (code, len)} canonical (shorter first, then symbol order)."""
    out = {}
    code = 0
    prev = None
    for l, s in sorted((l, s) for s, l in lens.items()):
        code = code << (l - (prev if prev is not None else l))
        prev = l
        out[s] = (code, l)
        code += 1
    return out


_CLC_ORDER = (17, 18, 0, 1, 2, 3, 4, 5, 16, 6, 7, 8, 9, 10, 11, 12, 13, 14, 15)


def _vp8l_write_prefix_code(bw, lens, alphabet_size, force_normal=False):
    """Emit one prefix code. Simple form for <=2 sub-256 symbols unless
    force_normal; else the normal code-length-coded form (zero runs via
    17/18)."""
    syms = sorted(lens)
    if not force_normal and len(syms) <= 2 and all(s < 256 for s in syms):
        bw.bits(1, 1)  # simple
        bw.bits(len(syms) - 1, 1)
        first = syms[0]
        if first > 1:
            bw.bits(1, 1)
            bw.bits(first, 8)
        else:
            bw.bits(0, 1)
            bw.bits(first, 1)
        if len(syms) == 2:
            bw.bits(syms[1], 8)
        return {s: (i, 1 if len(syms) == 2 else 0) for i, s in enumerate(syms)}
    bw.bits(0, 1)  # normal
    lengths = [lens.get(s, 0) for s in range(alphabet_size)]
    # RLE the zero runs into 17/18 codes
    seq = []
    i = 0
    while i < len(lengths):
        if lengths[i] == 0:
            j = i
            while j < len(lengths) and lengths[j] == 0:
                j += 1
            run = j - i
            if j == len(lengths):
                break  # trailing zeros are implicit
            while run >= 3:
                take = min(run, 138)
                if take < 11:
                    take = min(run, 10)
                    seq.append((17, take - 3, 3))
                else:
                    seq.append((18, take - 11, 7))
                run -= take
            seq.extend([(0, 0, 0)] * run)
            i = j
        else:
            seq.append((lengths[i], 0, 0))
            i += 1
    # trailing zeros are NOT implicit in VP8L: cap the number of coded
    # length symbols with the explicit max_symbol field (min 2)
    while len(seq) < 2:
        seq.append((0, 0, 0))
    clc_freq = {}
    for s, _, _ in seq:
        clc_freq[s] = clc_freq.get(s, 0) + 1
    if len(clc_freq) == 1:  # give the canonical code a 2nd symbol
        clc_freq[15 if 15 not in clc_freq else 14] = 1
    clc_lens = _vp8l_hufflens(clc_freq)
    clc_codes = _vp8l_canon_codes(clc_lens)
    bw.bits(15, 4)  # num_code_lengths = 19: emit every position
    for s in _CLC_ORDER:
        bw.bits(clc_lens.get(s, 0), 3)
    bw.bits(1, 1)  # explicit max_symbol = len(seq): stop after our codes
    nbits = 2
    while 2 + ((1 << nbits) - 1) < len(seq):
        nbits += 2
    bw.bits((nbits - 2) // 2, 3)
    bw.bits(len(seq) - 2, nbits)
    for s, extra, nbits in seq:
        c, l = clc_codes[s]
        bw.code(c, l)
        if nbits:
            bw.bits(extra, nbits)
    codes = _vp8l_canon_codes(lens)
    if len(lens) == 1:  # decoder reads single-symbol codes with 0 bits
        codes = {s: (0, 0) for s in lens}
    return codes


def _vp8l_prefix_enc(value):
    """Inverse of the decoder's LZ77 prefix value: (code, extra, nbits)."""
    V = value - 1
    if V < 4:
        return V, 0, 0
    eb = V.bit_length() - 2
    b = (V >> eb) - 2
    return 2 * eb + 2 + b, V - ((2 + b) << eb), eb


def _vp8l_emit_entropy_image(bw, w, h, tokens, cache_bits=0, group_of=None,
                             meta_bits=0, meta_pixels=None, level0=False):
    """Entropy-coded image from a token list in scan order. Tokens:
    ('lit', a, r, g, b) / ('cache', idx) / ('copy', len, dist) (dist
    emitted as plain code dist+120) / ('copymap', len, mapcode 1..120).
    group_of(x, y) selects the prefix group; meta_pixels is the already
    token-encoded entropy image (list of ('lit', ...) tokens) when
    meta_bits > 0."""
    if cache_bits:
        bw.bits(1, 1)
        bw.bits(cache_bits, 4)
    else:
        bw.bits(0, 1)
    n_groups = 1
    if meta_bits:
        bw.bits(1, 1)
        bw.bits(meta_bits - 2, 3)
        mw = (w + (1 << meta_bits) - 1) >> meta_bits
        mh = (h + (1 << meta_bits) - 1) >> meta_bits
        _vp8l_emit_entropy_image(bw, mw, mh, meta_pixels)
        n_groups = max((t[2] << 8) | t[3] for t in meta_pixels) + 1
    elif level0:
        bw.bits(0, 1)  # no meta prefix codes
        if group_of is not None:
            raise AssertionError("group_of requires meta_bits")
    if group_of is None:
        group_of = lambda x, y: 0

    cache_size = (1 << cache_bits) if cache_bits else 0
    green_size = 256 + 24 + cache_size
    # frequencies per group
    freqs = [
        [dict() for _ in range(5)] for _ in range(n_groups)
    ]  # green, red, blue, alpha, dist

    def bump(g, which, sym):
        d = freqs[g][which]
        d[sym] = d.get(sym, 0) + 1

    pos = 0
    for t in tokens:
        g = group_of(pos % w, pos // w)
        if t[0] == "lit":
            _, a, r, gr, b = t
            bump(g, 0, gr)
            bump(g, 1, r)
            bump(g, 2, b)
            bump(g, 3, a)
            pos += 1
        elif t[0] == "cache":
            bump(g, 0, 280 + t[1])
            pos += 1
        else:
            code, _, _ = _vp8l_prefix_enc(t[1])
            bump(g, 0, 256 + code)
            dval = t[2] + 120 if t[0] == "copy" else t[2]
            dcode, _, _ = _vp8l_prefix_enc(dval)
            bump(g, 4, dcode)
            pos += t[1]

    group_codes = []
    for g in range(n_groups):
        gc = []
        for which, size in ((0, green_size), (1, 256), (2, 256), (3, 256), (4, 40)):
            f = freqs[g][which]
            if not f:
                f = {0: 1}
            lens = _vp8l_hufflens(f)
            force = any(s >= 256 for s in lens)
            gc.append(_vp8l_write_prefix_code(bw, lens, size, force_normal=force))
        group_codes.append(gc)

    def put(codes, sym):
        c, l = codes[sym]
        bw.code(c, l)

    pos = 0
    for t in tokens:
        gc = group_codes[group_of(pos % w, pos // w)]
        if t[0] == "lit":
            _, a, r, gr, b = t
            put(gc[0], gr)
            put(gc[1], r)
            put(gc[2], b)
            put(gc[3], a)
            pos += 1
        elif t[0] == "cache":
            put(gc[0], 280 + t[1])
            pos += 1
        else:
            code, extra, nbits = _vp8l_prefix_enc(t[1])
            put(gc[0], 256 + code)
            bw.bits(extra, nbits)
            dval = t[2] + 120 if t[0] == "copy" else t[2]
            dcode, dextra, dnbits = _vp8l_prefix_enc(dval)
            put(gc[4], dcode)
            bw.bits(dextra, dnbits)
            pos += t[1]


def _lit(px):
    """ARGB int -> literal token."""
    return ("lit", (px >> 24) & 0xFF, (px >> 16) & 0xFF, (px >> 8) & 0xFF, px & 0xFF)


def _wrap_webp(vp8l_payload):
    import struct as st

    chunk = b"VP8L" + st.pack("<I", len(vp8l_payload)) + vp8l_payload
    if len(vp8l_payload) & 1:
        chunk += b"\x00"
    return b"RIFF" + st.pack("<I", 4 + len(chunk)) + b"WEBP" + chunk


def _encode_vp8l(w, h, argb, alpha_used=0, header_writer=None, tokens=None,
                 cache_bits=0, meta_bits=0, meta_pixels=None, group_of=None):
    bw = _VP8LW()
    bw.bits(w - 1, 14)
    bw.bits(h - 1, 14)
    bw.bits(alpha_used, 1)
    bw.bits(0, 3)  # version
    if header_writer is not None:
        header_writer(bw)  # transforms
    else:
        bw.bits(0, 1)  # no transforms
    if tokens is None:
        tokens = [_lit(p) for p in argb]
    _vp8l_emit_entropy_image(bw, w, h, tokens, cache_bits=cache_bits,
                             group_of=group_of, meta_bits=meta_bits,
                             meta_pixels=meta_pixels, level0=True)
    return _wrap_webp(b"\x2f" + bw.tobytes())


def _argb_image(w, h, seed=7):
    """Deterministic multi-valued ARGB test image (alpha 255)."""
    return [
        0xFF000000
        | (((x * 31 + y * 17 + seed) % 256) << 16)
        | (((x * 7 + y * 43) % 256) << 8)
        | ((x * 13 + y * 29 + 3 * seed) % 256)
        for y in range(h)
        for x in range(w)
    ]


def _rgb_bytes(argb, w, h):
    out = bytearray()
    for p in argb:
        out += bytes(((p >> 16) & 0xFF, (p >> 8) & 0xFF, p & 0xFF))
    return bytes(out)


def test_vp8l_literals_and_header():
    """Plain literal VP8L streams decode exactly; the RIFF/VP8L header
    yields real dimensions for lossless AND lossy/extended containers."""
    import struct as st

    from cugraph_spark.pipelines.multimodal import (
        _webp_decode,
        parse_image_header,
    )

    w, h = 9, 5
    argb = _argb_image(w, h)
    webp = _encode_vp8l(w, h, argb)
    assert parse_image_header(webp) == (w, h, "webp")
    got = _webp_decode(webp)
    assert got == (w, h, _rgb_bytes(argb, w, h), 3)

    # alpha channel rides through when alpha_is_used is set
    argb_a = [(p & 0xFFFFFF) | (((i * 37) % 256) << 24) for i, p in enumerate(argb)]
    got = _webp_decode(_encode_vp8l(w, h, argb_a, alpha_used=1))
    assert got is not None and got[3] == 4
    exp = bytearray()
    for p in argb_a:
        exp += bytes(((p >> 16) & 0xFF, (p >> 8) & 0xFF, p & 0xFF, (p >> 24) & 0xFF))
    assert got[2] == bytes(exp)

    # lossy VP8 header: dims parse, raster stays undecoded (None)
    vp8 = (b"\x00\x00\x00" + b"\x9d\x01\x2a"
           + st.pack("<H", 33) + st.pack("<H", 21) + b"\x00" * 8)
    lossy = b"RIFF" + st.pack("<I", 12 + len(vp8)) + b"WEBP" \
        + b"VP8 " + st.pack("<I", len(vp8)) + vp8
    assert parse_image_header(lossy) == (33, 21, "webp")
    assert _webp_decode(lossy) is None

    # VP8X canvas dims
    vp8x = b"\x00\x00\x00\x00" + (639).to_bytes(3, "little") + (479).to_bytes(3, "little")
    ext = b"RIFF" + st.pack("<I", 12 + len(vp8x)) + b"WEBP" \
        + b"VP8X" + st.pack("<I", len(vp8x)) + vp8x
    assert parse_image_header(ext) == (640, 480, "webp")


def test_vp8l_lz77_cache_and_distance_map():
    """LZ77 backward references (plain distances AND the close-neighbor
    distance map) and color-cache hits reconstruct exactly."""
    from cugraph_spark.pipelines.multimodal import _webp_decode

    w, h = 8, 4
    row = [0xFF000000 | ((x * 40 + 10) << 16) | ((x * 9) << 8) | (255 - x * 30 % 256)
           for x in range(w)]
    argb = row * h  # every row identical
    # row 0 literal; row 1 copied via plain distance w; row 2 via map
    # code 1 = (0, 1) -> distance w; row 3 from the color cache
    cache_bits = 6
    cache_idx = {}
    for p in row:
        cache_idx[p] = ((0x1E35A7BD * p) & 0xFFFFFFFF) >> (32 - cache_bits)
    tokens = [_lit(p) for p in row]
    tokens.append(("copy", w, w))
    tokens.append(("copymap", w, 1))
    tokens.extend(("cache", cache_idx[p]) for p in row)
    got = _webp_decode(_encode_vp8l(w, h, argb, tokens=tokens, cache_bits=cache_bits))
    assert got == (w, h, _rgb_bytes(argb, w, h), 3)


def test_vp8l_subtract_green_and_predictor():
    """SUBTRACT_GREEN and PREDICTOR transforms invert exactly (all-mode
    sub-image: one 16px block per mode across a 64x28 image)."""
    from cugraph_spark.pipelines.multimodal import _webp_decode

    w, h = 9, 6
    argb = _argb_image(w, h, seed=11)

    # subtract-green: store r-g, b-g
    def sg_header(bw):
        bw.bits(1, 1)
        bw.bits(2, 2)  # SUBTRACT_GREEN
        bw.bits(0, 1)  # no more transforms

    stored = [
        (p & 0xFF00FF00)
        | (((((p >> 16) & 0xFF) - ((p >> 8) & 0xFF)) & 0xFF) << 16)
        | (((p & 0xFF) - ((p >> 8) & 0xFF)) & 0xFF)
        for p in argb
    ]
    got = _webp_decode(_encode_vp8l(w, h, None, header_writer=sg_header,
                                    tokens=[_lit(p) for p in stored]))
    assert got == (w, h, _rgb_bytes(argb, w, h), 3)

    # predictor: 16-px blocks, every mode 0..13 exercised across blocks
    w2, h2 = 64, 28  # 4x2 blocks of 16 -> 8 blocks per image; two images
    for mode_base in (0, 7):
        modes = [(mode_base + i) % 14 for i in range(8)]
        argb2 = _argb_image(w2, h2, seed=mode_base)
        from cugraph_spark.pipelines.multimodal import _vp8l_predict

        size_bits = 4
        bwidth = (w2 + 15) >> 4
        residual = [0] * (w2 * h2)
        recon = [0] * (w2 * h2)
        for y in range(h2):
            for x in range(w2):
                mode = modes[(y >> 4) * bwidth + (x >> 4)]
                pred = _vp8l_predict(mode, recon, w2, x, y)
                p = argb2[y * w2 + x]
                recon[y * w2 + x] = p
                residual[y * w2 + x] = (
                    (((p >> 24) - (pred >> 24)) & 0xFF) << 24
                    | ((((p >> 16) & 0xFF) - ((pred >> 16) & 0xFF)) & 0xFF) << 16
                    | ((((p >> 8) & 0xFF) - ((pred >> 8) & 0xFF)) & 0xFF) << 8
                    | ((p & 0xFF) - (pred & 0xFF)) & 0xFF
                )

        def pred_header(bw, modes=modes):
            bw.bits(1, 1)
            bw.bits(0, 2)  # PREDICTOR
            bw.bits(size_bits - 2, 3)
            _vp8l_emit_entropy_image(
                bw, bwidth, 2, [_lit(0xFF000000 | (m << 8)) for m in modes]
            )
            bw.bits(0, 1)  # no more transforms

        got = _webp_decode(_encode_vp8l(w2, h2, None, header_writer=pred_header,
                                        tokens=[_lit(p) for p in residual]))
        assert got == (w2, h2, _rgb_bytes(argb2, w2, h2), 3), f"modes {modes}"


def test_vp8l_color_transform_and_palette():
    """Cross-color transform and color-indexing (with sub-byte bundling)
    invert exactly."""
    from cugraph_spark.pipelines.multimodal import _vp8l_delta, _webp_decode

    w, h = 10, 6
    argb = _argb_image(w, h, seed=3)
    g2r, g2b, r2b = 0x23, 0xE9, 0x5C  # mixed-sign int8 elements
    cte = 0xFF000000 | (r2b << 16) | (g2b << 8) | g2r
    stored = []
    for p in argb:
        g = (p >> 8) & 0xFF
        red = (p >> 16) & 0xFF
        blue = p & 0xFF
        sr = (red - _vp8l_delta(g2r, g)) & 0xFF
        sb = (blue - _vp8l_delta(g2b, g) - _vp8l_delta(r2b, red)) & 0xFF
        stored.append((p & 0xFF00FF00) | (sr << 16) | sb)

    def ct_header(bw):
        bw.bits(1, 1)
        bw.bits(1, 2)  # COLOR transform
        bw.bits(4 - 2, 3)  # 16-px blocks -> single block
        _vp8l_emit_entropy_image(bw, 1, 1, [_lit(cte)])
        bw.bits(0, 1)

    got = _webp_decode(_encode_vp8l(w, h, None, header_writer=ct_header,
                                    tokens=[_lit(p) for p in stored]))
    assert got == (w, h, _rgb_bytes(argb, w, h), 3)

    # 4-color palette -> 2-bit indices, 4 per byte (width_bits = 2)
    pal = [0xFF102030, 0xFFFFEE00, 0xFF0080FF, 0xFF803060]
    wp, hp = 10, 3
    idx = [(x * 3 + y) % 4 for y in range(hp) for x in range(wp)]
    argb_p = [pal[i] for i in idx]
    packed_w = (wp + 3) >> 2
    packed = []
    for y in range(hp):
        for px in range(packed_w):
            v = 0
            for k in range(4):
                x = px * 4 + k
                if x < wp:
                    v |= idx[y * wp + x] << (2 * k)
            packed.append(0xFF000000 | (v << 8))
    # palette itself is delta-coded (per-component subtract mod 256)
    deltas = [pal[0]] + [
        sum(
            ((((pal[i] >> sh) & 0xFF) - ((pal[i - 1] >> sh) & 0xFF)) & 0xFF) << sh
            for sh in (0, 8, 16, 24)
        )
        for i in range(1, 4)
    ]

    def pal_header(bw):
        bw.bits(1, 1)
        bw.bits(3, 2)  # COLOR_INDEXING
        bw.bits(3, 8)  # 4 colors
        _vp8l_emit_entropy_image(bw, 4, 1, [_lit(d) for d in deltas])
        bw.bits(0, 1)

    got = _webp_decode(_encode_vp8l(wp, hp, None, header_writer=pal_header,
                                    tokens=[_lit(p) for p in packed]))
    assert got == (wp, hp, _rgb_bytes(argb_p, wp, hp), 3)


def test_vp8l_meta_prefix_groups(spark):
    """Meta prefix codes: two groups selected by the entropy image, each
    with disjoint literal alphabets; plus the end-to-end mapInPandas
    path reporting REAL webp format + pixel features."""
    from cugraph_spark.pipelines.multimodal import (
        _pixel_feature,
        _webp_decode,
        decode_images,
    )

    w, h = 8, 4
    left = 0xFF00FF00  # pure green half
    right = 0xFFFF0000  # pure red half
    argb = [left if x < 4 else right for y in range(h) for x in range(w)]
    meta = [("lit", 0, 0, 0, 0), ("lit", 0, 0, 1, 0)]  # groups 0, 1

    got = _webp_decode(
        _encode_vp8l(w, h, argb, meta_bits=2, meta_pixels=meta,
                     group_of=lambda x, y: 0 if x < 4 else 1)
    )
    assert got == (w, h, _rgb_bytes(argb, w, h), 3)

    webp = _encode_vp8l(w, h, argb)
    df = spark.createDataFrame([(1, bytearray(webp))], "media_id long, payload binary")
    out = decode_images(df).collect()[0]
    assert (out["width"], out["height"], out["format"]) == (w, h, "webp")
    assert out["feature"] == pytest.approx(
        _pixel_feature(_rgb_bytes(argb, w, h), 3), abs=1e-6
    )


def test_vp8l_roundtrip_property():
    """Property: random ARGB images of random shapes survive the
    encode->decode round trip exactly, with and without a color cache
    and subtract-green (hypothesis-driven)."""
    from hypothesis import given, settings, strategies as st

    from cugraph_spark.pipelines.multimodal import _webp_decode

    @settings(max_examples=25, deadline=None)
    @given(
        w=st.integers(1, 12),
        h=st.integers(1, 8),
        seed=st.integers(0, 2**31 - 1),
        cache_bits=st.sampled_from([0, 3, 8]),
        alpha=st.booleans(),
        sub_green=st.booleans(),
    )
    def check(w, h, seed, cache_bits, alpha, sub_green):
        import random

        rng = random.Random(seed)
        argb = [
            ((rng.randrange(256) if alpha else 0xFF) << 24)
            | (rng.randrange(256) << 16)
            | (rng.randrange(256) << 8)
            | rng.randrange(256)
            for _ in range(w * h)
        ]
        if sub_green:
            stored = [
                (p & 0xFF00FF00)
                | (((((p >> 16) & 0xFF) - ((p >> 8) & 0xFF)) & 0xFF) << 16)
                | (((p & 0xFF) - ((p >> 8) & 0xFF)) & 0xFF)
                for p in argb
            ]

            def hdr(bw):
                bw.bits(1, 1)
                bw.bits(2, 2)
                bw.bits(0, 1)

            webp = _encode_vp8l(w, h, None, alpha_used=int(alpha),
                                header_writer=hdr,
                                tokens=[_lit(p) for p in stored],
                                cache_bits=cache_bits)
        else:
            webp = _encode_vp8l(w, h, argb, alpha_used=int(alpha),
                                cache_bits=cache_bits)
        got = _webp_decode(webp)
        assert got is not None
        gw, gh, raster, nch = got
        assert (gw, gh, nch) == (w, h, 4 if alpha else 3)
        exp = bytearray()
        for p in argb:
            exp += bytes(((p >> 16) & 0xFF, (p >> 8) & 0xFF, p & 0xFF))
            if alpha:
                exp.append((p >> 24) & 0xFF)
        assert raster == bytes(exp)

    check()


def _spec_select(L, T, TL):
    """INDEPENDENT reference for predictor mode 11, transcribed from the
    WebP lossless spec (RFC 9649 §4.4.1) pseudocode — NOT the shipped
    _vp8l_select. The spec (and libwebp's PredictorSelect) return TOP on
    ties: `return (pL < pT) ? L : T`."""
    def ch(p, sh):
        return (p >> sh) & 0xFF

    p_l = p_t = 0
    for sh in (24, 16, 8, 0):
        p = ch(L, sh) + ch(T, sh) - ch(TL, sh)
        p_l += abs(p - ch(L, sh))
        p_t += abs(p - ch(T, sh))
    return L if p_l < p_t else T


def _spec_predict11(px, w, x, y):
    """Spec-following mode-11 predictor incl. the border rules (top row
    -> L / black corner, left column -> T), independent of the decoder."""
    pos = y * w + x
    if y == 0:
        return 0xFF000000 if x == 0 else px[pos - 1]
    if x == 0:
        return px[pos - w]
    return _spec_select(px[pos - 1], px[pos - w], px[pos - w - 1])


def test_vp8l_select_tie_breaks_to_top():
    """Predictor 11 (Select) must return TOP on metric ties (spec: `if
    (pL < pT) return L; else return T`). Real cwebp streams hit ties with
    L != T constantly; a LEFT tie-break mis-decodes and propagates. No
    libwebp/Pillow in this container, so the fixture is a hand-authored
    stream whose EXPECTED raster comes from the independent in-test spec
    predictor (_spec_select), not the shipped decoder — breaking the
    encode/decode circularity ADVICE r5 flagged."""
    from cugraph_spark.pipelines.multimodal import _vp8l_select, _webp_decode

    # unit: constructed exact tie with L != T -> TOP
    L, T, TL = 0xFF001000, 0xFF000010, 0xFF000000
    assert _spec_select(L, T, TL) == T  # sanity of the reference itself
    assert _vp8l_select(L, T, TL) == T
    # and the non-tie directions still hold
    assert _vp8l_select(0xFF102030, 0xFF102030, 0xFF102030) == 0xFF102030
    assert _vp8l_select(0xFF000000, 0xFFFFFFFF, 0xFFFFFFFF) == 0xFF000000  # pL=0
    assert _vp8l_select(0xFF000000, 0xFFFFFFFF, 0xFF000000) == 0xFFFFFFFF  # pT=0

    # end-to-end: whole image under mode 11, with guaranteed interior tie
    # pixels (L != T); residuals derived from the SPEC predictor.
    w, h = 6, 4
    actual = [
        0xFF000000, 0xFF000010, 0xFF001000, 0xFF000010, 0xFF200000, 0xFF000030,
        0xFF001000, 0xFF103050, 0xFF000010, 0xFF405060, 0xFF001000, 0xFF808080,
        0xFF0000FF, 0xFF00FF00, 0xFFFF0000, 0xFF123456, 0xFF654321, 0xFF0F0F0F,
        0xFF111111, 0xFF222222, 0xFF333333, 0xFF444444, 0xFF555555, 0xFF666666,
    ]
    recon = [0] * (w * h)
    residual = [0] * (w * h)
    ties = 0
    for y in range(h):
        for x in range(w):
            pred = _spec_predict11(recon, w, x, y)
            if y > 0 and x > 0:
                pl = recon[y * w + x - 1]
                pt = recon[(y - 1) * w + x]
                ptl = recon[(y - 1) * w + x - 1]
                plv = ptv = 0
                for sh in (0, 8, 16, 24):
                    p = ((pl >> sh) & 0xFF) + ((pt >> sh) & 0xFF) - ((ptl >> sh) & 0xFF)
                    plv += abs(p - ((pl >> sh) & 0xFF))
                    ptv += abs(p - ((pt >> sh) & 0xFF))
                if plv == ptv and pl != pt:
                    ties += 1
            p = actual[y * w + x]
            recon[y * w + x] = p
            residual[y * w + x] = (
                (((p >> 24) - (pred >> 24)) & 0xFF) << 24
                | ((((p >> 16) & 0xFF) - ((pred >> 16) & 0xFF)) & 0xFF) << 16
                | ((((p >> 8) & 0xFF) - ((pred >> 8) & 0xFF)) & 0xFF) << 8
                | ((p & 0xFF) - (pred & 0xFF)) & 0xFF
            )
    assert ties >= 1, "test image must exercise a tie with L != T"

    def hdr(bw):
        bw.bits(1, 1)
        bw.bits(0, 2)  # PREDICTOR
        bw.bits(7 - 2, 3)  # 128-px blocks -> single block, mode 11
        _vp8l_emit_entropy_image(bw, 1, 1, [_lit(0xFF000000 | (11 << 8))])
        bw.bits(0, 1)

    got = _webp_decode(_encode_vp8l(w, h, None, header_writer=hdr,
                                    tokens=[_lit(p) for p in residual]))
    assert got == (w, h, _rgb_bytes(actual, w, h), 3)


def test_vp8l_palette_before_predictor_order():
    """Spec-legal transform order COLOR_INDEXING (with 2-bit bundling)
    read BEFORE PREDICTOR: the predictor inverse must run at the PACKED
    coded width (its w_at_read), not the full-resolution width. ADVICE r5
    low finding: the old code indexed with full `w` and silently fell back
    to the digest stub via the broad except."""
    from cugraph_spark.pipelines.multimodal import _webp_decode

    pal = [0xFF102030, 0xFFFFEE00, 0xFF0080FF, 0xFF803060]
    wp, hp = 10, 3
    idx = [(x * 3 + y) % 4 for y in range(hp) for x in range(wp)]
    argb_p = [pal[i] for i in idx]
    packed_w = (wp + 3) >> 2
    packed = []
    for y in range(hp):
        for px in range(packed_w):
            v = 0
            for k in range(4):
                x = px * 4 + k
                if x < wp:
                    v |= idx[y * wp + x] << (2 * k)
            packed.append(0xFF000000 | (v << 8))
    # predictor (mode 11, one block) applied on the PACKED image
    recon = [0] * (packed_w * hp)
    residual = [0] * (packed_w * hp)
    for y in range(hp):
        for x in range(packed_w):
            pred = _spec_predict11(recon, packed_w, x, y)
            p = packed[y * packed_w + x]
            recon[y * packed_w + x] = p
            residual[y * packed_w + x] = (
                (((p >> 24) - (pred >> 24)) & 0xFF) << 24
                | ((((p >> 16) & 0xFF) - ((pred >> 16) & 0xFF)) & 0xFF) << 16
                | ((((p >> 8) & 0xFF) - ((pred >> 8) & 0xFF)) & 0xFF) << 8
                | ((p & 0xFF) - (pred & 0xFF)) & 0xFF
            )
    deltas = [pal[0]] + [
        sum(
            ((((pal[i] >> sh) & 0xFF) - ((pal[i - 1] >> sh) & 0xFF)) & 0xFF) << sh
            for sh in (0, 8, 16, 24)
        )
        for i in range(1, 4)
    ]

    def hdr(bw):
        bw.bits(1, 1)
        bw.bits(3, 2)  # COLOR_INDEXING first (changes coded width)
        bw.bits(3, 8)  # 4 colors
        _vp8l_emit_entropy_image(bw, 4, 1, [_lit(d) for d in deltas])
        bw.bits(1, 1)
        bw.bits(0, 2)  # then PREDICTOR, read at packed width
        bw.bits(7 - 2, 3)
        _vp8l_emit_entropy_image(bw, 1, 1, [_lit(0xFF000000 | (11 << 8))])
        bw.bits(0, 1)

    got = _webp_decode(_encode_vp8l(wp, hp, None, header_writer=hdr,
                                    tokens=[_lit(p) for p in residual]))
    assert got == (wp, hp, _rgb_bytes(argb_p, wp, hp), 3)


def test_vp8l_alpha_hint_does_not_flatten_real_alpha():
    """The header's alpha_is_used flag is a hint that must not impact
    decoding: a stream carrying meaningful alpha with the hint UNSET
    still emits 4 channels; the hint set with opaque pixels keeps the
    (harmless) constant-alpha 4th channel."""
    from cugraph_spark.pipelines.multimodal import _webp_decode

    w, h = 5, 3
    argb = [((10 + i * 9) % 256) << 24 | (p & 0xFFFFFF)
            for i, p in enumerate(_argb_image(w, h, seed=5))]
    got = _webp_decode(_encode_vp8l(w, h, argb, alpha_used=0))
    assert got is not None and got[3] == 4
    exp = bytearray()
    for p in argb:
        exp += bytes(((p >> 16) & 0xFF, (p >> 8) & 0xFF, p & 0xFF, (p >> 24) & 0xFF))
    assert got[2] == bytes(exp)

    opaque = _argb_image(w, h, seed=6)  # alpha 255 everywhere
    got = _webp_decode(_encode_vp8l(w, h, opaque, alpha_used=1))
    assert got is not None and got[3] == 4


@pytest.mark.parametrize("search", ["brute", "lsh", "ivf"])
def test_zero_norm_vectors_are_never_hits(spark, vectors, search):
    """One zero-norm contract for cosine search: a zero-norm corpus row or
    query normalizes to nulls (Spark's ANSI mode would raise
    DIVIDE_BY_ZERO on the division), so it is never returned and a
    zero-norm query gets no rows; the other queries' hits are unchanged."""
    from cugraph_spark.pipelines.similarity_search import ivf_topk

    run = {
        "brute": lambda c, q: brute_force_topk(c, q, k=3),
        "lsh": lambda c, q: lsh_topk(c, q, k=3, n_planes=6),
        "ivf": lambda c, q: ivf_topk(c, q, k=3, n_lists=4, n_probe=2, kmeans_iters=3),
    }[search]
    zero = spark.createDataFrame([(999, [0.0] * 8)], vectors.schema)
    corpus = vectors.unionByName(zero)
    q = (
        vectors.filter(F.col("vec_id").isin([0, 1]))
        .unionByName(zero)
        .select(F.col("vec_id").alias("query_id"), "embedding")
    )
    got = {(r["query_id"], r["vec_id"], r["cosine"]) for r in run(corpus, q).collect()}
    assert got and all(999 not in (qid, vid) for qid, vid, _ in got)
    if search == "brute":
        want = {tuple(r) for r in brute_force_topk(vectors, q.filter("query_id != 999"), k=3).collect()}
        assert got == want
