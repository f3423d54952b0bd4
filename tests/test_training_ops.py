"""Training-data operator tier: text analysis, dedup, similarity search,
multimodal plumbing (north-star extensions beyond the reference; see
SURVEY.md §2.B last row)."""

import hashlib

import pyspark.sql.functions as F

from go_pq_cdc_kafka_spark.functions import multimodal as MM
from go_pq_cdc_kafka_spark.functions import text as T
from go_pq_cdc_kafka_spark.operators import dedup as DD
from go_pq_cdc_kafka_spark.operators import similarity as SIM


def docs_df(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox jumps over the lazy dog"),  # exact dup of 1
        (3, "dog lazy the over jumps fox brown quick the"),  # bag dup of 1
        (4, "a completely different document about spark engines"),
        (5, "the quick brown fox jumps over the lazy cat today"),  # near-dup of 1
        (6, "der hund ist nicht ein katze und das ist gut"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


# ---------------------------------------------------------------------------
# text functions
# ---------------------------------------------------------------------------

def test_token_counts(spark):
    d = docs_df(spark)
    out = {
        r.doc_id: (r.n, r.b)
        for r in d.select(
            "doc_id",
            T.token_count(F.col("text")).alias("n"),
            T.bpe_token_count(F.col("text")).alias("b"),
        ).collect()
    }
    assert out[1] == (9, 9)
    assert out[4] == (7, 7)


def test_quality_features_ratios(spark):
    d = spark.createDataFrame(
        [(1, "the cat, the hat!")], "doc_id long, text string"
    )
    feats = T.quality_features(F.col("text"))
    row = d.select(*[c.alias(k) for k, c in feats.items()]).collect()[0]
    assert row.n_words == 4
    assert row.n_punct == 2
    assert row.n_stop == 2  # two "the"
    expected = (4 / 100) * 0.4 + (2 / 4) * 0.4 + min(2 / 4, 1.0) * 0.2
    assert abs(row.quality_score - expected) < 1e-12


def test_lang_id_heuristic(spark):
    d = docs_df(spark)
    langs = {r.doc_id: r.lang for r in d.select(
        "doc_id", T.lang_id(F.col("text")).alias("lang")).collect()}
    assert langs[1] == "en"
    assert langs[6] == "de"
    und = spark.createDataFrame([(9, "zzz qqq xxx")], "doc_id long, text string")
    assert und.select(T.lang_id(F.col("text")).alias("l")).collect()[0].l == "und"


def test_bag_fingerprint_order_invariant(spark):
    d = docs_df(spark)
    fps = {r.doc_id: r.fp for r in d.select(
        "doc_id", T.bag_fingerprint(F.col("text")).alias("fp")).collect()}
    assert fps[1] == fps[2] == fps[3]  # exact + reordered collapse
    assert fps[1] != fps[4]


def test_hash64_matches_duckdb_formula(spark):
    import duckdb

    d = spark.createDataFrame([("hello",), ("world",)], "w string")
    got = {r.w: r.h for r in d.select("w", T.hash64(F.col("w")).alias("h")).collect()}
    for w in ("hello", "world"):
        (exp,) = duckdb.sql(
            f"SELECT CAST(concat('0x', substr(md5('{w}'), 1, 15)) AS BIGINT)"
        ).fetchone()
        assert got[w] == exp


# ---------------------------------------------------------------------------
# dedup
# ---------------------------------------------------------------------------

def test_exact_dedup_keeps_lowest_id(spark):
    d = docs_df(spark)
    survivors = sorted(r.doc_id for r in DD.exact_dedup(d).collect())
    assert survivors == [1, 4, 5, 6]  # 2,3 collapse into 1


def test_ngram_jaccard_finds_near_dup(spark):
    d = docs_df(spark)
    pairs = {(r.doc_a, r.doc_b): r.jaccard
             for r in DD.ngram_jaccard_pairs(d, threshold=0.3, rows=d.count()).collect()}
    assert (1, 2) in pairs and pairs[(1, 2)] == 1.0
    assert (1, 5) in pairs and 0.3 <= pairs[(1, 5)] < 1.0
    assert not any({a, b} == {1, 4} for a, b in pairs)


def test_minhash_lsh_recovers_exact_dups(spark):
    d = docs_df(spark)
    pairs = {(r.doc_a, r.doc_b) for r in
             DD.minhash_lsh_pairs(
                 d, num_perms=16, bands=4, threshold=0.5, rows=d.count()
             ).collect()}
    assert (1, 2) in pairs  # identical docs always share every band
    jacc = {(r.doc_a, r.doc_b) for r in
            DD.ngram_jaccard_pairs(d, threshold=0.5, rows=d.count()).collect()}
    assert pairs <= jacc  # LSH prunes, never admits


def test_simhash_properties(spark):
    d = docs_df(spark)
    sh = {r.doc_id: r.simhash for r in DD.simhash(d, bits=32).collect()}
    assert sh[1] == sh[2] == sh[3]  # same token set -> same fingerprint
    assert 0 <= sh[1] < (1 << 32)
    # near-dup should be closer in hamming distance than unrelated doc
    ham = lambda a, b: bin(a ^ b).count("1")
    assert ham(sh[1], sh[5]) < ham(sh[1], sh[4])


# ---------------------------------------------------------------------------
# similarity
# ---------------------------------------------------------------------------

def vecs_df(spark):
    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [0.9, 0.1, 0.0, 0.0]),
        (2, [0.0, 1.0, 0.0, 0.0]),
        (3, [0.0, 0.0, 1.0, 0.0]),
        (4, [-1.0, 0.0, 0.0, 0.0]),
    ]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_cosine_topk_exact(spark):
    e = vecs_df(spark)
    out = SIM.cosine_topk(e.filter(F.col("vec_id") == 0), e, k=3).collect()
    ranked = [(r.rk, r.neighbor_id) for r in sorted(out, key=lambda r: r.rk)]
    assert ranked == [(1, 0), (2, 1), (3, 2)]
    top = sorted(out, key=lambda r: r.rk)[0]
    assert abs(top.cos_sim - 1.0) < 1e-12


def test_lsh_topk_self_always_found(spark):
    e = vecs_df(spark)
    out = SIM.lsh_cosine_topk(e, e, dim=4, k=1, planes=2).collect()
    # rank-1 neighbor of every query must be itself (same bucket, cos=1)
    assert all(r.neighbor_id == r.query_id for r in out if r.rk == 1)


def test_ivf_trained_centroids_recall(spark):
    """Trained IVF (Lloyd rounds + nprobe) must reach recall@5 >= 0.9 vs the
    exact brute-force ground truth on the real sf0.01 embeddings — the
    untrained first-N seeding this replaces has unquantified recall."""
    e = (
        spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
        .select("vec_id", "embedding")
    )
    queries = e.filter(F.col("vec_id") < 20)

    truth = {}
    for r in SIM.cosine_topk(queries, e, k=5).collect():
        truth.setdefault(r.query_id, set()).add(r.neighbor_id)

    # The synthetic embeddings are near-uniform (no cluster structure), so
    # true neighbors scatter across inverted lists and a high probe fraction
    # is required for high recall; on naturally clustered data the same
    # recall comes at much smaller nprobe/n_centroids ratios.
    got = {}
    out = SIM.ivf_topk(
        queries, e, dim=64, k=5, n_centroids=16, nprobe=8, train_iters=3
    ).collect()
    for r in out:
        got.setdefault(r.query_id, set()).add(r.neighbor_id)

    hits = sum(len(truth[q] & got.get(q, set())) for q in truth)
    recall = hits / sum(len(v) for v in truth.values())
    assert recall >= 0.9, f"recall@5 {recall:.3f} < 0.9"  # measured 0.96


def test_semantic_dedup_keeps_low_centroid_sim_and_breaks_ties_by_id(spark):
    """SemDeDup keep rule: within a cluster, of a near-dup pair the member
    with the LOWER centroid-cosine survives; exact ties (identical
    vectors) break toward the lower id. Cross-cluster pairs are never
    scored. Fixtures use exact duplicates so float noise can't flip the
    expected keeps."""
    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [0.0, 1.0, 0.0, 0.0]),
        (2, [1.0, 0.0, 0.0, 0.0]),  # exact dup of 0 (same cluster)
        (3, [0.0, 1.0, 0.0, 0.0]),  # exact dup of 1
        (4, [0.6, 0.0, 0.8, 0.0]),  # cluster of 0, below threshold
    ]
    e = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cents = SIM.train_centroids(e, n_centroids=2, iters=2, id_col="vec_id")
    out = {
        r.vec_id: r.kept
        for r in SIM.semantic_dedup(e, cents, threshold=0.99).collect()
    }
    assert out == {0: True, 1: True, 2: False, 3: False, 4: True}


def test_semantic_dedup_prefers_diverse_representative(spark):
    """Non-tied case: the near-dup farther from the centroid is the one
    kept (the paper's diversity rule), regardless of id order."""
    # cluster pulled toward x-axis by a mass of identical far members;
    # near-dup pair: id 10 lies ON the centroid direction, id 9 is tilted
    # away — 9 must survive even though 10 has the larger id... and vice
    # versa when ids swap, which the second half checks.
    base = [(i, [1.0, 0.0, 0.0, 0.0]) for i in range(5)]
    pair_a = [(9, [0.9995, 0.0316, 0.0, 0.0]), (10, [1.0, 0.0, 0.0, 0.0])]
    off = [(20, [0.0, 0.0, 0.0, 1.0])]  # second centroid seed target
    e = spark.createDataFrame(
        base + pair_a + off, "vec_id long, embedding array<double>"
    )
    cents = SIM.train_centroids(e, n_centroids=2, iters=2, id_col="vec_id")
    out = {
        r.vec_id: r.kept
        for r in SIM.semantic_dedup(e, cents, threshold=0.999).collect()
    }
    # 9 is tilted off-centroid -> lower cent_cos -> keep-preferred; 10 is a
    # dup of the base mass too and drops with it
    assert out[9] is True
    assert out[10] is False


def test_ivf_training_fixes_hot_cluster_skew(spark):
    """The hot-cluster scenario first-N seeding is pathological for: the
    corpus has two well-separated blobs but the first N ids all live in blob
    A, so every untrained centroid sits in A and all of blob B collapses
    onto one inverted list. Lloyd rounds must migrate centroids into B and
    shrink the max list."""
    def vec(i):
        # blob A (even i>=8 and all i<4): around e0; blob B: around e1.
        jit = ((i * 37) % 13) / 100.0
        if i < 4 or (i >= 8 and i % 2 == 0):
            return [1.0, jit, ((i * 11) % 7) / 100.0, 0.0]
        return [jit, 1.0, 0.0, ((i * 5) % 9) / 100.0]

    rows = [(i, vec(i)) for i in range(4)] + [(i, vec(i)) for i in range(8, 208)]
    # ids 0..3 (the first-N seeds, n_centroids=4) are ALL in blob A
    e = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    def max_cluster(centroids):
        sizes = (
            SIM.ivf_assign(e, centroids, "vec_id", "embedding", "nid")
            .groupBy("cluster")
            .count()
            .collect()
        )
        return max(r["count"] for r in sizes)

    first_n = e.orderBy("vec_id").limit(4).select(
        F.col("vec_id").alias("centroid_id"), F.col("embedding").alias("centroid_vec")
    )
    trained = SIM.train_centroids(e, n_centroids=4, iters=3)
    untrained_max = max_cluster(first_n)
    trained_max = max_cluster(trained)
    # untrained: blob B (100 vectors) funnels onto one centroid
    assert untrained_max >= 100
    assert trained_max < untrained_max


# ---------------------------------------------------------------------------
# multimodal plumbing
# ---------------------------------------------------------------------------

def media_df(spark):
    rows = [(1, b"\x89PNG" + b"x" * 200), (2, b"RIFF" + b"y" * 100)]
    return spark.createDataFrame(rows, "doc_id long, payload binary")


def test_media_struct_schema(spark):
    m = media_df(spark).select(
        MM.media_struct(F.col("payload"), "image", "png").alias("media")
    )
    # literal-built structs mark fields non-nullable; compare shape only
    assert m.schema["media"].dataType.simpleString() == MM.MEDIA_SCHEMA.simpleString()
    row = m.collect()[0]
    assert row.media.meta.media_type == "image"
    assert row.media.meta.width is None


def test_extract_features_deterministic(spark):
    out = {r.doc_id: r for r in MM.extract_features(media_df(spark)).collect()}
    assert out[1].payload_bytes == 204
    assert out[1].payload_md5 == hashlib.md5(b"\x89PNG" + b"x" * 200).hexdigest()


def test_resize_and_frames(spark):
    d = media_df(spark)
    rs = MM.resize_images(d, 4, 2).collect()
    assert all(len(r.pixels) == 8 and r.width == 4 and r.height == 2 for r in rs)
    fr = MM.sample_frames(d, every_n_bytes=64, max_frames=4).collect()
    per_doc = {}
    for r in fr:
        per_doc.setdefault(r.doc_id, []).append(r.frame_no)
    assert sorted(per_doc[1]) == [0, 1, 2]  # 204 bytes // 64 = 3 frames
    assert sorted(per_doc[2]) == [0]


def test_decode_unknown_payload_raises():
    import pytest

    # decoders are REAL for BMP/PPM/PGM/WAV now; unknown bytes still raise
    with pytest.raises(ValueError, match="unrecognized"):
        MM.decode_image(b"")


def test_ngram_jaccard_max_df_prunes_stop_shingles(spark):
    from go_pq_cdc_kafka_spark.operators import dedup as D

    # "common words here now" appears in every doc (stop-shingle); only docs
    # 1/2 share a rare overlap
    docs = spark.createDataFrame(
        [
            (1, "common words here now alpha beta gamma delta"),
            (2, "common words here now alpha beta gamma epsilon"),
            (3, "common words here now zeta eta theta iota"),
            (4, "common words here now kappa lam mu nu"),
        ],
        "doc_id long, text string",
    )
    uncapped = {
        (r.doc_a, r.doc_b)
        for r in D.ngram_jaccard_pairs(docs, threshold=0.1, rows=4).collect()
    }
    capped = {
        (r.doc_a, r.doc_b)
        for r in D.ngram_jaccard_pairs(
            docs, threshold=0.1, max_df=2, rows=4
        ).collect()
    }
    # every doc pairs with every other through the shared boilerplate prefix
    assert len(uncapped) == 6
    # with df-capped vocabulary only the genuinely-similar pair survives
    assert capped == {(1, 2)}


def test_fixture_corpus_is_ascii(spark):
    """The multimodal_frame_sample oracle windows characters while the
    engine windows bytes; this pins the precondition that makes them
    coincide (1 byte per char)."""
    for sf in ("/root/testdata/sf0.001", "/root/testdata/sf0.01"):
        d = spark.read.parquet(f"{sf}/documents.parquet")
        n_wide = d.filter(
            F.octet_length(F.col("text")) != F.length(F.col("text"))
        ).count()
        assert n_wide == 0, f"non-ASCII docs in {sf}"


# --- real multimodal decoders (BMP/PPM/PGM/WAV, from-spec) ------------------


def test_bmp_encode_decode_roundtrip_exact():
    import numpy as np

    from go_pq_cdc_kafka_spark.functions import multimodal as MM

    rng = np.random.RandomState(7)
    # width 5 forces row padding (15 bytes -> stride 16)
    arr = rng.randint(0, 256, size=(3, 5, 3)).astype(np.uint8)
    back = MM.decode_image(MM.encode_bmp(arr))
    assert back.shape == (3, 5, 3)
    assert (back == arr).all()


def test_bmp_topdown_and_32bit():
    import struct

    import numpy as np

    from go_pq_cdc_kafka_spark.functions import multimodal as MM

    # hand-build a 2x2 top-down 32-bit BMP (negative height, BGRA)
    px = [
        (1, 2, 3, 255), (4, 5, 6, 255),   # row 0 (top)
        (7, 8, 9, 255), (10, 11, 12, 255) # row 1
    ]
    pix = b"".join(struct.pack("<BBBB", b, g, r, a) for r, g, b, a in
                   [(p[0], p[1], p[2], p[3]) for p in px])
    header = struct.pack("<2sIHHI", b"BM", 54 + len(pix), 0, 0, 54)
    info = struct.pack("<IiiHHIIiiII", 40, 2, -2, 1, 32, 0, len(pix), 0, 0, 0, 0)
    arr = MM.decode_image(header + info + pix)
    assert arr.shape == (2, 2, 3)
    assert arr[0, 0].tolist() == [1, 2, 3]
    assert arr[1, 1].tolist() == [10, 11, 12]


def test_pnm_decode_with_comment_and_gray_replication():
    import numpy as np

    from go_pq_cdc_kafka_spark.functions import multimodal as MM

    ppm = b"P6\n# a comment\n2 1\n255\n" + bytes([10, 20, 30, 40, 50, 60])
    arr = MM.decode_image(ppm)
    assert arr.shape == (1, 2, 3) and arr[0, 1].tolist() == [40, 50, 60]
    pgm = b"P5\n2 2\n255\n" + bytes([1, 2, 3, 4])
    gray = MM.decode_image(pgm)
    assert gray.shape == (2, 2, 3)
    assert (gray[:, :, 0] == gray[:, :, 2]).all()
    assert gray[1, 0].tolist() == [3, 3, 3]


def test_resize_nearest_integer_mapping():
    import numpy as np

    from go_pq_cdc_kafka_spark.functions import multimodal as MM

    arr = np.arange(16, dtype=np.uint8).reshape(4, 4, 1)
    small = MM.resize_nearest(arr, 2, 2)
    # floor mapping: rows/cols 0 and 2
    assert small[:, :, 0].tolist() == [[0, 2], [8, 10]]
    big = MM.resize_nearest(arr, 8, 8)
    assert big.shape == (8, 8, 1)
    assert big[7, 7, 0] == 15  # (7*4)//8 = 3 -> last source row/col


def test_wav_encode_decode_roundtrip_and_stats():
    import numpy as np

    from go_pq_cdc_kafka_spark.functions import multimodal as MM

    samples = (np.arange(100, dtype=np.int64) % 50 - 25).astype(np.int16)
    payload = MM.encode_wav(samples, 16000)
    back, rate = MM.decode_audio(payload)
    assert rate == 16000 and back.shape == (100, 1)
    assert (back[:, 0] == samples.astype(np.int64)).all()


def test_compressed_formats_raise_loudly():
    import pytest as _pytest

    from go_pq_cdc_kafka_spark.functions import multimodal as MM

    with _pytest.raises(NotImplementedError, match="codec"):
        MM.decode_audio(b"ID3\x04" + b"\x00" * 32)  # mp3 tag header
    with _pytest.raises(ValueError, match="unrecognized"):
        MM.decode_image(b"GARBAGE!")
    # PNG and JPEG decode for real now; a signature followed by garbage is
    # a loud structural error, not silence
    with _pytest.raises(ValueError):
        MM.decode_image(b"\x89PNG\r\n\x1a\n" + b"\x00" * 32)
    with _pytest.raises(ValueError):
        MM.decode_image(b"\xff\xd8\xff\xe0" + b"\x00" * 32)


# --- PNG codec, from the public spec ----------------------------------------


def test_png_roundtrip_every_filter_type():
    import numpy as np

    from go_pq_cdc_kafka_spark.functions import multimodal as MM

    rng = np.random.RandomState(11)
    arr = rng.randint(0, 256, size=(5, 7, 3)).astype(np.uint8)
    for ftype in range(5):
        payload = MM.encode_png(arr, filter_type=ftype)
        assert payload[:8] == b"\x89PNG\r\n\x1a\n"
        back = MM.decode_image(payload)
        assert back.shape == (5, 7, 3)
        assert (back == arr).all(), f"filter {ftype} round-trip mismatch"


def test_png_gray_palette_and_alpha_color_types():
    import struct
    import zlib

    import numpy as np

    from go_pq_cdc_kafka_spark.functions import multimodal as MM

    def chunk(ctype, data):
        return (struct.pack(">I", len(data)) + ctype + data
                + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF))

    def png(w, h, color_type, scanlines, plte=None):
        ihdr = struct.pack(">IIBBBBB", w, h, 8, color_type, 0, 0, 0)
        out = b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
        if plte is not None:
            out += chunk(b"PLTE", plte)
        return out + chunk(b"IDAT", zlib.compress(scanlines)) + chunk(b"IEND", b"")

    # grayscale (type 0): replicated to 3 channels
    gray = png(2, 2, 0, bytes([0, 10, 20, 0, 30, 40]))
    g = MM.decode_image(gray)
    assert g.shape == (2, 2, 3) and g[1, 1].tolist() == [40, 40, 40]

    # palette (type 3): indices resolve through PLTE
    plte = bytes([255, 0, 0, 0, 255, 0, 0, 0, 255])  # red green blue
    pal = png(3, 1, 3, bytes([0, 0, 1, 2]), plte=plte)
    p = MM.decode_image(pal)
    assert p[0, 0].tolist() == [255, 0, 0]
    assert p[0, 1].tolist() == [0, 255, 0]
    assert p[0, 2].tolist() == [0, 0, 255]

    # gray+alpha (type 4) and RGBA (type 6): alpha dropped
    ga = png(1, 1, 4, bytes([0, 77, 128]))
    assert MM.decode_image(ga)[0, 0].tolist() == [77, 77, 77]
    rgba = png(1, 1, 6, bytes([0, 1, 2, 3, 200]))
    assert MM.decode_image(rgba)[0, 0].tolist() == [1, 2, 3]


def test_png_corruption_and_unsupported_raise():
    import struct
    import zlib

    import numpy as np
    import pytest as _pytest

    from go_pq_cdc_kafka_spark.functions import multimodal as MM

    arr = np.zeros((2, 2, 3), dtype=np.uint8)
    ok = MM.encode_png(arr)
    # flip one IDAT byte: CRC check must catch it
    bad = bytearray(ok)
    idat_pos = ok.index(b"IDAT") + 4
    bad[idat_pos] ^= 0xFF
    with _pytest.raises(ValueError, match="CRC"):
        MM.decode_image(bytes(bad))

    def chunk(ctype, data):
        return (struct.pack(">I", len(data)) + ctype + data
                + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF))

    # sub-byte depths stay a loud NotImplementedError
    ihdr = struct.pack(">IIBBBBB", 1, 1, 4, 0, 0, 0, 0)
    payload = (b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
               + chunk(b"IDAT", zlib.compress(b"\x00\x00"))
               + chunk(b"IEND", b""))
    with _pytest.raises(NotImplementedError, match="8/16-bit"):
        MM.decode_image(payload)


def test_png_adam7_interlace_roundtrip():
    """Adam7: seven independently-filtered sub-images scattered by the
    spec's pass layout. Odd dimensions exercise empty and partial passes;
    full-array equality pins the scatter positions exactly."""
    import numpy as np

    from go_pq_cdc_kafka_spark.functions import multimodal as MM

    rng = np.random.RandomState(4)
    for shape in [(5, 7), (1, 1), (2, 3), (16, 16), (9, 10)]:
        arr = rng.randint(0, 256, (*shape, 3)).astype(np.uint8)
        for ft in range(5):
            payload = MM.encode_png(arr, filter_type=ft, interlace=True)
            assert (MM.decode_image(payload) == arr).all(), (shape, ft)


def test_png_16bit_decodes_high_byte():
    """16-bit samples (big-endian) reduce to their high byte; filtering
    at depth 16 operates on 2-byte-per-sample units (bpp doubles)."""
    import struct
    import zlib

    import numpy as np

    from go_pq_cdc_kafka_spark.functions import multimodal as MM

    def chunk(ctype, data):
        return (struct.pack(">I", len(data)) + ctype + data
                + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF))

    rng = np.random.RandomState(6)
    # 16-bit gray with the Sub filter: left neighbor sits bpp=2 bytes back
    w, h = 4, 3
    vals = rng.randint(0, 65536, (h, w))
    scan = bytearray()
    for y in range(h):
        row = b"".join(struct.pack(">H", v) for v in vals[y])
        scan.append(1)  # Sub
        scan += bytes(
            (b - (row[i - 2] if i >= 2 else 0)) & 0xFF
            for i, b in enumerate(row)
        )
    ihdr = struct.pack(">IIBBBBB", w, h, 16, 0, 0, 0, 0)
    png = (b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
           + chunk(b"IDAT", zlib.compress(bytes(scan)))
           + chunk(b"IEND", b""))
    back = MM.decode_image(png)
    assert back.shape == (h, w, 3)
    assert (back[:, :, 0] == (vals >> 8)).all()


# --- JPEG codec, from the public ITU T.81 spec ------------------------------


def test_jpeg_solid_gray_bitexact_every_path():
    """Solid blocks are DC-only; with a DC quant step of 8 the pipeline is
    lossless, so decode(encode(solid)) must be BIT-exact through every
    structural path: grayscale, 4:4:4 color, 4:2:0 subsampling, restart
    markers, and partial-MCU edge crops."""
    import numpy as np

    from go_pq_cdc_kafka_spark.functions import multimodal as MM
    from go_pq_cdc_kafka_spark.functions.jpeg import encode_jpeg

    q8 = np.full((8, 8), 8, np.int32)
    for g in (0, 17, 128, 254):
        arr = np.full((12, 20, 3), g, np.uint8)
        variants = [
            encode_jpeg(arr, grayscale=True, luma_qtable=q8),
            encode_jpeg(arr, luma_qtable=q8, chroma_qtable=q8),
            encode_jpeg(arr, subsample=True, luma_qtable=q8, chroma_qtable=q8),
            encode_jpeg(arr, luma_qtable=q8, chroma_qtable=q8,
                        restart_interval=2),
        ]
        for payload in variants:
            assert payload[:2] == b"\xff\xd8"
            out = MM.decode_image(payload)  # dispatches on the SOI marker
            assert out.shape == (12, 20, 3)
            assert (out == g).all()


def test_jpeg_lossy_roundtrip_error_bounded():
    import numpy as np

    from go_pq_cdc_kafka_spark.functions.jpeg import decode_jpeg, encode_jpeg

    rng = np.random.RandomState(3)
    grad = np.repeat(
        np.repeat((np.arange(32).reshape(32, 1) * 6 + 20).astype(np.uint8),
                  32, 1)[:, :, None], 3, 2)
    assert np.abs(
        decode_jpeg(encode_jpeg(grad, quality=95)).astype(int) - grad
    ).mean() < 3.0
    noise = rng.randint(0, 256, (24, 24, 3)).astype(np.uint8)
    assert np.abs(
        decode_jpeg(encode_jpeg(noise, quality=98)).astype(int) - noise
    ).mean() < 12.0
    # 4:2:0 chroma loss stays bounded on smooth content
    assert np.abs(
        decode_jpeg(encode_jpeg(grad, quality=90, subsample=True)).astype(int)
        - grad
    ).mean() < 6.0


def test_jpeg_unsupported_and_corrupt_raise():
    import numpy as np
    import pytest as _pytest

    from go_pq_cdc_kafka_spark.functions.jpeg import decode_jpeg, encode_jpeg

    with _pytest.raises(ValueError, match="SOI"):
        decode_jpeg(b"GARBAGE!")
    # progressive (SOF2) is a loud NotImplementedError
    arr = np.zeros((8, 8, 3), np.uint8)
    payload = bytearray(encode_jpeg(arr))
    sof = payload.index(b"\xff\xc0")
    payload[sof + 1] = 0xC2
    with _pytest.raises(NotImplementedError, match="baseline"):
        decode_jpeg(bytes(payload))
    # truncated entropy stream is loud
    good = encode_jpeg(arr)
    with _pytest.raises(ValueError):
        decode_jpeg(good[: len(good) // 2])


# --- GIF codec, from the public GIF89a spec ---------------------------------


def test_gif_roundtrip_palette_interlace_and_dict_growth():
    import numpy as np

    from go_pq_cdc_kafka_spark.functions import multimodal as MM
    from go_pq_cdc_kafka_spark.functions.gif import encode_gif

    rng = np.random.RandomState(9)
    pal = rng.randint(0, 256, (16, 3)).astype(np.uint8)
    idx = rng.randint(0, 16, (23, 31)).astype(np.uint8)
    for interlace in (False, True):
        out = MM.decode_image(encode_gif(idx, pal, interlace=interlace))
        assert out.shape == (23, 31, 3)
        # interlace bugs PERMUTE rows; full-array equality pins the order
        assert (out == pal[idx]).all()

    # 256-color random content: LZW dictionary grows through every code
    # width to 4096 and resets via CLEAR
    pal = np.arange(256 * 3, dtype=np.uint8).reshape(256, 3)
    idx = rng.randint(0, 256, (100, 120)).astype(np.uint8)
    assert (MM.decode_image(encode_gif(idx, pal)) == pal[idx]).all()

    # repetitive content actually compresses (and hits the KwKwK case)
    idx = (np.add.outer(np.arange(64), np.arange(64)) % 4).astype(np.uint8)
    pal4 = np.array(
        [[0, 0, 0], [255, 0, 0], [0, 255, 0], [0, 0, 255]], np.uint8
    )
    payload = encode_gif(idx, pal4)
    assert len(payload) < 64 * 64 // 4
    assert (MM.decode_image(payload) == pal4[idx]).all()


def test_gif_corrupt_and_invalid_raise():
    import numpy as np
    import pytest as _pytest

    from go_pq_cdc_kafka_spark.functions.gif import decode_gif, encode_gif

    with _pytest.raises(ValueError, match="not a GIF"):
        decode_gif(b"NOTAGIF!")
    pal = np.array([[0, 0, 0], [255, 255, 255]], np.uint8)
    idx = np.zeros((4, 4), np.uint8)
    good = encode_gif(idx, pal)
    with _pytest.raises(ValueError):
        decode_gif(good[:20])  # truncated mid-stream
    with _pytest.raises(ValueError, match="power of two"):
        encode_gif(idx, np.zeros((3, 3), np.uint8))


def test_wav_g711_mulaw_alaw_decode():
    """G.711 WAV (format tags 7/6): expansion matches the spec tables —
    anchors (mu 0xFF -> 0, A 0x55 -> -8, full-scale extremes), sign
    symmetry, and encode->decode round-trip within one quantization step."""
    import struct

    import numpy as np

    from go_pq_cdc_kafka_spark.functions import multimodal as MM

    def g711_wav(tag, codes, rate=8000, ch=1):
        data = bytes(codes)
        fmt = struct.pack("<HHIIHH", tag, ch, rate, rate * ch, ch, 8)
        body = (b"WAVEfmt " + struct.pack("<I", len(fmt)) + fmt
                + b"data" + struct.pack("<I", len(data)) + data)
        return b"RIFF" + struct.pack("<I", 4 + len(body)) + body

    mu = MM._g711_mulaw_table()
    al = MM._g711_alaw_table()
    # spec anchors (the standard 16-bit expansion values)
    assert mu[0xFF] == 0 and mu[0x7F] == 0
    assert mu[0x80] == 32124 and mu[0x00] == -32124  # full scale
    assert al[0x55] == -8 and al[0xD5] == 8
    assert al[0xAA] == 32256 and al[0x2A] == -32256  # full scale
    # sign symmetry: flipping the sign bit negates (except mu zero codes)
    for c in range(0x81, 0x100):
        assert mu[c] == -mu[c - 0x80]
    for c in range(0x80):
        assert al[c] == -al[c | 0x80]

    # decode through the WAV path
    samples, rate = MM.decode_audio(g711_wav(7, [0xFF, 0x80, 0x00]))
    assert rate == 8000 and samples[:, 0].tolist() == [0, 32124, -32124]
    samples, _ = MM.decode_audio(g711_wav(6, [0x55, 0xAA], ch=2))
    assert samples.shape == (1, 2) and samples[0].tolist() == [-8, 32256]

    # round-trip: spec-side encoder (segment search) -> our decoder lands
    # within the segment's quantization step
    def mulaw_encode(x):
        BIAS = 0x84
        sign = 0x80 if x < 0 else 0
        mag = min(abs(x), 32635) + BIAS
        exp = min(max(mag.bit_length() - 8, 0), 7)
        mant = (mag >> (exp + 3)) & 0xF
        return ~(sign | (exp << 4) | mant) & 0xFF

    rng = np.random.RandomState(12)
    xs = rng.randint(-30000, 30000, 200)
    codes = [mulaw_encode(int(x)) for x in xs]
    dec, _ = MM.decode_audio(g711_wav(7, codes))
    err = np.abs(dec[:, 0] - xs)
    step = np.maximum(np.abs(xs) // 16, 8)  # segment step grows with |x|
    assert (err <= step * 2).all()


# --- TIFF codec, from the public TIFF 6.0 spec ------------------------------


def test_tiff_roundtrip_strips_packbits_and_gray():
    import numpy as np

    from go_pq_cdc_kafka_spark.functions import multimodal as MM
    from go_pq_cdc_kafka_spark.functions.tiff import encode_tiff

    rng = np.random.RandomState(13)
    arr = rng.randint(0, 256, (13, 9, 3)).astype(np.uint8)
    for pb in (False, True):
        for rps in (None, 4):  # single- and multi-strip layouts
            payload = encode_tiff(arr, packbits=pb, rows_per_strip=rps)
            assert payload[:4] == b"II*\x00"
            assert (MM.decode_image(payload) == arr).all(), (pb, rps)
    gray = encode_tiff(arr, grayscale=True, packbits=True, rows_per_strip=3)
    assert (MM.decode_image(gray) == np.repeat(arr[:, :, :1], 3, 2)).all()


def test_tiff_packbits_spec_example_and_long_runs():
    import numpy as np

    from go_pq_cdc_kafka_spark.functions.tiff import (
        _packbits_decode,
        _packbits_encode,
    )

    # spec-style mix: short run, literals, short run
    data = bytes([0xAA] * 3 + [0x80, 0x00] + [0x2A] * 4)
    assert _packbits_decode(_packbits_encode(data), len(data)) == data
    # -128 no-op byte is skipped
    assert _packbits_decode(b"\x80\x00\x41", 1) == b"A"
    # runs > 128 and literals > 128 split into multiple packets
    rng = np.random.RandomState(2)
    data = bytes([7] * 300) + bytes(rng.randint(0, 256, 200).tolist())
    assert _packbits_decode(_packbits_encode(data), len(data)) == data


def test_tiff_bigendian_palette_and_whitezero():
    import struct

    import numpy as np

    from go_pq_cdc_kafka_spark.functions.tiff import decode_tiff, encode_tiff

    # hand-built big-endian paletted file: MM byte order + 16-bit ColorMap
    w, h = 4, 2
    idx = bytes([0, 1, 2, 3, 3, 2, 1, 0])
    cmap = []
    for c in range(3):
        cmap += [((i * 40 + c * 10) % 256) << 8 for i in range(4)]
    entries = [
        (256, 3, 1, struct.pack(">HH", w, 0)),
        (257, 3, 1, struct.pack(">HH", h, 0)),
        (258, 3, 1, struct.pack(">HH", 8, 0)),
        (259, 3, 1, struct.pack(">HH", 1, 0)),
        (262, 3, 1, struct.pack(">HH", 3, 0)),
        (277, 3, 1, struct.pack(">HH", 1, 0)),
        (278, 4, 1, struct.pack(">I", h)),
    ]
    n = len(entries) + 3
    cmap_off = 8 + 2 + n * 12 + 4
    data_off = cmap_off + len(cmap) * 2
    entries += [
        (273, 4, 1, struct.pack(">I", data_off)),
        (279, 4, 1, struct.pack(">I", len(idx))),
        (320, 3, len(cmap), struct.pack(">I", cmap_off)),
    ]
    entries.sort(key=lambda e: e[0])
    payload = b"MM\x00*" + struct.pack(">I", 8) + struct.pack(">H", n)
    for tag, typ, count, val in entries:
        payload += struct.pack(">HHI", tag, typ, count) + val
    payload += struct.pack(">I", 0)
    payload += struct.pack(f">{len(cmap)}H", *cmap)
    payload += idx
    out = decode_tiff(payload)
    assert out.shape == (h, w, 3)
    assert out[0, 1].tolist() == [(40 + c * 10) % 256 for c in range(3)]

    # WhiteIsZero (photometric 0) inverts grayscale
    rng = np.random.RandomState(5)
    arr = rng.randint(0, 256, (5, 6, 3)).astype(np.uint8)
    g = bytearray(encode_tiff(arr, grayscale=True))
    ne = struct.unpack_from("<H", g, 8)[0]
    for i in range(ne):
        base = 10 + i * 12
        if struct.unpack_from("<H", g, base)[0] == 262:
            struct.pack_into("<H", g, base + 8, 0)
    out = decode_tiff(bytes(g))
    assert (out[:, :, 0] == 255 - arr[:, :, 0]).all()


def test_tiff_unsupported_and_corrupt_raise():
    import numpy as np
    import pytest as _pytest

    from go_pq_cdc_kafka_spark.functions.tiff import decode_tiff, encode_tiff

    with _pytest.raises(ValueError, match="not a TIFF"):
        decode_tiff(b"XXXX1234")
    arr = np.zeros((4, 4, 3), np.uint8)
    good = encode_tiff(arr)
    with _pytest.raises(ValueError):
        decode_tiff(good[:30])
    # an unknown compression scheme stays a loud NotImplementedError
    import struct

    g = bytearray(good)
    ne = struct.unpack_from("<H", g, 8)[0]
    for i in range(ne):
        base = 10 + i * 12
        if struct.unpack_from("<H", g, base)[0] == 259:
            struct.pack_into("<H", g, base + 8, 7)  # JPEG-in-TIFF
    with _pytest.raises(NotImplementedError, match="compression 7"):
        decode_tiff(bytes(g))


def test_tiff_lzw_predictor_roundtrip_and_early_change():
    import numpy as np

    from go_pq_cdc_kafka_spark.functions import multimodal as MM
    from go_pq_cdc_kafka_spark.functions.tiff import (
        _tiff_lzw_decode,
        _tiff_lzw_encode,
        encode_tiff,
    )

    rng = np.random.RandomState(21)
    # 20k random bytes push the code width through 9->10->11->12 and over
    # the 4093-entry Clear reset; repetitive data exercises string reuse
    for data in (b"", b"x", bytes([5]) * 4000,
                 bytes(rng.randint(0, 256, 20000).tolist()),
                 (b"abcd" * 2000) + bytes(rng.randint(0, 256, 9000).tolist())):
        assert _tiff_lzw_decode(_tiff_lzw_encode(data), len(data)) == data

    arr = rng.randint(0, 256, (21, 13, 3)).astype(np.uint8)
    for pred in (False, True):
        for rps in (None, 5):
            payload = encode_tiff(arr, lzw=True, predictor=pred,
                                  rows_per_strip=rps)
            assert (MM.decode_image(payload) == arr).all(), (pred, rps)

    # predictor + LZW actually compresses smooth content
    grad = np.repeat(
        np.repeat((np.arange(64, dtype=np.uint8) * 2).reshape(64, 1), 64, 1)
        [:, :, None], 3, 2)
    assert len(encode_tiff(grad, lzw=True, predictor=True)) \
        < len(encode_tiff(grad)) // 4


def test_jpeg_fill_bytes_before_markers_decode():
    """T.81 B.1.1.2 allows any marker to be preceded by optional 0xFF fill
    bytes; real-world encoders emit them for alignment. Insert fill runs
    before every header marker and the decode must be unchanged."""
    import numpy as np

    from go_pq_cdc_kafka_spark.functions.jpeg import decode_jpeg, encode_jpeg

    q8 = np.full((8, 8), 8, np.int32)
    arr = np.full((12, 20, 3), 77, np.uint8)
    payload = encode_jpeg(arr, luma_qtable=q8, chroma_qtable=q8)
    # re-assemble the header with 1-3 fill bytes before each marker
    # (skip SOI; stop padding once the SOS entropy stream begins)
    out = bytearray(payload[:2])
    pos, fills = 2, 0
    while pos + 1 < len(payload):
        assert payload[pos] == 0xFF
        marker = payload[pos + 1]
        fills += 1
        out += b"\xff" * (1 + fills % 3) + payload[pos : pos + 2]
        if marker == 0xDA:  # SOS: copy the rest verbatim
            out += payload[pos + 2 :]
            break
        import struct as _struct

        (seglen,) = _struct.unpack_from(">H", payload, pos + 2)
        out += payload[pos + 2 : pos + 2 + seglen]
        pos += 2 + seglen
    assert fills >= 4  # DQT x2, SOF, DHT x4, SOS at least
    decoded = decode_jpeg(bytes(out))
    assert decoded.shape == (12, 20, 3) and (decoded == 77).all()
