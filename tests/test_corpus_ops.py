"""Tests for the training-data pipeline operators (textops, dedup,
similarity, multimodal) over the driver-generated testdata tables."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from pathways2go_spark import dedup, multimodal, similarity, textops
from pathways2go_spark.datagen import ensure_fixture
from pathways2go_spark.ingest import read_documents
from tests.conftest import FIXTURE_DIR


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/documents.parquet").withColumn(
        "doc_id", F.col("doc_id").cast("string")
    )


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


def test_quality_features(docs):
    q = textops.quality_features(docs)
    row = q.orderBy("doc_id").first()
    assert row["n_tokens"] > 0
    assert 0.0 <= row["stopword_ratio"] <= 1.0
    # n_chars matches the table's own n_chars column
    joined = q.join(docs.select("doc_id", "n_chars"), "doc_id").filter(
        F.col("n_chars_computed") != F.col("n_chars")
    )
    assert joined.count() == 0


def test_language_id(docs):
    lid = textops.language_id(docs)
    # corpus is English-ish wordlists: most rows should classify en
    n = lid.count()
    n_en = lid.filter(F.col("lang_pred") == "en").count()
    assert n_en > n * 0.5


def test_fingerprint_deterministic(docs):
    a = textops.fingerprint(docs).orderBy("doc_id").limit(5).collect()
    b = textops.fingerprint(docs).orderBy("doc_id").limit(5).collect()
    assert a == b


def test_exact_duplicates(spark):
    df = spark.createDataFrame(
        [("d1", "same text"), ("d2", "same text"), ("d3", "other")],
        ["doc_id", "text"],
    )
    groups = dedup.exact_duplicates(df).collect()
    assert len(groups) == 1
    assert groups[0]["doc_ids"] == ["d1", "d2"]
    assert groups[0]["keeper"] == "d1"


def test_ngram_jaccard_and_minhash_agree(spark):
    base = "the quick brown fox jumps over the lazy dog again and again today"
    rows = [
        ("a", base),
        ("b", base + " extra"),                      # near-dup of a
        ("c", "completely different words here that share nothing at all ok"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    jac = dedup.ngram_jaccard_pairs(df, threshold=0.5).collect()
    assert {(r["a"], r["b"]) for r in jac} == {("a", "b")}
    mh = dedup.minhash_lsh_pairs(df, k=32, bands=8, threshold=0.5).collect()
    assert {(r["a"], r["b"]) for r in mh} == {("a", "b")}


def test_minhash_lsh_bucket_cap(spark):
    """A mass-duplicated template (B identical docs in one band bucket)
    must not explode into B^2/2 candidates: over-cap buckets emit a
    doc_id-ordered chain (B-1 pairs) that still keeps the bucket one
    connected component, while under-cap buckets keep all-pairs."""
    template = "identical boilerplate template text repeated verbatim in every copy"
    n_dup = 40
    rows = [(f"t{i:02d}", template) for i in range(n_dup)] + [
        ("z1", "a genuinely unique document about something else entirely ok"),
        ("z2", "another unrelated document with its own distinct words here"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    capped = dedup.minhash_lsh_pairs(
        df, k=32, bands=8, threshold=0.99, max_bucket=8
    ).collect()
    tpairs = {(r["a"], r["b"]) for r in capped if r["a"].startswith("t")}
    # chain, not all-pairs: exactly B-1 links (every band yields the SAME
    # sorted chain over identical docs, so the union stays B-1)
    assert tpairs == {(f"t{i:02d}", f"t{i + 1:02d}") for i in range(n_dup - 1)}
    assert all(abs(r["est_jaccard"] - 1.0) < 1e-9 for r in capped)
    # connectivity: the chain spans all B template docs
    seen = {d for p in tpairs for d in p}
    assert len(seen) == n_dup
    # no cross-contamination with the distinct docs
    assert not any("z" in a or "z" in b for a, b in tpairs)
    # uncapped control: the same corpus yields the full B^2/2 pair set
    full = dedup.minhash_lsh_pairs(
        df, k=32, bands=8, threshold=0.99, max_bucket=None
    ).collect()
    assert len({(r["a"], r["b"]) for r in full if r["a"].startswith("t")}) == (
        n_dup * (n_dup - 1) // 2
    )
    # under-cap buckets are untouched: 3 dups with cap 8 -> all 3 pairs
    small = spark.createDataFrame(
        [(f"s{i}", template) for i in range(3)], ["doc_id", "text"]
    )
    sp = dedup.minhash_lsh_pairs(
        small, k=32, bands=8, threshold=0.99, max_bucket=8
    ).collect()
    assert len(sp) == 3


def test_simhash_near_pairs(spark):
    rows = [
        ("a", "alpha beta gamma delta epsilon zeta eta theta"),
        ("b", "alpha beta gamma delta epsilon zeta eta theta"),  # identical
        ("c", "one two three four five six seven eight"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    pairs = dedup.simhash_near_pairs(df, max_hamming=3).collect()
    assert {(r["a"], r["b"], r["hamming"]) for r in pairs} == {("a", "b", 0)}
    # blocked candidate generation == brute force for distance <= 3
    sigs = {r["doc_id"]: r["simhash"] for r in dedup.simhash(df).collect()}
    ids = sorted(sigs)
    brute = {
        (x, y)
        for i, x in enumerate(ids)
        for y in ids[i + 1:]
        if bin(sigs[x] ^ sigs[y]).count("1") <= 3
    }
    assert {(r["a"], r["b"]) for r in pairs} == brute


def test_cosine_topk_exact_vs_lsh(emb):
    q = emb.filter(F.col("vec_id") == 0).first()["embedding"]
    exact = similarity.cosine_topk(emb, q, k=5).collect()
    assert exact[0]["vec_id"] == 0 and abs(exact[0]["cosine"] - 1.0) < 1e-9
    ann = similarity.ann_topk_lsh(emb, q, k=5).collect()
    assert ann[0]["vec_id"] == 0
    # the self-match bucket always contains the query itself
    assert {r["vec_id"] for r in ann} <= {r["vec_id"] for r in
                                          similarity.cosine_topk(emb, q, k=500).collect()}


def test_embedding_near_dupes_self_join(spark, emb):
    dup = emb.limit(3).withColumn("vec_id", F.col("vec_id") + 100000)
    both = emb.limit(3).unionByName(dup)
    pairs = dedup.embedding_near_dupes(both, threshold=0.999).collect()
    assert {(r["a"], r["b"]) for r in pairs} == {(i, i + 100000) for i in range(3)}


def test_media_pipeline(spark):
    paths = ensure_fixture(FIXTURE_DIR, replicas=1)
    documents = read_documents(spark, paths["documents"])
    media = multimodal.media_table(documents)
    assert media.count() > 0
    assert media.filter(F.col("media_kind") != "img").count() == 0
    feats = multimodal.extract_features(media, dim=8).collect()
    assert all(len(r["feature"]) == 8 for r in feats)
    # deterministic features
    again = multimodal.extract_features(media, dim=8).collect()
    assert sorted(r["media_ref"] for r in feats) == sorted(r["media_ref"] for r in again)
    sampled = multimodal.sample_frames(media, every_n=2)
    assert 0 < sampled.count() <= media.count()


def test_decode_image_raises_without_codec():
    # no PIL/imageio in this image: the image route must raise, not guess
    with pytest.raises(NotImplementedError):
        multimodal.decode_media(b"bytes", "img")


def _wav_bytes(samples, rate=8000):
    import io
    import wave

    import numpy as np

    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(rate)
        w.writeframes(np.asarray(samples, dtype=np.int16).tobytes())
    return buf.getvalue()


def test_decode_wav_real():
    import numpy as np

    samples = [0, 1000, -1000, 32000, -32000, 5]
    out = multimodal.decode_media(_wav_bytes(samples), "wav")
    assert out.dtype == np.float32
    assert out.tolist() == [float(s) for s in samples]


def test_extract_features_decode_and_auto(spark):
    """mode='decode' really decodes WAV payloads (feature = normalized
    resample of the samples, NOT the byte-hash); mode='auto' decodes the
    wav row and hash-falls-back on the codec-less img row with identical
    schema; mode='decode' raises on the img row."""
    import numpy as np

    wav = _wav_bytes(list(range(-16000, 16000, 500)))
    rows = [
        ("d1", "wav://a", "cap", bytearray(wav), "wav"),
        ("d2", "img://b", "cap", bytearray(b"not-an-image"), "img"),
    ]
    media = spark.createDataFrame(rows, multimodal.MEDIA_SCHEMA)
    wav_only = media.filter(F.col("media_kind") == "wav")

    dec = {r["media_ref"]: r["feature"]
           for r in multimodal.extract_features(wav_only, dim=8, mode="decode").collect()}
    hsh = {r["media_ref"]: r["feature"]
           for r in multimodal.extract_features(wav_only, dim=8, mode="hash").collect()}
    assert dec["wav://a"] != hsh["wav://a"]
    # decode route = peak-normalized fixed-stride resample of the samples
    sam = multimodal.decode_media(wav, "wav")
    idx = (np.arange(8, dtype=np.int64) * sam.size) // 8
    expect = (sam[idx] / max(1.0, float(np.abs(sam).max()))).astype(np.float32)
    assert np.allclose(dec["wav://a"], expect)

    auto = {r["media_ref"]: r["feature"]
            for r in multimodal.extract_features(media, dim=8, mode="auto").collect()}
    assert auto["wav://a"] == dec["wav://a"]  # decoded
    hsh_img = multimodal.extract_features(
        media.filter(F.col("media_kind") == "img"), dim=8, mode="hash"
    ).first()["feature"]
    assert auto["img://b"] == hsh_img  # documented fallback

    with pytest.raises(Exception):
        multimodal.extract_features(media, dim=8, mode="decode").collect()


def _png_filter_line(line, prev, bpp, ft):
    """Forward PNG filter (the encoder side of multimodal._png_unfilter)."""
    out = bytearray()
    for x in range(len(line)):
        a = line[x - bpp] if x >= bpp else 0
        b = prev[x]
        c = prev[x - bpp] if x >= bpp else 0
        if ft == 0:
            pred = 0
        elif ft == 1:
            pred = a
        elif ft == 2:
            pred = b
        elif ft == 3:
            pred = (a + b) >> 1
        else:
            p = a + b - c
            pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
            pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
        out.append((line[x] - pred) & 255)
    return bytes(out)


def _png_bytes(px, ctype, filters=None, palette=None):
    """Minimal PNG encoder for test fixtures: px is a (h, w, ch) or (h, w)
    uint8 array; one filter type per scanline (default all 0)."""
    import struct
    import zlib

    import numpy as np

    px = np.asarray(px, dtype=np.uint8)
    h, w = px.shape[:2]
    ch = 1 if px.ndim == 2 else px.shape[2]
    flat = px.reshape(h, w * ch)
    filters = filters or [0] * h
    raw = b""
    prev = bytes(w * ch)
    for y in range(h):
        line = bytes(flat[y])
        raw += bytes([filters[y]]) + _png_filter_line(line, prev, ch, filters[y])
        prev = line

    def chunk(tag, data):
        return (
            struct.pack(">I", len(data)) + tag + data
            + struct.pack(">I", zlib.crc32(tag + data))
        )

    ihdr = struct.pack(">IIBBBBB", w, h, 8, ctype, 0, 0, 0)
    out = b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
    if palette is not None:
        out += chunk(b"PLTE", np.asarray(palette, dtype=np.uint8).tobytes())
    return out + chunk(b"IDAT", zlib.compress(raw)) + chunk(b"IEND", b"")


def test_decode_png_all_filters():
    import numpy as np

    rng = np.random.default_rng(7)
    px = rng.integers(0, 256, size=(5, 4, 3), dtype=np.uint8)
    for filters in ([0] * 5, [0, 1, 2, 3, 4], [4, 3, 2, 1, 0]):
        blob = _png_bytes(px, ctype=2, filters=list(filters))
        out = multimodal.decode_media(blob, "img")
        assert out.dtype == np.float32
        assert out.tolist() == px.astype(np.float32).ravel().tolist()


def test_decode_png_gray_alpha_palette():
    import numpy as np

    gray = np.arange(12, dtype=np.uint8).reshape(3, 4)
    assert multimodal.decode_media(
        _png_bytes(gray, ctype=0, filters=[0, 1, 4]), "img"
    ).tolist() == gray.astype(np.float32).ravel().tolist()

    rgba = np.arange(48, dtype=np.uint8).reshape(3, 4, 4)
    assert multimodal.decode_media(
        _png_bytes(rgba, ctype=6, filters=[2, 4, 3]), "img"
    ).tolist() == rgba.astype(np.float32).ravel().tolist()

    palette = [[255, 0, 0], [0, 255, 0], [0, 0, 255]]
    idx = np.array([[0, 1], [2, 0]], dtype=np.uint8)
    out = multimodal.decode_media(
        _png_bytes(idx, ctype=3, palette=palette), "img"
    )
    expect = np.array(palette, dtype=np.float32)[idx.ravel()].ravel()
    assert out.tolist() == expect.tolist()


def test_decode_ppm_pgm():
    import numpy as np

    rgb = bytes(range(2 * 2 * 3))
    blob = b"P6\n# a comment\n2 2\n255\n" + rgb
    assert multimodal.decode_media(blob, "img").tolist() == [float(b) for b in rgb]
    gray = bytes([9, 8, 7, 6])
    blob = b"P5 2 2 255 " + gray
    assert multimodal.decode_media(blob, "img").tolist() == [9.0, 8.0, 7.0, 6.0]
    assert multimodal.decode_media(blob, "img").dtype == np.float32


def test_decode_bmp_24bit_bottom_up():
    import struct

    import numpy as np

    # 3x2 RGB image; BMP stores BGR rows bottom-up, padded to 4 bytes
    px = np.arange(18, dtype=np.uint8).reshape(2, 3, 3)
    rows = b""
    for y in (1, 0):  # bottom-up
        row = px[y][:, [2, 1, 0]].tobytes()  # RGB -> BGR
        rows += row + b"\x00" * ((-len(row)) % 4)
    header = (
        b"BM" + struct.pack("<IHHI", 54 + len(rows), 0, 0, 54)
        + struct.pack("<IiiHHIIiiII", 40, 3, 2, 1, 24, 0, len(rows), 0, 0, 0, 0)
    )
    out = multimodal.decode_media(header + rows, "img")
    assert out.tolist() == px.astype(np.float32).ravel().tolist()


def test_extract_features_auto_decodes_png(spark):
    """A PNG payload on the img route now decodes REAL under mode='auto'
    (stdlib decoder) — the feature is the resampled pixels, not the hash."""
    import numpy as np

    px = np.arange(64 * 3, dtype=np.uint8).reshape(8, 8, 3)
    blob = _png_bytes(px, ctype=2)
    rows = [("d1", "img://p", "cap", bytearray(blob), "img")]
    media = spark.createDataFrame(rows, multimodal.MEDIA_SCHEMA)
    feat = multimodal.extract_features(media, dim=8, mode="auto").first()["feature"]
    sam = px.astype(np.float32).ravel()
    idx = (np.arange(8, dtype=np.int64) * sam.size) // 8
    expect = (sam[idx] / max(1.0, float(np.abs(sam).max()))).astype(np.float32)
    assert np.allclose(feat, expect)


def test_kmeans_fit_deterministic_and_improving(spark, sf_dir):
    """Lloyd trainer: deterministic across repartitionings (exact_mean),
    and the trained codebook assigns vectors closer (higher mean max-sim)
    than the raw init codebook."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    c1 = similarity.kmeans_fit(emb, k=4, iters=2, exact_mean=True)
    c2 = similarity.kmeans_fit(emb.repartition(13), k=4, iters=2, exact_mean=True)
    assert c1 == c2
    init = [
        [float(x) for x in r.embedding]
        for r in emb.filter(F.col("vec_id") < 4).orderBy("vec_id").collect()
    ]

    def mean_max_sim(cents):
        scored = emb.select(
            F.array_max(similarity.centroid_scores(F.col("embedding"), cents))
            .alias("s")
        )
        return scored.agg(F.avg("s")).head()[0]

    assert mean_max_sim(c1) >= mean_max_sim(init)


def test_sign_bucket_hyperplanes_spread_nonneg(spark, sf_dir):
    """All-positive vectors collapse to one bucket under raw-dim signs but
    spread under the seeded hyperplane projection."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").limit(200)
    pos = emb.withColumn("embedding", F.transform("embedding", lambda x: F.abs(x)))
    raw = pos.withColumn("b", similarity.sign_bucket(F.col("embedding"), 8))
    proj = pos.withColumn("b", similarity.sign_bucket(F.col("embedding"), 8, 64))
    assert raw.select("b").distinct().count() == 1
    assert proj.select("b").distinct().count() > 8
    # driver-side query bucket agrees with the DataFrame-side bucket
    row = emb.orderBy("vec_id").head()
    q = [float(x) for x in row.embedding]
    qb = similarity.query_sign_bucket(q, 8, 64)
    got = (
        emb.filter(F.col("vec_id") == row.vec_id)
        .select(similarity.sign_bucket(F.col("embedding"), 8, 64).alias("b"))
        .head()["b"]
    )
    assert qb == got


def test_ngram_jaccard_df_cap_preserves_exactness(spark):
    """A hub shingle shared by every doc is dropped from blocking by the
    df cap, but verification over full shingle sets keeps Jaccard exact."""
    hub = "the of and"
    rows = [(i, f"{hub} unique{i} tail{i} word{i} extra{i}") for i in range(20)]
    rows.append((100, f"{hub} unique1 tail1 word1 extra1"))  # dup of doc 1
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    capped = dedup.ngram_jaccard_pairs(df, threshold=0.9, max_df=5)
    uncapped = dedup.ngram_jaccard_pairs(df, threshold=0.9, max_df=None)
    a = sorted((r["a"], r["b"], r["jaccard"]) for r in capped.collect())
    b = sorted((r["a"], r["b"], r["jaccard"]) for r in uncapped.collect())
    assert a == b == [(1, 100, 1.0)]


def test_ann_ivf_matches_bruteforce_top1(spark, sf_dir):
    """IVF with probe covering the query's own cell must return the query
    vector itself as top-1 (cosine 1.0)."""
    from pyspark.sql import functions as F

    from pathways2go_spark import similarity as SIM

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = [float(x) for x in emb.filter(F.col("vec_id") == 0).head().embedding]
    cents = [
        [float(x) for x in r.embedding]
        for r in emb.filter(F.col("vec_id") < 8).orderBy("vec_id").collect()
    ]
    top = SIM.ann_topk_ivf(emb, q, cents, k=3, probe=2, round_to=6).collect()
    assert top[0].vec_id == 0
    assert abs(top[0].cosine - 1.0) < 1e-9


def test_duplicate_clusters_connected_components(spark):
    from pathways2go_spark.dedup import duplicate_clusters

    # two non-trivial components + one pair; includes a cycle, a star,
    # and a long chain (forces several propagation rounds)
    pairs = spark.createDataFrame(
        [
            # component {1,2,3,4,5}: chain + back edge (cycle)
            (2, 1), (2, 3), (3, 4), (4, 5), (5, 2),
            # component {10,11,12,13}: star around 12
            (12, 10), (12, 11), (13, 12),
            # component {20,21}
            (21, 20),
            # long chain {30..37} in descending discovery order
            (37, 36), (36, 35), (35, 34), (34, 33), (33, 32), (32, 31),
            (31, 30),
        ],
        "a long, b long",
    )
    got = {(r.doc_id, r.cluster_id)
           for r in duplicate_clusters(pairs).collect()}
    want = (
        {(i, 1) for i in (1, 2, 3, 4, 5)}
        | {(i, 10) for i in (10, 11, 12, 13)}
        | {(i, 20) for i in (20, 21)}
        | {(i, 30) for i in range(30, 38)}
    )
    assert got == want


def test_dedupe_documents_keeps_canonicals_and_untouched(spark):
    from pathways2go_spark.dedup import dedupe_documents

    docs = spark.createDataFrame(
        [(i, f"text {i}") for i in (1, 2, 3, 10, 11, 99)],
        "doc_id long, text string",
    )
    pairs = spark.createDataFrame([(2, 1), (2, 3), (11, 10)], "a long, b long")
    kept = sorted(r.doc_id for r in dedupe_documents(docs, pairs).collect())
    # one canonical per cluster (min id) + the untouched doc
    assert kept == [1, 10, 99]


def test_duplicate_clusters_string_ids_deep_chain(spark):
    """Regression: convergence must not depend on numeric labels.
    sum(doc_id) convergence crashed (ANSI) or silently under-merged
    (sum(string) = NULL -> one-round exit) on string ids; the
    changed-count test handles any id type."""
    from pathways2go_spark.dedup import duplicate_clusters

    chain = [(f"doc{i + 1:02d}", f"doc{i:02d}") for i in range(7)]
    pairs = spark.createDataFrame(chain, "a string, b string")
    got = {(r.doc_id, r.cluster_id) for r in duplicate_clusters(pairs).collect()}
    assert got == {(f"doc{i:02d}", "doc00") for i in range(8)}


def test_simhash_64bit(spark):
    rows = [
        ("a", "alpha beta gamma delta epsilon zeta eta theta"),
        ("b", "alpha beta gamma delta epsilon zeta eta theta"),
        ("c", "one two three four five six seven eight"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    sigs = {r["doc_id"]: r["simhash"] for r in dedup.simhash(df, bits=64).collect()}
    assert sigs["a"] == sigs["b"] != sigs["c"]
    # upper 32 bits are populated (not a zero-extended 32-bit signature)
    assert any((s >> 32) & 0xFFFFFFFF not in (0, 0xFFFFFFFF) for s in sigs.values())
    pairs = dedup.simhash_near_pairs(df, max_hamming=3, bits=64).collect()
    assert {(r["a"], r["b"], r["hamming"]) for r in pairs} == {("a", "b", 0)}
    # 64-bit blocked candidates == brute force for distance <= 3
    ids = sorted(sigs)
    brute = {
        (x, y)
        for i, x in enumerate(ids)
        for y in ids[i + 1:]
        if bin((sigs[x] ^ sigs[y]) & (2**64 - 1)).count("1") <= 3
    }
    assert {(r["a"], r["b"]) for r in pairs} == brute


def test_simhash_rejects_bad_bits(spark):
    df = spark.createDataFrame([("a", "x y z")], ["doc_id", "text"])
    with pytest.raises(ValueError):
        dedup.simhash(df, bits=48)


def test_kmeans_fit_k_exceeds_rows(spark):
    rows = [(i, [float(i), 1.0 - i]) for i in range(3)]
    emb3 = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cents = similarity.kmeans_fit(emb3, k=8, iters=2)
    assert len(cents) == 3
    with pytest.raises(ValueError):
        similarity.kmeans_fit(emb3.filter(F.col("vec_id") < 0), k=4)


def test_pii_counts_and_redaction(spark):
    rows = [
        (1, "reach me at jo.doe+x@mail.co or 192.168.0.1, ssn 123-45-6789 "
            "tel 555-123-4567"),
        (2, "no pii here at all"),
    ]
    d = spark.createDataFrame(rows, ["doc_id", "text"])
    c = {r["doc_id"]: r for r in textops.pii_counts(d).collect()}
    assert (c[1]["n_email"], c[1]["n_ipv4"], c[1]["n_ssn"], c[1]["n_phone"]) == (
        1, 1, 1, 1,
    )
    assert (c[2]["n_email"], c[2]["n_ipv4"], c[2]["n_ssn"], c[2]["n_phone"]) == (
        0, 0, 0, 0,
    )
    red = {r["doc_id"]: r["redacted"] for r in textops.redact_pii(d).collect()}
    # ssn redacts BEFORE phone (overlap order), email/ip get their own tags
    assert red[1] == (
        "reach me at <EMAIL> or <IPV4>, ssn <SSN> tel <PHONE>"
    )
    assert red[2] == "no pii here at all"


def test_classifier_score_deterministic(spark):
    d = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, "alpha beta gamma"), (3, "zzz qqq")],
        ["doc_id", "text"],
    )
    out = {r["doc_id"]: r for r in textops.classifier_score(d).collect()}
    assert out[1]["score"] == out[2]["score"]  # same text, same score
    assert out[1]["label"] in ("keep", "drop")
    assert -0.5 <= out[3]["score"] <= 0.5


def test_paragraph_dedup_first_occurrence_wins(spark):
    a = " ".join(f"w{i}" for i in range(10))  # one exact 10-token chunk
    b = " ".join(f"x{i}" for i in range(10))
    rows = [
        (1, f"{a} {b}"),   # chunks: a, b  (both first occurrences)
        (2, f"{b} {a}"),   # chunks: b, a  (both duplicates of doc 1)
        (3, a),            # duplicate of doc 1 chunk 0
        (4, "unique little text"),
    ]
    d = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r["doc_id"]: r for r in dedup.paragraph_dedup(d, window=10).collect()}
    assert (out[1]["n_chunks"], out[1]["n_kept"]) == (2, 2)
    assert (out[2]["n_chunks"], out[2]["n_kept"]) == (2, 0)
    assert (out[3]["n_chunks"], out[3]["n_kept"]) == (1, 0)
    assert (out[4]["n_chunks"], out[4]["n_kept"]) == (1, 1)
    # fully-deduped docs fingerprint the empty string, deterministically
    assert out[2]["kept_md5"] == out[3]["kept_md5"]
    # result invariant under physical partitioning
    out2 = {r["doc_id"]: r for r in
            dedup.paragraph_dedup(d.repartition(7), window=10).collect()}
    assert out == out2


def test_decontaminate_flags_and_drops(spark):
    bench = spark.createDataFrame(
        [(100, "the quick brown fox jumps over the lazy dog")],
        ["doc_id", "text"],
    )
    train = spark.createDataFrame(
        [
            (1, "we saw the quick brown fox jumps today"),  # shares a 5-gram
            (2, "completely unrelated training content here okay"),
        ],
        ["doc_id", "text"],
    )
    out = {r["doc_id"]: r for r in
           dedup.decontaminate(train, bench, n=5).collect()}
    assert out[1]["contaminated"] and out[1]["n_contam"] >= 1
    assert not out[2]["contaminated"] and out[2]["n_contam"] == 0
    clean = dedup.decontaminate(train, bench, n=5, drop=True)
    assert [r["doc_id"] for r in clean.collect()] == [2]


def test_bigram_lm_score_hand_computed(spark):
    # self-trained add-1 bigram LM; counts small enough to verify by hand:
    # bc = {(a,b):3, (b,a):1, (b,c):1}, cc = {a:3, b:2}, V = |{a,b,c,z}| = 4
    d = spark.createDataFrame(
        [(1, "a b a b"), (2, "a b c"), (3, "z")], ["doc_id", "text"]
    )
    out = {r["doc_id"]: r for r in textops.bigram_lm_score(d).collect()}
    # doc1: nll = [-ln(4/7), -ln(2/6), -ln(4/7)] -> xent 0.739281
    assert out[1]["n_bigrams"] == 3
    assert out[1]["xent"] == pytest.approx(0.739281, abs=1e-6)
    # doc2: [-ln(4/7), -ln(2/6)] / 2 = 0.829114
    assert out[2]["xent"] == pytest.approx(0.829114, abs=1e-6)
    # single-token doc: no bigrams, no evidence, kept
    assert (out[3]["n_bigrams"], out[3]["xent"], out[3]["lm_ok"]) == (
        0, None, True,
    )

    # external train corpus + fully unseen context: P = k/(0 + k*V)
    t = spark.createDataFrame([(10, "a b a b"), (11, "a b c")], ["doc_id", "text"])
    q = spark.createDataFrame([(1, "z q")], ["doc_id", "text"])
    # V = 3 ({a,b,c}); unseen w1 -> nll = ln(3) = 1.098612
    o = textops.bigram_lm_score(q, train=t).collect()[0]
    assert o["xent"] == pytest.approx(1.098612, abs=1e-6)

    # physical-partitioning invariance (the sorted-fold determinism)
    out2 = {r["doc_id"]: r for r in
            textops.bigram_lm_score(d.repartition(7)).collect()}
    assert {k: (v["n_bigrams"], v["xent"]) for k, v in out.items()} == {
        k: (v["n_bigrams"], v["xent"]) for k, v in out2.items()
    }


def test_inverted_index_postings_and_max_df(spark):
    from pathways2go_spark.textops import inverted_index

    df = spark.createDataFrame(
        [
            (1, "apple banana apple"),
            (2, "banana cherry"),
            (10, "banana  apple"),
        ],
        ["doc_id", "text"],
    )
    idx = {r.term: (r.df, r.postings)
           for r in inverted_index(df).collect()}
    # duplicate in-doc occurrences collapse; postings in numeric order
    assert idx["apple"] == (2, "1,10")
    assert idx["banana"] == (3, "1,2,10")
    assert idx["cherry"] == (1, "2")
    capped = {r.term for r in inverted_index(df, max_df=2).collect()}
    assert capped == {"apple", "cherry"}  # banana (df=3) dropped


def test_tfidf_top_terms_rank_and_rounding(spark):
    from pathways2go_spark.textops import tfidf_top_terms

    df = spark.createDataFrame(
        [
            (1, "x x x common"),
            (2, "y common"),
            (3, "common common z"),
        ],
        ["doc_id", "text"],
    )
    out = {(r.doc, r.rank): (r.term, r.tf, r.df)
           for r in tfidf_top_terms(df, k=2).collect()}
    # doc 1: x (tf=3, df=1) outranks common (tf=1, df=3)
    assert out[(1, 1)][0] == "x" and out[(1, 2)][0] == "common"
    # doc 3: common tf=2 df=3 -> tfidf = 2*round6(ln(4/4)+1) = 2.0;
    # z tf=1 df=1 -> round6(ln(2)+1) ~= 1.693147 -> common ranks first
    assert out[(3, 1)] == ("common", 2, 3)
    assert out[(3, 2)] == ("z", 1, 1)


def test_semantic_dedup_cluster_local_first_occurrence(spark):
    # two tight semantic clusters (x-axis-ish, y-axis-ish) + one singleton;
    # within a cluster the lowest vec_id survives, near-twins drop, and
    # cross-cluster similarity never triggers a drop.
    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [0.0, 1.0, 0.0, 0.0]),
        (2, [0.999, 0.01, 0.0, 0.0]),   # twin of 0
        (3, [0.01, 0.999, 0.0, 0.0]),   # twin of 1
        (4, [0.0, 0.0, 1.0, 0.0]),      # singleton direction
        (5, [0.98, 0.05, 0.0, 0.0]),    # second twin of 0
    ]
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"])
    out = {r.vec_id: (r.cell, r.kept)
           for r in dedup.semantic_dedup(emb, k=2, iters=1,
                                         threshold=0.99).collect()}
    assert len(out) == 6
    # cluster seeds survive
    assert out[0][1] is True and out[1][1] is True
    # twins drop (same cell as their seed, cosine > 0.99)
    assert out[2] == (out[0][0], False)
    assert out[3] == (out[1][0], False)
    assert out[5] == (out[0][0], False)
    # the singleton direction is kept even though it shares a cell
    assert out[4][1] is True


def test_boilerplate_census_semantics(spark):
    from pyspark.sql import functions as F

    from pathways2go_spark.textops import boilerplate_census

    footer = "all rights reserved by the example site contact us today"
    uniq_a = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    uniq_b = "one two three four five six seven eight nine ten"
    rows = [
        (1, f"{uniq_a} {footer}"),
        (2, f"{uniq_b} {footer}"),
        (3, uniq_a.replace("alpha", "omega")),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r["doc_id"]: r
        for r in boilerplate_census(df, min_df=2, window=10).collect()
    }
    # the footer chunk appears in docs 1 and 2 -> boilerplate in BOTH
    # (first occurrence dropped too, unlike paragraph_dedup)
    assert out[1]["n_chunks"] == 2 and out[1]["n_boiler"] == 1
    assert out[2]["n_chunks"] == 2 and out[2]["n_boiler"] == 1
    assert out[3]["n_boiler"] == 0
    import hashlib

    assert out[3]["clean_md5"] == hashlib.md5(
        uniq_a.replace("alpha", "omega").encode()
    ).hexdigest()
    # all-boilerplate doc fingerprints the empty string
    dup = spark.createDataFrame(
        [(1, footer), (2, footer)], "doc_id long, text string"
    )
    o2 = boilerplate_census(dup, min_df=2, window=10).collect()
    empty = hashlib.md5(b"").hexdigest()
    assert all(r["clean_md5"] == empty and r["boiler_ratio"] == 1.0
               for r in o2)


def test_editdist_pairs_blocking_and_hub_cap(spark):
    from pathways2go_spark.dedup import editdist_pairs

    base = "the quick brown fox jumps over the lazy dog near the river"
    rows = [
        (1, base),
        (2, base + " xx"),          # distance 3 from doc 1 (same prefix)
        (3, base + " zz yy"),       # distance 6 from doc 1 -> above cap
        (4, "completely different text that shares no forty-char prefix"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        (r["doc_a"], r["doc_b"]): r["dist"]
        for r in editdist_pairs(df, prefix_len=40, max_dist=4).collect()
    }
    # only the tail-mutated twin survives the distance cap
    assert out == {(1, 2): 3}
    # hub guard: a block bigger than max_block emits NO pairs at all
    hub = spark.createDataFrame(
        [(i, base + f" {i}") for i in range(10)], "doc_id long, text string"
    )
    assert editdist_pairs(hub, prefix_len=40, max_dist=4, max_block=3).count() == 0


def test_incremental_dedup_one_sided_exchange(spark, tmp_path):
    """The daily new-crawl-vs-corpus probe: the bucketed signature store
    contributes NO Exchange to the probe join — only the (small) batch
    side shuffles. Also checks match semantics: exact twins hit at
    est_jaccard 1.0, fresh docs find nothing."""
    from pathways2go_spark.dedup import (
        dedup_against_index,
        write_minhash_index,
    )

    corpus = spark.createDataFrame(
        [(i, f"alpha beta gamma delta epsilon zeta eta theta doc {i}")
         for i in range(20)],
        "doc_id long, text string",
    )
    write_minhash_index(
        spark, corpus, str(tmp_path / "mhidx"), "mh_test_store",
        n=3, k=32, bands=8, buckets=8,
    )
    batch = spark.createDataFrame(
        [(1000, "alpha beta gamma delta epsilon zeta eta theta doc 3"),
         (1001, "totally unrelated words nowhere near the corpus rows")],
        "doc_id long, text string",
    )
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        out = dedup_against_index(
            spark, batch, "mh_test_store", n=3, k=32, bands=8,
            threshold=0.99,
        )
        plan = out._jdf.queryExecution().executedPlan().toString()
        # all three exchanges are O(batch): the batch's own signing
        # aggregate, the probe-side repartition into the store's bucket
        # layout, and the verify groupBy. The store scan itself is
        # bucketed — no O(corpus) exchange anywhere.
        n_exch = plan.count("Exchange hashpartitioning")
        assert n_exch == 3, plan
        assert "Bucketed: true" in plan, plan
        rows = {(r.batch_id, r.corpus_id): r.est_jaccard
                for r in out.collect()}
        assert rows == {(1000, 3): 1.0}
        # contrast: the same probe against the store read as PLAIN
        # parquet adds a fourth, O(corpus) exchange — the one the
        # bucket layout removed
        plain = spark.read.parquet(str(tmp_path / "mhidx"))
        plain.createOrReplaceTempView("mh_plain_store")
        out2 = dedup_against_index(
            spark, batch, "mh_plain_store", n=3, k=32, bands=8,
            threshold=0.99,
        )
        plan2 = out2._jdf.queryExecution().executedPlan().toString()
        assert plan2.count("Exchange hashpartitioning") == 4, plan2
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        spark.sql("DROP TABLE IF EXISTS mh_test_store")


def test_knn_join_multiprobe_and_self_exclusion(spark):
    """knn_join finds every hamming-<=1-bucket neighbor for EVERY query
    in one join, ranks by round-6 cosine with nbr_id tie-break, and
    drops self matches. Raw-dim sign buckets (dim=None, planes=2) make
    the bucket arithmetic checkable by hand: query [1,1,0,0] sits in
    bucket 3; ids 1-2 share it, id 4 (bucket 1) is one flip away and
    reachable, id 3 (bucket 0) is two flips away and invisible even
    though its cosine (-1) would rank last anyway."""
    from pathways2go_spark.similarity import knn_join

    corpus = spark.createDataFrame(
        [
            (1, [1.0, 1.0, 0.0, 0.0]),
            (2, [1.0, 1.0, 0.2, 0.0]),
            (3, [-1.0, -1.0, 0.0, 0.0]),
            (4, [1.0, -1.0, 0.0, 0.0]),
        ],
        "vec_id long, embedding array<double>",
    )
    queries = spark.createDataFrame(
        [(1, [1.0, 1.0, 0.0, 0.0])],
        "vec_id long, embedding array<double>",
    )
    out = knn_join(
        queries, corpus, k=3, planes=2, dim=None, exclude_self=True
    ).collect()
    got = [(r.rank, r.nbr_id, r.cosine) for r in sorted(out, key=lambda r: r.rank)]
    # self (id 1) excluded; id 2 nearly parallel; id 4 orthogonal;
    # id 3 unreachable (bucket hamming 2)
    assert [g[1] for g in got] == [2, 4]
    assert got[0][2] > 0.99 and abs(got[1][2]) < 1e-9
    # without exclude_self the query's own twin ranks first at 1.0
    out2 = knn_join(queries, corpus, k=3, planes=2, dim=None).collect()
    first = min(out2, key=lambda r: r.rank)
    assert (first.nbr_id, first.cosine) == (1, 1.0)


def test_lsh_recall_semantics(spark):
    # three exact twins (always bucket together => hits), one unrelated
    # doc, and one low-overlap pair that must NOT enter the truth set
    rows = []
    for i, base in enumerate(
        ["alpha beta gamma delta epsilon zeta eta theta",
         "one two three four five six seven eight nine ten",
         "red green blue yellow purple orange pink brown"]
    ):
        rows.append((i * 2, base))
        rows.append((i * 2 + 1, base))  # exact twin: jaccard 1.0
    rows.append((100, "totally unrelated words nothing shared here at all"))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = dedup.lsh_recall(df, n=3, k=16, bands=4, threshold=0.5).first()
    # identical signatures always collide in every band
    assert out["n_truth"] == 3
    assert out["n_hits"] == 3
    assert out["recall"] == 1.0
    # candidates may contain extra (non-truth) pairs but never miss twins
    assert out["n_cand"] >= 3
    assert out["precision"] <= 1.0


def test_lsh_candidates_no_all_pairs(spark):
    # disjoint-vocabulary docs share no shingles, hence no minhash
    # collisions are guaranteed; the pair set must stay far below the
    # all-pairs count and contain no self-pairs
    rows = [(i, " ".join(f"tok{i}_{j}" for j in range(12))) for i in range(20)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = dedup.md5_minhash_lsh_candidates(df, n=3, k=16, bands=4)
    got = pairs.collect()
    assert all(r["a"] < r["b"] for r in got)
    assert len(got) < 190  # 20*19/2 = all-pairs; LSH must not explode


def test_ngram_novelty_first_vs_twin(spark):
    # doc 0 introduces all its trigrams (novelty 1.0); doc 1 is an exact
    # twin (novelty 0.0); doc 2 shares nothing (novelty 1.0); doc 3 has
    # NULL text and, as in the DuckDB oracle, no row at all
    rows = [
        (0, "alpha beta gamma delta epsilon"),
        (1, "alpha beta gamma delta epsilon"),
        (2, "one two three four five"),
        (3, None),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r for r in textops.ngram_novelty(df, n=3).collect()}
    assert sorted(got) == [0, 1, 2]
    assert got[0]["novelty"] == 1.0 and got[0]["n_grams"] == 3
    assert got[1]["novelty"] == 0.0 and got[1]["n_novel"] == 0
    assert got[2]["novelty"] == 1.0


def test_lsh_band_sweep_monotone_recall(spark):
    # near-dup (not identical) twins: drop the last 2 of 10 tokens so
    # jaccard ~ 0.75 — lossy territory where the curve must be monotone
    rows = []
    for i in range(8):
        base = " ".join(f"w{i}_{j}" for j in range(10))
        rows.append((i * 2, base))
        rows.append((i * 2 + 1, " ".join(base.split()[:8])))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = dedup.lsh_band_sweep(
        df, n=3, k=16, bands_list=(2, 4, 8), threshold=0.5
    ).collect()
    assert [r["bands"] for r in out] == [2, 4, 8]
    recalls = [r["recall"] for r in out]
    assert recalls == sorted(recalls)  # more bands => never less recall
    assert all(r["n_truth"] == 8 for r in out)
