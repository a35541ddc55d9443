"""Training-data ops: dedup tiers, similarity search, text stats, multimodal."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from kgspark.ops import dedup, multimodal, similarity, textstats

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF_DIR}/documents.parquet").cache()


@pytest.fixture(scope="module")
def near_dup_docs(spark):
    base = "the quick brown fox jumps over the lazy dog " * 8
    rows = [
        (1, base),
        (2, base),  # exact dup of 1
        (3, base.replace("lazy", "sleepy")),  # near dup of 1
        (4, "completely different content about spark shuffles and joins " * 6),
        (5, "another unrelated document mentioning catalyst optimizer rules " * 6),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_dedup(spark):
    df = spark.createDataFrame(
        [(1, "Hello  World"), (2, "hello world"), (3, "other")],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r["n_dups"] for r in dedup.exact_dedup(df).collect()}
    assert out == {1: 2, 3: 1}  # normalization folds case+whitespace


def test_minhash_dedup_clusters(near_dup_docs):
    out = dedup.minhash_dedup(near_dup_docs, threshold=0.5)
    rows = {r["doc_id"]: (r["cluster"], r["is_representative"]) for r in out.collect()}
    assert rows[1][0] == rows[2][0] == rows[3][0]
    assert rows[4][0] != rows[1][0]
    assert rows[5][0] not in (rows[1][0], rows[4][0])
    reps = [d for d, (_, rep) in rows.items() if rep]
    assert len(reps) == 3


def test_minhash_dedup_incremental_semantics(spark):
    """Batch-vs-store dedup: a new doc near-dupping a STORE doc clusters to
    the store id (store anchors win even when numerically larger); new-new
    near-dups keep the min new id as representative; unique new docs are
    representatives; output carries sigs ready to append to the store."""
    base = "the quick brown fox jumps over the lazy dog " * 8
    other = "completely different content about spark shuffles and joins " * 6
    store_docs = spark.createDataFrame(
        [(50, base), (51, other)], "doc_id long, text string"
    )
    store = dedup.minhash_signatures(store_docs)
    new = spark.createDataFrame(
        [
            (1, base.replace("lazy", "sleepy")),  # near-dup of store doc 50
            (2, "another unrelated document mentioning catalyst optimizer rules " * 6),
            (3, "fresh text discussing window functions and watermarks at length " * 6),
            (4, "fresh text discussing window functions and watermarks at length " * 6),  # dup of 3
        ],
        "doc_id long, text string",
    )
    out = dedup.minhash_dedup_incremental(new, store, threshold=0.5)
    rows = {r["doc_id"]: (r["cluster"], r["is_duplicate"]) for r in out.collect()}
    assert set(rows) == {1, 2, 3, 4}  # one row per NEW doc, store not re-emitted
    assert rows[1] == (50, True)  # anchored to the store id, even though 1 < 50
    assert rows[2] == (2, False)
    assert rows[3] == (3, False)
    assert rows[4] == (3, True)  # within-batch: min new id is representative
    assert {len(r["sig"]) for r in out.collect()} == {64}  # appendable sigs

    # empty store degenerates to plain within-batch dedup semantics
    empty = dedup.minhash_signatures(
        spark.createDataFrame([], "doc_id long, text string")
    )
    out2 = {
        r["doc_id"]: (r["cluster"], r["is_duplicate"])
        for r in dedup.minhash_dedup_incremental(new, empty, threshold=0.5).collect()
    }
    single = {
        r["doc_id"]: r["cluster"]
        for r in dedup.minhash_dedup(new, threshold=0.5).collect()
    }
    assert {d: c for d, (c, _) in out2.items()} == single

    # partitioning-invariant
    out3 = {
        r["doc_id"]: (r["cluster"], r["is_duplicate"])
        for r in dedup.minhash_dedup_incremental(
            new.repartition(5), store, threshold=0.5
        ).collect()
    }
    assert out3 == rows


def test_minhash_dedup_incremental_prunes_store(spark):
    """The store side is left-semi pruned to the batch's bucket keys with a
    broadcast, so untouched store buckets never shuffle (the 100 TB
    contract); the plan shows the broadcast semi-join."""
    base = "the quick brown fox jumps over the lazy dog " * 8
    store = dedup.minhash_signatures(
        spark.createDataFrame([(50, base)], "doc_id long, text string")
    )
    new = spark.createDataFrame(
        [(1, "totally disjoint tokens everywhere in this one " * 6)],
        "doc_id long, text string",
    )
    new_sigs = dedup.minhash_signatures(new)
    cand = dedup.lsh_candidate_pairs_incremental(new_sigs, store, n_perm=64)
    plan = cand._jdf.queryExecution().executedPlan().toString()
    assert "LeftSemi" in plan and "Broadcast" in plan
    assert cand.count() == 0  # disjoint texts: no shared buckets
    out = dedup.minhash_dedup_incremental(new, store, threshold=0.5)
    rows = out.collect()
    assert len(rows) == 1 and not rows[0]["is_duplicate"]


def test_lsh_candidates_vs_exact_jaccard(near_dup_docs):
    sigs = dedup.minhash_signatures(near_dup_docs)
    pairs = dedup.lsh_candidate_pairs(sigs)
    cand = {(r["a"], r["b"]) for r in pairs.collect()}
    assert (1, 2) in cand and (1, 3) in cand
    verified = dedup.verify_jaccard(pairs, near_dup_docs, threshold=0.8)
    v = {(r["a"], r["b"]): r["jaccard"] for r in verified.collect()}
    assert v[(1, 2)] == 1.0
    assert all(j >= 0.8 for j in v.values())


def test_simhash_dedup(near_dup_docs):
    out = {r["doc_id"]: r["n_dups"] for r in dedup.simhash_dedup(near_dup_docs).collect()}
    assert out[1] == 2  # exact dups share a signature
    assert 2 not in out


def test_cosine_topk_matches_numpy(spark):
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    pdf = emb.toPandas()
    mat = np.stack(pdf["embedding"].to_numpy())
    mat_n = mat / np.linalg.norm(mat, axis=1, keepdims=True)
    q = mat[7]
    qn = q / np.linalg.norm(q)
    scores = mat_n @ qn
    expected = pdf["vec_id"].to_numpy()[np.argsort(-scores, kind="stable")][:5]

    got = similarity.cosine_topk(emb, [(0, list(map(float, q)))], k=5)
    got_ids = [r["vec_id"] for r in got.orderBy("rank").collect()]
    assert got_ids == list(expected)
    assert got_ids[0] == pdf["vec_id"][7]  # self is nearest


def test_lsh_topk_contains_self(spark):
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    q = emb.filter(F.col("vec_id") == 3).collect()[0]["embedding"]
    dim = len(q)
    got = similarity.lsh_topk(emb, [(0, list(map(float, q)))], dim=dim, k=5, n_planes=6)
    rows = got.orderBy("rank").collect()
    assert rows, "lsh returned empty candidate set"
    assert rows[0]["vec_id"] == 3 and rows[0]["score"] == pytest.approx(1.0, abs=1e-6)


def test_textstats(spark):
    df = spark.createDataFrame(
        [
            (1, "The quick brown fox and the lazy dog of the north is here."),
            (2, "el perro de la casa que ladra los domingos"),
            (3, "这是一个中文句子。"),
            (4, "!!!???...,,,"),
        ],
        "doc_id long, text string",
    )
    out = textstats.lang_id(textstats.quality_features(df)).collect()
    by_id = {r["doc_id"]: r for r in out}
    assert by_id[1]["lang_pred"] == "en"
    assert by_id[2]["lang_pred"] == "es"
    assert by_id[3]["lang_pred"] == "zh"
    assert by_id[4]["lang_pred"] == "und"
    assert by_id[1]["quality_score"] > by_id[4]["quality_score"]
    assert by_id[1]["n_tokens"] == 13

    fp = df.select("doc_id", textstats.fingerprint(F.col("text")).alias("fp")).collect()
    import hashlib
    expected = hashlib.md5(b"the quick brown fox and the lazy dog of the north is here.").hexdigest()
    assert {r["doc_id"]: r["fp"] for r in fp}[1] == expected


def test_multimodal_plumbing(spark):
    media = multimodal.make_fake_media(spark, 30)
    feats = multimodal.extract_features(media, fake=True)
    rows = feats.collect()
    assert len(rows) == 30
    assert all(len(r["feature"]) == multimodal.FEATURE_DIM for r in rows)
    # deterministic: same payload -> same feature
    f0 = [r["feature"] for r in rows if r["media_id"] == 0][0]
    assert f0 == list(multimodal.decode_image(b"media-payload-0", fake=True))

    frames = multimodal.frame_sample_plan(media, every_ms=1000)
    vid = media.filter("kind='video'").select("media_id", "meta.duration_ms").collect()
    expected_rows = sum(r["duration_ms"] // 1000 + 1 for r in vid)
    assert frames.count() == expected_rows

    with pytest.raises(NotImplementedError):
        multimodal.decode_image(b"x", fake=False)  # non-PNG still stubbed


def test_png_decode_roundtrip_all_filters():
    """decode_png is a REAL decoder: encode known pixels with every scanline
    filter type (None/Sub/Up/Average/Paeth) and every supported channel
    count, decode, and require exact pixel equality."""
    import numpy as np

    rng = np.random.default_rng(42)
    for c in (1, 2, 3, 4):
        px = rng.integers(0, 256, size=(7, 5, c), dtype=np.uint8)
        for ft in range(5):
            raw = multimodal.encode_png(px, filter_type=ft)
            got = multimodal.decode_png(raw)
            assert got.shape == (7, 5, c)
            assert (got == px).all(), (c, ft)


def test_png_decode_real_pixel_stats(spark):
    """decode_image(fake=False) on real PNG payloads returns true pixel
    statistics (VERDICT r1 #9), and the Spark stage runs it distributed."""
    import numpy as np
    import pandas as pd

    # 4x4 RGB: left half black, right half white -> mean 0.5 per channel
    px = np.zeros((4, 4, 3), dtype=np.uint8)
    px[:, 2:, :] = 255
    payload = multimodal.encode_png(px)
    feat = multimodal.decode_image(payload, fake=False)
    assert len(feat) == multimodal.FEATURE_DIM
    assert abs(feat[2] - 3.0) < 1e-6  # channels
    assert abs(feat[3] - 0.5) < 1e-6 and abs(feat[4] - 0.5) < 1e-6  # means
    assert abs(feat[11] - 0.5) < 1e-6 and abs(feat[15] - 0.5) < 1e-6  # luma hist ends

    pdf = pd.DataFrame(
        {
            "media_id": [1, 2],
            "kind": ["image", "image"],
            "payload": [payload, multimodal.encode_png(px[:, :, 0])],
            "meta": [None, None],
        }
    )
    media = spark.createDataFrame(pdf, schema=multimodal.MEDIA_SCHEMA)
    rows = {r["media_id"]: r["feature"] for r in
            multimodal.extract_features(media, fake=False).collect()}
    assert rows[1] == [float(x) for x in feat]
    assert abs(rows[2][2] - 1.0) < 1e-6  # grayscale variant: 1 channel

    # malformed / unsupported streams fail loudly, not silently
    with pytest.raises(ValueError):
        multimodal.decode_png(b"\x89PNG\r\n\x1a\ngarbage")
    bad_depth = bytearray(payload)
    # IHDR bit-depth byte: magic(8) + len(4) + type(4) + w(4) + h(4) = offset 24
    bad_depth[24] = 16
    with pytest.raises(NotImplementedError):
        multimodal.decode_png(bytes(bad_depth))


def test_gif_decode_roundtrip():
    """decode_gif is a REAL decoder: encode known palette indices (plain
    and interlaced, chunked sub-blocks), decode, require exact RGB pixels;
    LZW table-growth path exercised via a run-length payload."""
    import numpy as np

    rng = np.random.default_rng(7)
    pal = rng.integers(0, 256, size=(8, 3), dtype=np.uint8)
    idx = rng.integers(0, 8, size=(9, 13), dtype=np.uint8)
    for interlaced in (False, True):
        raw = multimodal.encode_gif(idx, pal, interlaced=interlaced)
        got = multimodal.decode_gif(raw)
        assert got.shape == (9, 13, 3)
        assert (got == pal[idx]).all(), interlaced

    # LZW dictionary growth: decode a stream compressed WITHOUT per-pixel
    # clears (hand-built codes: clear once, then literal codes let the
    # table grow and emit a grown code)
    # pixels: 0,0,0,0 -> codes [clear, 0, table[6]=b'\x00\x00', end] @3 bits
    def pack(codes, size):
        acc = blen = 0
        out = bytearray()
        for c in codes:
            acc |= c << blen
            blen += size
            while blen >= 8:
                out.append(acc & 0xFF)
                acc >>= 8
                blen -= 8
        if blen:
            out.append(acc & 0xFF)
        return bytes(out)

    data = pack([4, 0, 6, 5], 3)  # clear=4, end=5 at min_code_size=2
    assert multimodal._lzw_decode(2, data) == b"\x00\x00\x00"

    with pytest.raises(ValueError):
        multimodal.decode_gif(b"NOTAGIF")
    with pytest.raises(ValueError):
        multimodal.decode_gif(b"GIF89a" + b"\x00" * 7 + b"\x3b")  # no image

    # media_features dispatches GIF by magic
    feat = multimodal.media_features(multimodal.encode_gif(idx, pal))
    assert abs(feat[2] - 3.0) < 1e-6 and len(feat) == multimodal.FEATURE_DIM


def test_decompression_bomb_guards():
    """Crafted few-KB payloads claiming huge decoded sizes must be rejected
    before inflation can exhaust executor memory (ADVICE r2): PNG headers
    declaring absurd dimensions, overlong zlib streams, GIF dimension bombs,
    and LZW streams producing more output than the header's pixel count."""
    import struct
    import zlib

    import numpy as np

    # PNG declaring 50000x50000 RGBA (~10 GB) with a tiny zlib payload
    def chunk(typ, data):
        return len(data).to_bytes(4, "big") + typ + data + zlib.crc32(typ + data).to_bytes(4, "big")

    ihdr = struct.pack(">IIBBBBB", 50000, 50000, 8, 6, 0, 0, 0)
    bomb = (
        multimodal._PNG_MAGIC
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(b"\x00" * 100))
        + chunk(b"IEND", b"")
    )
    with pytest.raises(ValueError, match="bomb guard"):
        multimodal.decode_png(bomb)

    # honest dimensions but a zlib stream inflating PAST the declared size:
    # bounded decompressobj reads at most expected+1 bytes and errors
    px = np.zeros((4, 4, 3), dtype=np.uint8)
    good = multimodal.encode_png(px)
    ihdr2 = struct.pack(">IIBBBBB", 4, 4, 8, 2, 0, 0, 0)
    overlong = (
        multimodal._PNG_MAGIC
        + chunk(b"IHDR", ihdr2)
        + chunk(b"IDAT", zlib.compress(b"\x00" * (4 * (4 * 3 + 1) + 5000)))
        + chunk(b"IEND", b"")
    )
    with pytest.raises(ValueError, match="length mismatch"):
        multimodal.decode_png(overlong)
    assert multimodal.decode_png(good).shape == (4, 4, 3)  # guard doesn't bite real files

    # GIF logical-image bomb: 65535x65535 declared
    gif_bomb = (
        b"GIF89a"
        + struct.pack("<HHBBB", 65535, 65535, 0x80, 0, 0)
        + bytes(6)  # 2-entry global palette
        + b"\x2c" + struct.pack("<HHHHB", 0, 0, 65535, 65535, 0)
        + b"\x02\x01\x04\x00\x3b"
    )
    with pytest.raises(ValueError, match="bomb guard"):
        multimodal.decode_gif(gif_bomb)

    # LZW output capped at max_output even when the stream keeps producing
    # (all-zero bytes = endless literal code 0 -> one output byte per code)
    unbounded = multimodal._lzw_decode(2, b"\x00" * 64)
    assert len(unbounded) > 16
    out = multimodal._lzw_decode(2, b"\x00" * 64, max_output=4)
    assert 4 <= len(out) <= 5  # may overshoot by at most one table entry


def test_wav_decode_roundtrip_and_stats(spark):
    """decode_wav is a REAL decoder: encode a known sine wave, decode,
    verify sample round-trip and the audio feature statistics; the Spark
    stage dispatches WAV payloads by magic bytes."""
    import numpy as np
    import pandas as pd

    rate = 8000
    t = np.arange(rate)  # 1 second
    sine = 0.5 * np.sin(2 * np.pi * 440 * t / rate)
    payload = multimodal.encode_wav(sine, rate)
    samples, got_rate = multimodal.decode_wav(payload)
    assert got_rate == rate and samples.shape == (rate, 1)
    assert np.abs(samples[:, 0] - sine).max() < 1e-3  # 16-bit quantization

    feat = multimodal.media_features(payload)
    assert abs(feat[0] - np.log1p(1000.0)) < 1e-3  # 1000 ms
    assert abs(feat[2] - 1.0) < 1e-6  # mono
    assert abs(feat[3] - 0.5 / np.sqrt(2)) < 1e-3  # sine rms = amp/sqrt(2)
    assert abs(feat[4] - 0.5) < 1e-3  # peak

    # stereo + 8-bit path
    stereo = np.stack([sine, -sine], axis=1)
    s2, _ = multimodal.decode_wav(multimodal.encode_wav(stereo, rate))
    assert s2.shape == (rate, 2)

    pdf = pd.DataFrame(
        {"media_id": [1], "kind": ["audio"], "payload": [payload], "meta": [None]}
    )
    media = spark.createDataFrame(pdf, schema=multimodal.MEDIA_SCHEMA)
    rows = multimodal.extract_features(media, fake=False).collect()
    assert rows[0]["feature"] == [float(x) for x in feat]

    with pytest.raises(ValueError):
        multimodal.decode_wav(b"RIFFxxxxWAVE")  # no fmt/data
    with pytest.raises(NotImplementedError):
        # audio format 3 (IEEE float) is not PCM
        bad = bytearray(payload)
        bad[20] = 3
        multimodal.decode_wav(bytes(bad))


def test_wav_decode_8_and_32_bit_paths():
    """The 8-bit (unsigned, 128-centered) and 32-bit PCM branches decode to
    the same normalized values as the 16-bit reference encoding."""
    import struct as _struct

    import numpy as np

    def raw_wav(bits, data, channels=1, rate=4000):
        fmt = _struct.pack(
            "<HHIIHH", 1, channels, rate,
            rate * channels * bits // 8, channels * bits // 8, bits,
        )
        body = (
            b"WAVE"
            + b"fmt " + len(fmt).to_bytes(4, "little") + fmt
            + b"data" + len(data).to_bytes(4, "little") + data
        )
        return b"RIFF" + len(body).to_bytes(4, "little") + body

    # 8-bit: 0 -> -1.0, 128 -> 0.0, 255 -> ~0.992
    s8, rate = multimodal.decode_wav(raw_wav(8, bytes([0, 128, 255])))
    assert rate == 4000 and s8.shape == (3, 1)
    assert abs(s8[0, 0] + 1.0) < 1e-9 and abs(s8[1, 0]) < 1e-9
    assert abs(s8[2, 0] - 127 / 128) < 1e-9

    # 32-bit: full-scale min/zero/max
    vals = np.array([-(2**31), 0, 2**31 - 1], dtype="<i4")
    s32, _ = multimodal.decode_wav(raw_wav(32, vals.tobytes()))
    assert abs(s32[0, 0] + 1.0) < 1e-9 and abs(s32[1, 0]) < 1e-9
    assert abs(s32[2, 0] - (2**31 - 1) / 2**31) < 1e-12

    # odd-length chunk word alignment: a 3-byte 8-bit data chunk followed by
    # a junk chunk must still parse (pad byte honored)
    junk = b"JUNK" + (2).to_bytes(4, "little") + b"zz"
    fmt = _struct.pack("<HHIIHH", 1, 1, 4000, 4000, 1, 8)
    body = (
        b"WAVE"
        + b"fmt " + len(fmt).to_bytes(4, "little") + fmt
        + b"data" + (3).to_bytes(4, "little") + bytes([0, 128, 255]) + b"\x00"
        + junk
    )
    s, _ = multimodal.decode_wav(b"RIFF" + len(body).to_bytes(4, "little") + body)
    assert s.shape == (3, 1)


def test_ivf_topk_recall(spark):
    from kgspark.ops import similarity

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").cache()
    qrows = emb.filter(F.col("vec_id").isin(2, 9)).collect()
    qs = [(int(r["vec_id"]), [float(x) for x in r["embedding"]]) for r in qrows]
    exact = similarity.cosine_topk_arrow(emb, qs, k=10)
    approx = similarity.ivf_topk(emb, qs, k=10, n_centroids=8, nprobe=3)
    ex = {(r["query_id"], r["vec_id"]) for r in exact.collect()}
    ap = {(r["query_id"], r["vec_id"]) for r in approx.collect()}
    # self must be found (query vector is in the corpus -> its own centroid)
    assert (2, 2) in ap and (9, 9) in ap
    recall = len(ex & ap) / len(ex)
    assert recall >= 0.5, f"recall {recall}"


def test_ivf_assign_deterministic(spark):
    from kgspark.ops import similarity

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    c1 = similarity.ivf_fit_centroids(emb, n_centroids=8)
    c2 = similarity.ivf_fit_centroids(emb, n_centroids=8)
    assert (c1 == c2).all()
    a1 = {r["vec_id"]: r["centroid"] for r in similarity.ivf_assign(emb, c1).collect()}
    a2 = {r["vec_id"]: r["centroid"] for r in similarity.ivf_assign(emb, c2).collect()}
    assert a1 == a2
    assert len(set(a1.values())) > 1  # actually clusters


def test_minhash_signatures_cross_run_deterministic(spark, near_dup_docs):
    """Signatures must be reproducible across processes: compare against the
    same computation in a PYTHONHASHSEED-independent subprocess."""
    import subprocess, sys, json
    from pathlib import Path
    sigs = {r["doc_id"]: list(r["sig"]) for r in dedup.minhash_signatures(near_dup_docs).collect()}
    root = str(Path(__file__).resolve().parent.parent)  # the checkout under test
    code = (
        f"import sys, json; sys.path.insert(0, {root!r})\n"
        "from kgspark.ops.dedup import _minhash_signature, _shingle_hashes\n"
        "base = 'the quick brown fox jumps over the lazy dog ' * 8\n"
        "sig = _minhash_signature(_shingle_hashes(base, 5), 64).astype('int64')\n"
        "print(json.dumps(sig.tolist()))\n"
    )
    out = subprocess.run([sys.executable, "-c", code], capture_output=True, text=True)
    assert json.loads(out.stdout) == sigs[1]


def test_simhash_neardup_pairs(spark, near_dup_docs):
    sigs = dedup.simhash_signatures(near_dup_docs)
    pairs = {(r["a"], r["b"]): r["hamming"] for r in
             dedup.simhash_neardup_pairs(sigs, max_hamming=7, n_bands=8).collect()}
    assert pairs[(1, 2)] == 0  # exact dups -> identical signatures
    assert (1, 3) in pairs and pairs[(1, 3)] > 0  # near dup, few bits differ
    assert (1, 4) not in pairs and (4, 5) not in pairs


def test_asof_join_semantics(spark):
    """Point-in-time semantics: latest right row at-or-before, per key;
    inclusive at equal ts; null when nothing precedes; duplicate right
    (key, ts) rows collapse deterministically to the max value struct."""
    from kgspark.ops.asof import asof_join

    left = spark.createDataFrame(
        [(1, 10, "e1"), (1, 20, "e2"), (1, 5, "e0"), (2, 50, "e3"), (3, 9, "e4")],
        "k long, ts long, ev string",
    )
    right = spark.createDataFrame(
        [(1, 10, 100.0), (1, 15, 150.0), (2, 49, 490.0), (2, 50, 500.0),
         (2, 50, 501.0), (9, 1, 999.0)],
        "k long, rts long, val double",
    )
    out = {
        r["ev"]: r["val"]
        for r in asof_join(
            left, right, on="k", left_ts="ts", right_ts="rts", right_cols=["val"]
        ).collect()
    }
    assert out["e1"] == 100.0   # inclusive: rts == ts matches
    assert out["e2"] == 150.0   # latest preceding, not first
    assert out["e0"] is None    # nothing at-or-before
    assert out["e3"] == 501.0   # dup (key, ts) right rows -> max struct
    assert out["e4"] is None    # key with no right rows at all


def test_asof_join_null_right_values_survive(spark):
    """A NULL value in the matched (most recent) right row must survive —
    not be back-filled from an older right row — and multiple right columns
    must all come from the SAME matched row (ADVICE r1: per-column
    last(ignorenulls) stitched columns from different rows)."""
    from kgspark.ops.asof import asof_join, asof_join_broadcast

    left = spark.createDataFrame([(1, 20, "e1"), (1, 7, "e0")], "k long, ts long, ev string")
    right = spark.createDataFrame(
        [(1, 5, 100.0, "a"), (1, 15, None, "b"), (1, 18, 300.0, None)],
        "k long, rts long, price double, tag string",
    )
    kw = dict(on="k", left_ts="ts", right_ts="rts", right_cols=["price", "tag"])
    for tier in (asof_join, asof_join_broadcast):
        out = {r["ev"]: (r["price"], r["tag"]) for r in tier(left, right, **kw).collect()}
        # e1 matches rts=18: price=300.0, tag=NULL (not 'b' from rts=15)
        assert out["e1"] == (300.0, None), (tier.__name__, out)
        # e0 matches rts=5: both non-null
        assert out["e0"] == (100.0, "a"), (tier.__name__, out)


def test_asof_join_property_vs_merge_asof(spark):
    """Property check: asof_join == pandas merge_asof (backward, inclusive)
    on deterministic pseudo-random instances with duplicate left timestamps,
    sparse keys, and empty-right keys."""
    import pandas as pd

    from kgspark.ops.asof import asof_join

    for seed in range(5):
        n_left, n_right, n_keys = 60 + seed * 17, 40 + seed * 11, 5
        lrows = [
            (i, (i * 7919 + seed) % n_keys, (i * 104729) % 50)
            for i in range(n_left)
        ]
        rrows = [
            ((i * 31 + seed) % (n_keys + 2), (i * 337) % 50, float(i))
            for i in range(n_right)
        ]
        # unique (key, ts) on the right: keep max val (asof_join's collapse rule)
        rbest: dict = {}
        for k, ts, v in rrows:
            rbest[(k, ts)] = max(rbest.get((k, ts), float("-inf")), v)
        left = spark.createDataFrame(lrows, "lid long, k long, ts long")
        right = spark.createDataFrame(rrows, "k long, rts long, val double")
        got = {
            r["lid"]: r["val"]
            for r in asof_join(
                left, right, on="k", left_ts="ts", right_ts="rts", right_cols=["val"]
            ).collect()
        }
        lpdf = pd.DataFrame(lrows, columns=["lid", "k", "ts"]).sort_values("ts")
        rpdf = (
            pd.DataFrame(
                [(k, ts, v) for (k, ts), v in rbest.items()],
                columns=["k", "rts", "val"],
            ).sort_values("rts")
        )
        exp_df = pd.merge_asof(
            lpdf, rpdf, left_on="ts", right_on="rts", by="k", direction="backward"
        )
        exp = {
            int(r.lid): (None if pd.isna(r.val) else float(r.val))
            for r in exp_df.itertuples()
        }
        assert got == exp, f"seed={seed}"


def test_lsh_bucket_stats_audits_cap(spark, near_dup_docs):
    from kgspark.ops import dedup

    sigs = dedup.minhash_signatures(near_dup_docs)
    stats = dedup.lsh_bucket_stats(sigs, max_bucket_size=2).collect()
    assert all(r["size"] >= 1 for r in stats)
    assert any(r["dropped"] for r in stats) or all(r["size"] <= 2 for r in stats)


def test_sampling_deterministic_across_partitionings(spark):
    """Hash-derived sampling must select the SAME rows regardless of
    partitioning or rerun (the resume requirement rand() can't meet)."""
    from kgspark.ops.sample import hash_sample, stratified_sample

    df = spark.range(2000).selectExpr(
        "id AS key", "CAST(id % 7 AS STRING) AS stratum"
    )
    a = {r["key"] for r in hash_sample(df, "key", 0.25).collect()}
    b = {r["key"] for r in hash_sample(df.repartition(13), "key", 0.25).collect()}
    assert a == b
    assert 0.15 < len(a) / 2000 < 0.35

    s1 = {(r["key"], r["stratum"]) for r in stratified_sample(df, "stratum", "key", 10).collect()}
    s2 = {(r["key"], r["stratum"]) for r in stratified_sample(df.repartition(17), "stratum", "key", 10).collect()}
    assert s1 == s2
    per = {}
    for _, st in s1:
        per[st] = per.get(st, 0) + 1
    assert all(v == 10 for v in per.values()) and len(per) == 7


def test_sniff_media_meta_real_headers(spark):
    """Magic-byte sniffing + header dimension parse on REAL format headers
    (handcrafted PNG/GIF/JPEG/WAV/MP4 byte sequences) — all JVM-side."""
    import struct

    from kgspark.ops.multimodal import sniff_media_meta

    png = (
        b"\x89PNG\r\n\x1a\n" + b"\x00\x00\x00\x0dIHDR"
        + struct.pack(">II", 640, 480) + b"\x08\x06" + b"\x00" * 3
    )
    gif = b"GIF89a" + struct.pack("<HH", 320, 200) + b"\xf7\x00\x00"
    jpeg = b"\xff\xd8\xff\xe0\x00\x10JFIF\x00"
    wav = b"RIFF" + struct.pack("<I", 36) + b"WAVEfmt "
    mp4 = struct.pack(">I", 32) + b"ftypisom" + b"\x00" * 8
    junk = b"not a media file"
    rows = [(1, png), (2, gif), (3, jpeg), (4, wav), (5, mp4), (6, junk)]
    df = spark.createDataFrame(rows, "media_id long, payload binary")
    got = {
        r["media_id"]: (
            r["sniffed"]["mime"], r["sniffed"]["width"], r["sniffed"]["height"]
        )
        for r in sniff_media_meta(df).collect()
    }
    assert got[1] == ("image/png", 640, 480)
    assert got[2] == ("image/gif", 320, 200)
    assert got[3] == ("image/jpeg", None, None)
    assert got[4] == ("audio/wav", None, None)
    assert got[5] == ("video/mp4", None, None)
    assert got[6] == ("application/octet-stream", None, None)


def test_sketch_aggregates_within_tolerance(spark):
    """Approximate sketches (HLL count-distinct, t-digest-ish percentile)
    must land within advertised error of exact answers — the corpus-scale
    substitutes for exact distinct/percentile when the key space is huge."""
    from pyspark.sql import functions as F

    ev = spark.read.parquet("/root/testdata/sf0.01/events.parquet")
    row = ev.agg(
        F.approx_count_distinct("user_id", rsd=0.02).alias("approx_users"),
        F.count_distinct("user_id").alias("exact_users"),
        F.percentile_approx("value", 0.5, 10_000).alias("p50_approx"),
        F.expr("percentile(value, 0.5)").alias("p50_exact"),
    ).collect()[0]
    assert abs(row["approx_users"] - row["exact_users"]) <= max(3, 0.05 * row["exact_users"])
    assert abs(row["p50_approx"] - row["p50_exact"]) <= 0.05 * abs(row["p50_exact"]) + 1e-6


def test_asof_join_broadcast_equals_sort_merge(spark):
    """The zero-shuffle broadcast tier must produce exactly the sort-merge
    tier's result on real tables, and its plan must contain no exchange."""
    from pyspark.sql import functions as F

    from kgspark.ops.asof import asof_join, asof_join_broadcast

    sf = "/root/testdata/sf0.01"
    events = spark.read.parquet(f"{sf}/events.parquet").select("event_id", "user_id", "ts")
    orders = spark.read.parquet(f"{sf}/orders.parquet").select(
        F.col("o_custkey").alias("user_id"), "o_orderdate", "o_orderkey"
    )
    kw = dict(on="user_id", left_ts="ts", right_ts="o_orderdate", right_cols=["o_orderkey"])
    smj = {(r["event_id"], r["o_orderkey"]) for r in asof_join(events, orders, **kw).collect()}
    bc = asof_join_broadcast(events, orders, **kw)
    got = {(r["event_id"], r["o_orderkey"]) for r in bc.collect()}
    assert got == smj and len(got) == 10000

    plan = bc._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan[:2000]

    import pytest

    with pytest.raises(ValueError, match="use asof_join"):
        asof_join_broadcast(events, orders, max_right_rows=10, **kw)


def test_int8_quantized_topk_recall_and_schema(spark):
    """int8 brute-force: qvec really is tinyint (4x at rest), re-ranked
    top-10 matches exact float top-10, and the quantized-only path stays
    within recall 0.9."""
    import pyspark.sql.types as T
    from kgspark.ops.similarity import cosine_topk, cosine_topk_int8, quantize_embeddings

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    q = quantize_embeddings(emb)
    qf = dict((f.name, f.dataType) for f in q.schema.fields)
    assert qf["qvec"] == T.ArrayType(T.ByteType())
    assert isinstance(qf["qscale"], T.FloatType)

    rows = emb.limit(5).collect()
    queries = [(int(r["vec_id"]), [float(x) for x in r["embedding"]]) for r in rows]
    exact = cosine_topk(emb, queries, k=10)
    got_rr = cosine_topk_int8(emb, queries, k=10, rerank=True)
    got_q = cosine_topk_int8(emb, queries, k=10, rerank=False)

    def topsets(df):
        out = {}
        for r in df.collect():
            out.setdefault(r["query_id"], set()).add(r["vec_id"])
        return out

    ex, rr, qo = topsets(exact), topsets(got_rr), topsets(got_q)
    for qid in ex:
        assert rr[qid] == ex[qid], qid  # re-ranked == exact top-k set
        assert len(qo[qid] & ex[qid]) >= 9, qid  # quantized-only recall >= 0.9


def test_chunk_documents_windows_and_edges(spark):
    from kgspark.ops.textstats import chunk_documents

    df = spark.createDataFrame(
        [(1, "abcdefghij"), (2, "ab"), (3, ""), (4, None)],
        "doc_id long, text string",
    )
    got = {
        (r["doc_id"], r["chunk_id"]): r["chunk_text"]
        for r in chunk_documents(df, size=4, overlap=2).collect()
    }
    # doc 1: windows at 0,2,4,6 — the last window reaches the doc end, so
    # no redundant tail chunk is emitted
    assert got == {
        (1, 0): "abcd", (1, 1): "cdef", (1, 2): "efgh", (1, 3): "ghij",
        (2, 0): "ab",
    }
    # reconstruction property: stripping the overlap re-yields the doc
    parts = [got[(1, i)] for i in range(4)]
    rebuilt = parts[0] + "".join(p[2:] for p in parts[1:])
    assert rebuilt == "abcdefghij"

    import pytest as _pytest

    with _pytest.raises(ValueError):
        chunk_documents(df, size=4, overlap=4)


def test_redact_pii(spark):
    from pyspark.sql import functions as F
    from kgspark.ops.textstats import redact_pii

    df = spark.createDataFrame(
        [("contact bob.smith+x@ex-ample.co.uk or +1 (415) 555-0199 now",),
         ("no pii here",)],
        "text string",
    )
    got = [r["t"] for r in df.select(redact_pii(F.col("text")).alias("t")).collect()]
    assert got[0] == "contact <EMAIL> or <PHONE> now"
    assert got[1] == "no pii here"


def test_collocations_lift(spark):
    from kgspark.ops.textstats import collocations

    df = spark.createDataFrame(
        [("new york is big",), ("new york wins",), ("a new day",), ("york here",)],
        "text string",
    )
    got = {(r["w1"], r["w2"]): (r["n_ab"], r["lift"]) for r in
           collocations(df, min_count=2).collect()}
    # "new york" twice; unigrams: new=3, york=3, total tokens(len>=2)=11
    assert got[("new", "york")][0] == 2
    assert abs(got[("new", "york")][1] - (2 * 11) / (3 * 3)) < 1e-12
    assert ("york", "is") not in got  # below min_count


def test_negative_samples_properties(spark):
    """Negatives are never true edges, are deterministic across
    partitionings, bounded per positive, and a salt change redraws."""
    from kgspark.ops.kg_sampling import negative_samples

    nodes = spark.createDataFrame(
        [(i, "L", f"n{i}", {}) for i in range(20)],
        "entity_id long, label string, name string, props map<string,string>",
    )
    edges = spark.createDataFrame(
        [(i, "R", (i + 1) % 20) for i in range(20)],
        "src_id long, rel string, dst_id long",
    )
    neg = negative_samples(edges, nodes, n_per_positive=3)
    rows = neg.collect()
    true = {(r["src_id"], r["rel"], r["dst_id"]) for r in edges.collect()}
    assert rows and all(
        (r["src_id"], r["rel"], r["neg_dst_id"]) not in true for r in rows
    )
    per_pos = {}
    for r in rows:
        per_pos[(r["src_id"], r["rel"])] = per_pos.get((r["src_id"], r["rel"]), 0) + 1
    assert max(per_pos.values()) <= 3

    a = sorted(map(tuple, rows))
    b = sorted(
        map(tuple, negative_samples(edges.repartition(7), nodes.repartition(3),
                                    n_per_positive=3).collect())
    )
    assert a == b  # partitioning-invariant
    c = sorted(map(tuple, negative_samples(edges, nodes, n_per_positive=3,
                                           salt="neg-v2").collect()))
    assert c != a  # salt rotates the draw


def test_dense_index_parallel_equals_global_rank(spark):
    """dense_index == row_number() OVER (ORDER BY key) - 1 with NO
    single-task exchange (VERDICT r1: the global unpartitioned window was
    the one serializing hot path in the repo)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from kgspark.ops.kg_sampling import dense_index

    # unordered, gappy, negative keys across several input partitions
    keys = [((i * 7919) % 1000) * 3 - 500 for i in range(400)]
    df = spark.createDataFrame([(k,) for k in set(keys)], "k long").repartition(11)
    got = dense_index(df, "k", n_parts=8)
    expected = df.select(
        "k", (F.row_number().over(Window.orderBy("k")) - 1).cast("long").alias("idx")
    )
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, expected.collect()))

    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "SinglePartition" not in plan, plan[:3000]


def test_normalize_url_cases(spark):
    """URL canonicalization branch coverage: case, default/explicit ports,
    fragments, tracking params, param order, empty path."""
    from kgspark.ops.curation import normalize_url

    cases = [
        ("HTTP://Ex.COM:80/a?b=2&a=1#f", "http://ex.com/a?a=1&b=2"),
        ("https://Ex.com:443/", "https://ex.com/"),
        ("https://ex.com:8443/x", "https://ex.com:8443/x"),  # non-default kept
        ("http://ex.com", "http://ex.com/"),  # empty path -> /
        ("http://ex.com/p?utm_source=a&utm_campaign=b", "http://ex.com/p"),
        ("http://ex.com/p?fbclid=z&q=1", "http://ex.com/p?q=1"),
        ("http://ex.com/CaseKept/Path?Q=V", "http://ex.com/CaseKept/Path?Q=V"),
        ("http://ex.com/p?b=2&a=1&b=1", "http://ex.com/p?a=1&b=1&b=2"),
        ("example.com/p?a=1", "example.com/p?a=1"),  # scheme-less: pass through
        ("http://ex.com/p?fbclid", "http://ex.com/p"),  # valueless tracker dropped
        ("http://ex.com/p?utm_x&q=1", "http://ex.com/p?q=1"),
    ]
    df = spark.createDataFrame([(u,) for u, _ in cases], "url string")
    got = {r["url"]: r["n"] for r in df.select("url", normalize_url(F.col("url")).alias("n")).collect()}
    for raw, want in cases:
        assert got[raw] == want, (raw, got[raw])


def test_split_assign_stable_and_proportional(spark):
    """Split assignment is a pure function of (key, salt): stable across
    partitionings, roughly proportional, and a salt change redraws."""
    from kgspark.ops.curation import split_assign

    df = spark.range(0, 10_000).select(F.col("id").alias("k"))
    a = {r["k"]: r["s"] for r in df.select("k", split_assign(F.col("k")).alias("s")).collect()}
    b = {r["k"]: r["s"] for r in df.repartition(13).select("k", split_assign(F.col("k")).alias("s")).collect()}
    assert a == b  # partitioning-invariant
    from collections import Counter

    c = Counter(a.values())
    assert abs(c["val"] - 500) < 150 and abs(c["test"] - 500) < 150
    c2 = Counter(
        r["s"] for r in df.select(split_assign(F.col("k"), salt="v2").alias("s")).collect()
    )
    changed = sum(
        1 for r in df.select("k", split_assign(F.col("k"), salt="v2").alias("s")).collect()
        if a[r["k"]] != r["s"]
    )
    assert changed > 500  # a new salt is a fresh draw
    assert c2.keys() == {"train", "val", "test"}


def test_pack_greedy_contiguous_semantics(spark):
    """Packing: contiguous fill, pack boundaries at the cumulative budget,
    oversized docs own their packs, per-partition restart."""
    from kgspark.ops.curation import pack_greedy_contiguous

    rows = [(i, t) for i, t in enumerate([100, 100, 100, 100, 100, 600, 50, 50])]
    df = spark.createDataFrame(rows, "doc_id long, n_tokens long")
    out = {r["doc_id"]: (r["pack_id"], r["pack_offset"]) for r in
           pack_greedy_contiguous(df, "n_tokens", "doc_id", budget=512).collect()}
    # cumsum-before: 0,100,...,400 -> pack 0; doc5 before=500 -> pack 0 tail
    assert out[0] == (0, 0) and out[4] == (0, 400)
    assert out[5] == (0, 500)  # straddles; belongs where its first token lands
    assert out[6][0] == 2  # before=1100 -> pack 2 (oversized doc consumed pack 1)
    # per-partition restart
    df2 = spark.createDataFrame(
        [("a", 0, 400), ("a", 1, 400), ("b", 0, 400)],
        "shard string, doc_id long, n_tokens long",
    )
    got = {(r["shard"], r["doc_id"]): r["pack_id"] for r in
           pack_greedy_contiguous(df2, "n_tokens", "doc_id", 512, partition_col="shard").collect()}
    assert got[("a", 0)] == 0 and got[("a", 1)] == 0 and got[("b", 0)] == 0


def test_decontaminate_semantics(spark):
    """Planted eval overlap is flagged with the right distinct-n-gram
    counts; clean and too-short docs stay with count 0; the md5 (portable)
    and xxhash64 (production) paths and the broadcast/shuffle join tiers
    all agree on the verdicts."""
    from kgspark.ops.curation import decontaminate

    ev = spark.createDataFrame(
        [(900, "alpha beta gamma delta epsilon zeta"), (901, None)],
        "doc_id long, text string",
    )
    corpus = spark.createDataFrame(
        [
            # contains eval 3-grams "beta gamma delta" + "gamma delta epsilon"
            (1, "xx beta gamma delta epsilon yy"),
            (2, "totally unrelated words in this document here"),
            (3, "Alpha  BETA gamma zz"),  # case/whitespace-normalized hit
            (4, "beta gamma"),  # shorter than n -> no n-grams
            (5, None),  # null text -> clean, still present
            # repeats one eval 3-gram twice -> distinct count 1
            (6, "alpha beta gamma pad pad alpha beta gamma"),
        ],
        "doc_id long, text string",
    )
    for hash_kind in ("md5", "xxhash64"):
        for bcast in (True, False):
            got = {
                r["doc_id"]: (r["contaminated_ngrams"], r["is_contaminated"])
                for r in decontaminate(
                    corpus, ev, n=3, hash=hash_kind, broadcast_eval=bcast
                ).collect()
            }
            assert got == {
                1: (2, True),
                2: (0, False),
                3: (1, True),
                4: (0, False),
                5: (0, False),
                6: (1, True),
            }, (hash_kind, bcast)


def test_decontaminate_plan_broadcasts_eval(spark):
    """The production shape: the eval n-gram set is broadcast, so the
    corpus-side explode joins map-side with no corpus shuffle."""
    from kgspark.ops.curation import decontaminate

    ev = spark.range(5).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("eval doc words number "), F.col("id")).alias("text"),
    )
    corpus = spark.range(100).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("corpus doc words number "), F.col("id")).alias("text"),
    )
    plan = decontaminate(corpus, ev, n=3)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


def test_resample_temperature_semantics(spark):
    """alpha=0.5 downsamples each group toward sqrt-proportional size
    (smallest group keeps everything); alpha=1 keeps the natural mix;
    membership is a pure function of the key — identical at any
    partitioning and monotone in alpha's acceptance thresholds."""
    from kgspark.ops.curation import resample_temperature

    rows = (
        [(i, "big") for i in range(600)]
        + [(1000 + i, "mid") for i in range(300)]
        + [(2000 + i, "small") for i in range(100)]
    )
    df = spark.createDataFrame(rows, "doc_id long, grp string")

    out = resample_temperature(df, "grp", "doc_id", alpha=0.5)
    kept = {
        r["grp"]: r["k"]
        for r in out.filter("is_kept").groupBy("grp").agg(F.count("*").alias("k")).collect()
    }
    assert kept["small"] == 100  # smallest group: accept rate 1.0
    # expected: mid 300*sqrt(100/300)=173, big 600*sqrt(100/600)=245 (±5%ish)
    assert abs(kept["mid"] - 173) < 35
    assert abs(kept["big"] - 245) < 40

    # deterministic and partitioning-invariant membership
    ids1 = sorted(r["doc_id"] for r in out.filter("is_kept").select("doc_id").collect())
    out2 = resample_temperature(df.repartition(13), "grp", "doc_id", alpha=0.5)
    ids2 = sorted(r["doc_id"] for r in out2.filter("is_kept").select("doc_id").collect())
    assert ids1 == ids2

    # alpha=1: natural mix, everything kept
    all_kept = resample_temperature(df, "grp", "doc_id", alpha=1.0)
    assert all_kept.filter("NOT is_kept").count() == 0

    # a fresh salt redraws membership but not the thresholds
    out3 = resample_temperature(df, "grp", "doc_id", alpha=0.5, salt="mix-v2")
    t1 = {(r["grp"], r["accept_ppm"]) for r in out.select("grp", "accept_ppm").distinct().collect()}
    t3 = {(r["grp"], r["accept_ppm"]) for r in out3.select("grp", "accept_ppm").distinct().collect()}
    assert t1 == t3
    ids3 = sorted(r["doc_id"] for r in out3.filter("is_kept").select("doc_id").collect())
    assert ids3 != ids1


def test_build_training_shards_end_to_end(spark, tmp_path):
    """The composed curation pipeline: gates are monotone, shards land
    partitioned by (split, shard), packing respects the per-group restart,
    stats persist, and a rerun is byte-deterministic."""
    import json

    from kgspark.ops.curation import build_training_shards

    base_rows = []
    for i in range(120):
        base_rows.append((i, f"the quick brown document number {i} talks about spark joins and shuffles in detail " * 3))
    base_rows += [(200 + i, base_rows[i][1]) for i in range(10)]  # exact dups
    base_rows += [(300, "el texto en otro idioma que no pasa la puerta " * 4)]
    base_rows += [(301, "!!! ??? ...")]  # low quality
    docs = spark.createDataFrame(base_rows, "doc_id long, text string")

    out = str(tmp_path / "shards1")
    stats = build_training_shards(spark, docs, out, budget=256, n_shards=4)
    assert stats["input"] == 132
    assert stats["after_lang"] <= 131  # spanish doc gated
    assert stats["after_quality"] <= stats["after_lang"]
    assert stats["after_exact_dedup"] == stats["after_quality"] - 10  # dups folded
    assert stats["after_neardup"] <= stats["after_exact_dedup"]
    assert stats["train_docs"] > 0
    disk = json.loads((tmp_path / "shards1" / "_stats.json").read_text())
    assert disk == {k: v for k, v in stats.items()}

    written = spark.read.parquet(f"{out}/shards")
    assert set(written.columns) >= {"doc_id", "n_tokens", "split", "shard", "pack_id", "pack_offset"}
    # pack offsets stay under budget and restart per (split, shard)
    bad = written.filter((F.col("pack_offset") >= 256) | (F.col("pack_offset") < 0)).count()
    assert bad == 0

    out2 = str(tmp_path / "shards2")
    stats2 = build_training_shards(spark, docs.repartition(7), out2, budget=256, n_shards=4)
    assert stats2 == stats  # partitioning-invariant
    a = sorted(map(tuple, written.collect()))
    b = sorted(map(tuple, spark.read.parquet(f"{out2}/shards").collect()))
    assert a == b


def test_build_training_shards_all_gated_out(spark, tmp_path):
    """A corpus the gates fully reject must produce a zero-count stats record,
    not crash reading back an empty partitioned write (found driving the
    builder over a Chinese corpus with lang='en')."""
    import json

    from kgspark.ops.curation import build_training_shards

    docs = spark.createDataFrame(
        [(1, "solo documento en otro idioma aqui presente " * 4)], "doc_id long, text string"
    )
    out = str(tmp_path / "empty")
    stats = build_training_shards(spark, docs, out, budget=256, n_shards=2)
    assert stats["input"] == 1 and stats["after_neardup"] == 0
    assert "train_docs" not in stats
    assert json.loads((tmp_path / "empty" / "_stats.json").read_text()) == stats


def test_build_training_shards_single_raw_pass(spark, tmp_path):
    """The round-2 finding: per-stage .count() actions re-ran the gate
    lineage ~6x from the raw corpus. Stats now ride observe() accumulators
    and the gated corpus is localCheckpointed, so the raw input is scanned
    exactly ONCE regardless of how many stages and stats follow."""
    from kgspark.ops.curation import build_training_shards

    rows = [
        (i, f"the quick brown document number {i} talks about spark joins and shuffles in detail " * 3)
        for i in range(60)
    ]
    raw = spark.createDataFrame(rows, "doc_id long, text string")

    acc = spark.sparkContext.accumulator(0)

    def count_scans(batches):
        for pdf in batches:
            acc.add(len(pdf))
            yield pdf

    docs = raw.mapInPandas(count_scans, schema="doc_id long, text string")
    stats = build_training_shards(spark, docs, str(tmp_path / "s"), budget=256, n_shards=2)
    assert stats["input"] == 60
    assert acc.value == 60, f"raw corpus scanned {acc.value / 60:.1f}x, expected once"


def test_build_training_shards_decontam_stage(spark, tmp_path):
    """eval_docs plugs the decontamination gate in after dedup: documents
    sharing an n-gram with the eval set are dropped, the stage count lands
    in stats, and the written shards contain no contaminated doc."""
    import json

    from kgspark.ops.curation import build_training_shards

    rows = [
        (i, f"the quick brown document number {i} talks about spark joins and shuffles in detail " * 3)
        for i in range(40)
    ]
    # doc 100 embeds the eval passage verbatim (and passes the lang/quality
    # gates: English marker words, >20 tokens, no punctuation spam)
    rows.append((
        100,
        "the secret eval benchmark passage tokens appear and the discussion "
        "continues about the results in detail with many more sentences "
        "covering the methodology and the conclusions drawn from it",
    ))
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    ev = spark.createDataFrame(
        [(0, "secret eval benchmark passage tokens appear")], "doc_id long, text string"
    )

    out = str(tmp_path / "sd")
    stats = build_training_shards(
        spark, docs, out, budget=256, n_shards=2, eval_docs=ev, decontam_n=5
    )
    assert stats["after_decontam"] == stats["after_neardup"] - 1
    assert json.loads((tmp_path / "sd" / "_stats.json").read_text())["after_decontam"] == stats["after_decontam"]
    written = spark.read.parquet(f"{out}/shards")
    assert written.filter(F.col("doc_id") == 100).count() == 0
    assert written.count() == stats["after_decontam"]


def test_unicode_nfc_nfkc(spark):
    """NFC composes equivalent sequences to one byte form (dedup keys);
    NFKC additionally folds compatibility forms; fingerprints of NFC'd
    variants collide as intended."""
    from kgspark.ops.unicodenorm import nfc_text, nfkc_text

    decomposed = "Café"       # e + combining acute
    precomposed = "Café"
    assert decomposed != precomposed  # genuinely different byte forms
    full = "ＡＢ"           # fullwidth AB
    lig = "ﬁle"                # fi-ligature + le
    df = spark.createDataFrame(
        [(1, decomposed), (2, precomposed), (3, full), (4, lig), (5, None)],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: (r["nfc"], r["nfkc"]) for r in df.select(
        "doc_id", nfc_text(F.col("text")).alias("nfc"), nfkc_text(F.col("text")).alias("nfkc")
    ).collect()}
    assert out[1][0] == out[2][0] == precomposed  # NFC folds the variants
    assert out[3][0] == full and out[3][1] == "AB"  # NFKC folds fullwidth
    assert out[4][1] == "file"
    assert out[5] == (None, None)

    fp = {r["doc_id"]: r["f"] for r in df.filter("doc_id in (1,2)").select(
        "doc_id", textstats.fingerprint(nfc_text(F.col("text"))).alias("f")
    ).collect()}
    assert fp[1] == fp[2]  # NFC-then-fingerprint collides the variants


def test_jpeg_decode_roundtrip_444_and_gray():
    """decode_jpeg is a REAL baseline decoder: with all-ones quantization
    tables the only loss is DCT float rounding, so every sample lands
    within 2/255 of the source (gray: 1, no color-transform rounding)."""
    from kgspark.ops import jpeg

    rng = np.random.default_rng(7)
    px = rng.integers(0, 256, size=(24, 33, 3), dtype=np.uint8)
    ones = np.ones(64, dtype=np.int64)
    got = jpeg.decode_jpeg(jpeg.encode_jpeg(px, luma_q=ones, chroma_q=ones))
    assert got.shape == (24, 33, 3)
    assert np.abs(got.astype(int) - px.astype(int)).max() <= 2

    gray = rng.integers(0, 256, size=(17, 19), dtype=np.uint8)
    got_g = jpeg.decode_jpeg(jpeg.encode_jpeg(gray, luma_q=ones))
    assert got_g.shape == (17, 19, 1)
    assert np.abs(got_g[:, :, 0].astype(int) - gray.astype(int)).max() <= 1


def test_jpeg_decode_420_subsampled_and_restart_markers():
    """4:2:0 chroma subsampling exercises the decoder's MCU/upsample path;
    restart_interval emits DRI + RSTn markers and the decoder must
    resynchronize (byte-align, reset DC predictors) at each one."""
    from kgspark.ops import jpeg

    ones = np.ones(64, dtype=np.int64)
    yy, xx = np.mgrid[0:32, 0:40]
    smooth = np.stack(
        [(yy * 3 + 20) % 256, (xx * 2 + 50) % 256, ((yy + xx) * 2) % 256], axis=2
    ).astype(np.uint8)
    got = jpeg.decode_jpeg(
        jpeg.encode_jpeg(smooth, luma_q=ones, chroma_q=ones, subsample=True)
    )
    assert got.shape == (32, 40, 3)
    assert np.abs(got.astype(int) - smooth.astype(int)).max() <= 3

    rng = np.random.default_rng(11)
    px = rng.integers(0, 256, size=(40, 56, 3), dtype=np.uint8)
    raw = jpeg.encode_jpeg(px, luma_q=ones, chroma_q=ones, restart_interval=3)
    assert b"\xff\xdd" in raw  # DRI present
    n_rst = sum(
        raw[i] == 0xFF and 0xD0 <= raw[i + 1] <= 0xD7 for i in range(2, len(raw) - 2)
    )
    assert n_rst > 0
    got_r = jpeg.decode_jpeg(raw)
    assert np.abs(got_r.astype(int) - px.astype(int)).max() <= 2


def test_jpeg_quality_knob_and_error_paths():
    """quality= scales the Annex-K tables into a decodable lossy stream;
    arithmetic-coded SOF9 raises NotImplementedError; bad magic and
    bomb-declared dimensions raise ValueError before allocation."""
    import struct

    from kgspark.ops import jpeg

    rng = np.random.default_rng(3)
    px = rng.integers(0, 256, size=(16, 16, 3), dtype=np.uint8)
    got = jpeg.decode_jpeg(jpeg.encode_jpeg(px, quality=75))
    assert got.shape == (16, 16, 3)  # lossy but structurally intact

    with pytest.raises(ValueError):
        jpeg.decode_jpeg(b"NOTAJPEG")
    with pytest.raises(NotImplementedError):
        jpeg.decode_jpeg(
            b"\xff\xd8\xff\xc9"
            + struct.pack(">H", 10)
            + b"\x08\x00\x08\x00\x08\x01\x01\x11\x00"
        )
    bomb = (
        b"\xff\xd8\xff\xc0"
        + struct.pack(">H", 11)
        + b"\x08"
        + struct.pack(">HH", 60000, 60000)
        + b"\x01\x01\x11\x00"
    )
    with pytest.raises(ValueError, match="bomb"):
        jpeg.decode_jpeg(bomb)


def test_jpeg_media_features_dispatch():
    """media_features routes FFD8FF magic to the real JPEG decoder and
    returns the same pixel-stats vector as decoding directly."""
    from kgspark.ops import jpeg

    ones = np.ones(64, dtype=np.int64)
    rng = np.random.default_rng(5)
    px = rng.integers(0, 256, size=(16, 24, 3), dtype=np.uint8)
    raw = jpeg.encode_jpeg(px, luma_q=ones, chroma_q=ones)
    feat = multimodal.media_features(raw)
    expected = multimodal._pixel_stats(jpeg.decode_jpeg(raw))
    assert feat.shape == (multimodal.FEATURE_DIM,)
    assert np.allclose(feat, expected)
    # dims ride the stats vector: log1p(w), log1p(h), channels
    assert np.isclose(feat[0], np.log1p(24)) and np.isclose(feat[1], np.log1p(16))
    assert feat[2] == 3.0


def test_jpeg_decoder_untrusted_bytes_raise_valueerror_only():
    """Web crawls feed the decoder untrusted bytes: every truncation,
    single-byte corruption, and random-garbage stream must raise
    ValueError/NotImplementedError — no stdlib exception (IndexError,
    KeyError, struct.error, ...) may escape, and nothing may hang."""
    from kgspark.ops import jpeg

    rng = np.random.default_rng(0)
    ones = np.ones(64, dtype=np.int64)
    base = jpeg.encode_jpeg(
        rng.integers(0, 256, size=(16, 16, 3), dtype=np.uint8),
        luma_q=ones,
        chroma_q=ones,
    )
    for cut in range(4, len(base), 5):
        with pytest.raises((ValueError, NotImplementedError)):
            jpeg.decode_jpeg(base[:cut])
    for i in range(2, len(base), 5):
        flipped = bytearray(base)
        flipped[i] ^= 0xFF
        try:
            jpeg.decode_jpeg(bytes(flipped))
        except (ValueError, NotImplementedError):
            pass  # most flips corrupt the stream; a few land in ignorable bits
    for _ in range(200):
        garbage = b"\xff\xd8\xff" + bytes(
            rng.integers(0, 256, size=int(rng.integers(1, 300))).astype(np.uint8)
        )
        with pytest.raises((ValueError, NotImplementedError)):
            jpeg.decode_jpeg(garbage)


def test_jpeg_progressive_roundtrip_color_gray_and_lossy():
    """Progressive (SOF2) decode is REAL: the fixture encoder's 8-scan
    successive-approximation plan (interleaved DC first Al=1, DC refine,
    per-component AC first Al=1, AC refine Ah=1) reconstructs the exact
    same coefficients as the baseline path, so pixels agree to IDCT float
    rounding; a smooth lossy image exercises long EOB runs and ZRL."""
    from kgspark.ops import jpeg

    ones = np.ones(64, dtype=np.int64)
    rng = np.random.default_rng(7)
    px = rng.integers(0, 256, size=(24, 17, 3), dtype=np.uint8)  # non-8-multiple crop
    base = jpeg.decode_jpeg(jpeg.encode_jpeg(px, luma_q=ones, chroma_q=ones))
    prog = jpeg.decode_jpeg(
        jpeg.encode_jpeg(px, luma_q=ones, chroma_q=ones, progressive=True)
    )
    assert prog.shape == base.shape
    assert int(np.max(np.abs(prog.astype(int) - base.astype(int)))) <= 1
    assert int(np.max(np.abs(prog.astype(int) - px.astype(int)))) <= 2

    gray = rng.integers(0, 256, size=(16, 16), dtype=np.uint8)
    pg = jpeg.decode_jpeg(jpeg.encode_jpeg(gray, luma_q=ones, progressive=True))
    bg = jpeg.decode_jpeg(jpeg.encode_jpeg(gray, luma_q=ones))
    assert int(np.max(np.abs(pg.astype(int) - bg.astype(int)))) <= 1

    # smooth gradient at a real quality: most AC bands quantize to zero ->
    # multi-block EOB runs; decoded output must stay close to the source
    yy, xx = np.mgrid[0:40, 0:33]
    smooth = np.stack(
        [(yy * 3) % 256, (xx * 5) % 256, ((yy + xx) * 2) % 256], axis=2
    ).astype(np.uint8)
    got = jpeg.decode_jpeg(jpeg.encode_jpeg(smooth, quality=85, progressive=True))
    assert got.shape == (40, 33, 3)
    base_q = jpeg.decode_jpeg(jpeg.encode_jpeg(smooth, quality=85))
    assert int(np.max(np.abs(got.astype(int) - base_q.astype(int)))) <= 1

    with pytest.raises(ValueError):  # fixture scope: no subsample/restarts
        jpeg.encode_jpeg(px, progressive=True, subsample=True)


def test_png_gif_wav_untrusted_bytes_raise_valueerror_only():
    """Same crawl-scale policy as the JPEG decoder: truncations, bit flips,
    and garbage after a valid magic must surface as ValueError /
    NotImplementedError from every decoder — stdlib zlib.error /
    struct.error / IndexError leakage would fail whole Arrow batches."""
    rng = np.random.default_rng(1)
    px = rng.integers(0, 256, size=(12, 14, 3), dtype=np.uint8)
    cases = [
        (multimodal.encode_png(px, filter_type=4), multimodal.decode_png),
        (
            multimodal.encode_gif(
                rng.integers(0, 8, size=(10, 12), dtype=np.uint8),
                rng.integers(0, 256, size=(8, 3), dtype=np.uint8),
            ),
            multimodal.decode_gif,
        ),
        (
            multimodal.encode_wav(
                (0.3 * np.sin(np.arange(500) / 10))[:, None], 8000
            ),
            multimodal.decode_wav,
        ),
    ]
    for base, fn in cases:
        for cut in range(4, len(base), 5):
            try:
                fn(base[:cut])
            except (ValueError, NotImplementedError):
                pass  # truncation past the needed prefix may still decode
        for i in range(2, len(base), 5):
            flipped = bytearray(base)
            flipped[i] ^= 0xFF
            try:
                fn(bytes(flipped))
            except (ValueError, NotImplementedError):
                pass  # some flips land in ignorable bits and still decode
        for _ in range(100):
            garbage = bytes(base[:6]) + bytes(
                rng.integers(0, 256, size=int(rng.integers(1, 150))).astype(np.uint8)
            )
            try:
                fn(garbage)
            except (ValueError, NotImplementedError):
                pass  # random tails occasionally form a decodable stream
        fn(base)  # the valid stream still decodes through the guard


def test_phash_kernel_invariance_and_discrimination():
    """DCT pHash: re-encoding the same picture (PNG -> JPEG q90, 4:2:0)
    moves <= 4 bits and mild noise <= 12, while unrelated pictures differ
    by ~32 of 64 bits — the margin the banded Hamming join relies on."""
    from kgspark.ops import multimodal
    from kgspark.ops.jpeg import encode_jpeg
    from kgspark.ops.phash import phash64

    def ham(a, b):
        return bin((a ^ b) & ((1 << 64) - 1)).count("1")

    rng = np.random.default_rng(2)
    yy, xx = np.mgrid[0:64, 0:80]
    img = np.stack(
        [
            128 + 100 * np.sin(yy / 9.0) * np.cos(xx / 13.0),
            128 + 90 * np.cos(yy / 7.0 + 1),
            128 + 80 * np.sin((xx + yy) / 11.0),
        ],
        axis=2,
    ).clip(0, 255).astype(np.uint8)
    base = phash64(multimodal.encode_png(img))
    assert ham(base, phash64(encode_jpeg(img, quality=90))) <= 4
    assert ham(base, phash64(encode_jpeg(img, quality=85, subsample=True))) <= 4
    noisy = np.clip(img.astype(int) + rng.integers(-8, 9, img.shape), 0, 255)
    assert ham(base, phash64(multimodal.encode_png(noisy.astype(np.uint8)))) <= 12
    img2 = np.stack(
        [128 + 100 * np.cos(yy / 5.0) * np.sin(xx / 8.0), (xx * 3) % 256, (yy * 4) % 256],
        axis=2,
    ).clip(0, 255).astype(np.uint8)
    assert ham(base, phash64(multimodal.encode_png(img2))) >= 20
    # fake tier is deterministic and payload-derived
    assert phash64(b"zz", fake=True) == phash64(b"zz", fake=True)


def test_phash_neardup_pairs_spark(spark):
    """Planted near-dups (same pixels, PNG vs JPEG q88) are all recovered
    by the banded Hamming join; undecodable payloads hash to NULL and are
    excluded rather than failing the batch."""
    from pyspark.sql import functions as F

    from kgspark.ops.phash import make_neardup_media, phash_neardup_pairs, with_phash

    n = 12
    media = make_neardup_media(spark, n)
    # splice in an undecodable payload: must not break the stage
    junk = spark.range(1).select(
        (F.lit(10_000)).alias("media_id"),
        F.lit(bytearray(b"\xff\xd8\xffgarbage")).cast("binary").alias("payload"),
    )
    hashed = with_phash(media.unionByName(junk))
    assert hashed.filter("phash IS NULL").count() == 1
    got = {
        (r["a"], r["b"])
        for r in phash_neardup_pairs(hashed, max_hamming=6).collect()
    }
    planted = {(i, i + n) for i in range(n)}
    assert planted <= got


def test_mp4_container_parse_roundtrip_and_policy():
    """MP4 box parsing is REAL (only codec frame decode is stubbed): the
    fixture encoder's brand, movie/track durations, geometry, and codec
    fourccs all read back; malformed/truncated/garbage streams raise
    ValueError only (same untrusted-bytes policy as the other decoders)."""
    from kgspark.ops import mp4

    raw = mp4.encode_mp4_stub(duration_ms=5432, width=1280, height=720, codec="hvc1")
    meta = mp4.parse_mp4_meta(raw)
    assert meta["brand"] == "isom" and meta["duration_ms"] == 5432
    video = next(t for t in meta["tracks"] if t["kind"] == "video")
    audio = next(t for t in meta["tracks"] if t["kind"] == "audio")
    assert (video["width"], video["height"], video["codec"]) == (1280, 720, "hvc1")
    assert audio["codec"] == "mp4a" and audio["duration_ms"] == 5432
    assert len(mp4.parse_mp4_meta(mp4.encode_mp4_stub(audio=False))["tracks"]) == 1

    with pytest.raises(NotImplementedError):
        mp4.decode_mp4_frames(raw)
    with pytest.raises(ValueError):
        mp4.parse_mp4_meta(b"NOTANMP4STREAM!!")
    rng = np.random.default_rng(4)
    for cut in range(4, len(raw), 7):
        try:
            mp4.parse_mp4_meta(raw[:cut])
        except (ValueError, NotImplementedError):
            pass
    for _ in range(200):
        garbage = raw[:8] + bytes(
            rng.integers(0, 256, size=int(rng.integers(1, 250))).astype(np.uint8)
        )
        try:
            mp4.parse_mp4_meta(garbage)
        except (ValueError, NotImplementedError):
            pass


def test_mp4_meta_spark_stage(spark):
    """mp4_meta extracts container metadata distributed; non-MP4 payloads
    yield NULL metadata rows instead of failing the Arrow batch."""
    from pyspark.sql import Row

    from kgspark.ops import mp4

    rows = [
        Row(media_id=0, payload=bytearray(mp4.encode_mp4_stub(duration_ms=1500, width=640, height=360))),
        Row(media_id=1, payload=bytearray(mp4.encode_mp4_stub(duration_ms=90_000, width=1920, height=1080, codec="av01", audio=False))),
        Row(media_id=2, payload=bytearray(b"junk-not-a-video")),
        Row(media_id=3, payload=None),
    ]
    media = spark.createDataFrame(rows, "media_id long, payload binary")
    got = {r["media_id"]: r for r in mp4.mp4_meta(media).collect()}
    assert got[0]["duration_ms"] == 1500 and got[0]["video_codec"] == "avc1"
    assert got[0]["n_tracks"] == 2 and (got[0]["width"], got[0]["height"]) == (640, 360)
    assert got[1]["duration_ms"] == 90_000 and got[1]["video_codec"] == "av01"
    assert got[1]["n_tracks"] == 1
    assert got[2]["brand"] is None and got[3]["duration_ms"] is None


def _mjpeg_frame(i: int, h: int = 24, w: int = 16) -> np.ndarray:
    y, x = np.mgrid[0:h, 0:w]
    r = ((x * (3 + i) + y * 5) % 256).astype(np.uint8)
    g = ((x * 7 + y * (2 + i)) % 256).astype(np.uint8)
    b = ((x + y + 31 * i) % 256).astype(np.uint8)
    return np.stack([r, g, b], axis=-1)


def test_mp4_mjpeg_frame_decode_roundtrip():
    """r04: MP4 frame decode is REAL for Motion-JPEG tracks — the fixture
    encoder lays repo-encoded JPEG samples behind genuine
    stts/stsz/stsc/stco tables (two chunks, exercising the stsc run walk)
    and decode_mp4_frames walks them back to pixels within JPEG
    DCT-rounding error. Inter-coded fourccs refuse with
    NotImplementedError even when their sample tables are complete."""
    from kgspark.ops import mp4

    frames = [_mjpeg_frame(i) for i in range(5)]
    ones = np.ones(64, dtype=np.int64)
    raw = mp4.encode_mjpeg_mp4(frames, fps=4, luma_q=ones, chroma_q=ones)

    meta = mp4.parse_mp4_meta(raw)
    assert meta["duration_ms"] == 5 * 250
    video = next(t for t in meta["tracks"] if t["kind"] == "video")
    assert (video["codec"], video["width"], video["height"]) == ("jpeg", 16, 24)

    codec, samples = mp4.extract_video_samples(raw)
    assert codec == "jpeg" and len(samples) == 5
    assert [t for t, _ in samples] == [0, 250, 500, 750, 1000]

    decoded = mp4.decode_mp4_frames(raw)
    assert len(decoded) == 5
    for (ts, px), orig in zip(decoded, frames):
        assert px.shape == orig.shape
        assert int(np.abs(px.astype(int) - orig.astype(int)).max()) <= 1

    # single-sample container exercises the one-chunk stsc path
    one = mp4.decode_mp4_frames(
        mp4.encode_mjpeg_mp4(frames[:1], fps=2, luma_q=ones, chroma_q=ones)
    )
    assert len(one) == 1 and one[0][0] == 0

    # real tables + inter-coded fourcc: the codec gate must refuse
    with pytest.raises(NotImplementedError, match="avc1"):
        mp4.decode_mp4_frames(
            mp4.encode_mjpeg_mp4(frames[:2], codec="avc1", luma_q=ones, chroma_q=ones)
        )
    with pytest.raises(ValueError):
        mp4.encode_mjpeg_mp4([])


def test_mp4_sample_extraction_untrusted_bytes_policy():
    """Truncation/garbage over the sample-table walk raises only
    ValueError/NotImplementedError (never a stdlib exception), and a
    crafted stsz sample count beyond the sanity bound is rejected."""
    from kgspark.ops import mp4

    ones = np.ones(64, dtype=np.int64)
    raw = mp4.encode_mjpeg_mp4(
        [_mjpeg_frame(i) for i in range(3)], luma_q=ones, chroma_q=ones
    )
    for cut in range(4, len(raw), 11):
        try:
            mp4.extract_video_samples(raw[:cut])
        except (ValueError, NotImplementedError):
            pass
    rng = np.random.default_rng(7)
    for _ in range(200):
        garbage = raw[:8] + bytes(
            rng.integers(0, 256, size=int(rng.integers(1, 300))).astype(np.uint8)
        )
        try:
            mp4.extract_video_samples(garbage)
        except (ValueError, NotImplementedError):
            pass
    # bomb guard: patch stsz's sample count to 2^31
    idx = raw.index(b"stsz")
    bombed = bytearray(raw)
    bombed[idx + 12 : idx + 16] = (2**31).to_bytes(4, "big")
    with pytest.raises(ValueError, match="sanity bound"):
        mp4.extract_video_samples(bytes(bombed))


def test_mp4_frames_spark_stage(spark):
    """mp4_frames decodes MJPEG videos distributed (one row per frame);
    inter-coded/malformed/NULL payloads contribute zero rows instead of
    failing the Arrow batch."""
    from pyspark.sql import Row

    from kgspark.ops import mp4

    ones = np.ones(64, dtype=np.int64)
    vid = mp4.encode_mjpeg_mp4(
        [_mjpeg_frame(i) for i in range(3)], fps=5, luma_q=ones, chroma_q=ones
    )
    rows = [
        Row(media_id=0, payload=bytearray(vid)),
        Row(media_id=1, payload=bytearray(mp4.encode_mp4_stub(codec="avc1"))),
        Row(media_id=2, payload=bytearray(b"junk-not-a-video")),
        Row(media_id=3, payload=None),
    ]
    media = spark.createDataFrame(rows, "media_id long, payload binary")
    got = mp4.mp4_frames(media).collect()
    assert {r["media_id"] for r in got} == {0}
    assert sorted(r["ts_ms"] for r in got) == [0, 200, 400]
    assert all((r["height"], r["width"]) == (24, 16) for r in got)
    assert all(0.0 < r["mean_px"] < 255.0 for r in got)


def test_audiohash_invariance_and_discrimination():
    """Spectral-presence audio hash: amplitude rescaling, 8-bit
    requantization, and mild noise flip ZERO bits on tonal content, while
    unrelated tone mixtures differ in >= 4 bits."""
    from kgspark.ops.audiohash import audiohash64

    def ham(a, b):
        return bin((a ^ b) & ((1 << 64) - 1)).count("1")

    rate = 8000
    t = np.arange(rate * 2) / rate
    rng = np.random.default_rng(5)

    def clip(freqs, amps, scale=1.0, bits=16):
        w = sum(
            a * np.sin(2 * np.pi * f * t + 0.3 * k)
            for k, (a, f) in enumerate(zip(amps, freqs))
        ) / 2.0 * scale
        if bits == 8:
            w = np.round(w * 127.0) / 127.0
        return multimodal.encode_wav(w[:, None], rate)

    f1, a1 = [440.0, 1200.0, 2500.0], [0.4, 0.3, 0.25]
    base = audiohash64(clip(f1, a1))
    assert ham(base, audiohash64(clip(f1, a1, scale=0.6, bits=8))) == 0
    assert ham(base, audiohash64(clip(f1, a1, scale=0.3))) == 0
    w = sum(
        a * np.sin(2 * np.pi * f * t + 0.3 * k)
        for k, (a, f) in enumerate(zip(a1, f1))
    ) / 2.0
    noisy = multimodal.encode_wav((w + rng.normal(0, 0.01, w.shape))[:, None], rate)
    assert ham(base, audiohash64(noisy)) <= 2
    other = audiohash64(clip([300.0, 900.0, 3100.0], [0.35, 0.3, 0.3]))
    assert ham(base, other) >= 4
    with pytest.raises(ValueError):
        audiohash64(multimodal.encode_wav(np.zeros((10, 1)), rate))  # < one frame
    assert audiohash64(b"zz", fake=True) == audiohash64(b"zz", fake=True)


def test_audiohash_neardup_pairs_spark(spark):
    """Planted audio near-dups (same tones at 60% amplitude, 8-bit) are
    all recovered by the banded Hamming join; junk payloads hash to NULL."""
    from pyspark.sql import functions as F

    from kgspark.ops.audiohash import (
        audiohash_neardup_pairs,
        make_neardup_audio,
        with_audiohash,
    )

    n = 10
    media = make_neardup_audio(spark, n)
    junk = spark.range(1).select(
        F.lit(10_000).alias("media_id"),
        F.lit(bytearray(b"RIFFxxxxWAVEjunk")).cast("binary").alias("payload"),
    )
    hashed = with_audiohash(media.unionByName(junk))
    assert hashed.filter("audiohash IS NULL").count() == 1
    got = {
        (r["a"], r["b"])
        for r in audiohash_neardup_pairs(hashed, max_hamming=2).collect()
    }
    planted = {(i, i + n) for i in range(n)}
    assert planted <= got


def test_frame_sample_plan_mp4_uses_parsed_durations(spark):
    """The frame-sampling plan reads durations from the REAL container
    parse (not caller metadata): a 3.5 s video yields frames at 0..3500 ms,
    audio-only and junk payloads contribute no rows."""
    from pyspark.sql import Row

    from kgspark.ops import mp4

    rows = [
        Row(media_id=0, payload=bytearray(mp4.encode_mp4_stub(duration_ms=3500))),
        Row(media_id=1, payload=bytearray(b"not a video")),
    ]
    media = spark.createDataFrame(rows, "media_id long, payload binary")
    got = mp4.frame_sample_plan_mp4(media, every_ms=1000).collect()
    assert {(r["media_id"], r["frame_ts_ms"]) for r in got} == {
        (0, 0), (0, 1000), (0, 2000), (0, 3000)
    }
    assert all(r["video_codec"] == "avc1" for r in got)


def test_export_jsonl_shards_roundtrip(spark, tmp_path):
    """JSONL export mirrors the parquet shards: same rows, hive-partitioned
    by (split, shard), gzip members, pack order within files."""
    import glob
    import json

    from kgspark.ops.curation import build_training_shards, export_jsonl_shards

    rows = [
        (i, f"the quick brown document number {i} talks about spark joins and shuffles in detail " * 3)
        for i in range(40)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = str(tmp_path / "sx")
    build_training_shards(spark, docs, out, budget=256, n_shards=2)
    packed = spark.read.parquet(f"{out}/shards")

    jl = str(tmp_path / "jl")
    export_jsonl_shards(packed, jl)
    files = glob.glob(f"{jl}/split=*/shard=*/*.json.gz")
    assert files, "expected gzipped jsonl members under hive partitions"
    back = spark.read.json(jl)
    assert back.count() == packed.count()
    a = sorted(
        (r["doc_id"], r["split"], int(r["shard"]), r["pack_id"], r["pack_offset"])
        for r in back.collect()
    )
    b = sorted(
        (r["doc_id"], r["split"], int(r["shard"]), r["pack_id"], r["pack_offset"])
        for r in packed.collect()
    )
    assert a == b
    # each member file is in pack order
    import gzip

    for f in files[:3]:
        with gzip.open(f, "rt") as fh:
            keys = [(json.loads(l)["pack_id"], json.loads(l)["pack_offset"]) for l in fh]
        assert keys == sorted(keys)


def test_repeated_spans_and_trim(spark):
    """Planted boilerplate: a shared license header repeats across docs and
    is flagged as one merged span per doc; unique body text never flags;
    trim removes exactly the flagged tokens; adjacent/overlapping hits
    merge into maximal intervals."""
    from kgspark.ops.curation import repeated_spans, trim_repeated_spans

    header = "licensed under the apache license version two point zero"  # 9 tokens
    rows = [
        (1, header + " alpha body about spark plans and watermarks"),
        (2, header + " omega body concerning shuffle sizing and skew"),
        (3, "fully unique document with no shared material at all here"),
        # doc 4: header appears twice, separated by one unique token ->
        # two hit clusters that must NOT merge across the gap token
        (4, header + " gapword " + header),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    spans = repeated_spans(docs, n=4, min_count=2)
    got = {
        r["doc_id"]: (r["span_start"], r["span_end"])
        for r in spans.filter("doc_id IN (1, 2)").collect()
    }
    # the 9-token header: 4-gram hits at pos 1..6 merge into [1, 9]
    assert got == {1: (1, 9), 2: (1, 9)}
    assert spans.filter("doc_id = 3").count() == 0
    d4 = sorted(
        (r["span_start"], r["span_end"]) for r in spans.filter("doc_id = 4").collect()
    )
    assert d4 == [(1, 9), (11, 19)]  # gapword at 10 splits the islands

    trimmed = {r["doc_id"]: r["text_trimmed"] for r in trim_repeated_spans(docs, spans).collect()}
    assert trimmed[1] == "alpha body about spark plans and watermarks"
    assert trimmed[2] == "omega body concerning shuffle sizing and skew"
    assert trimmed[3] == "fully unique document with no shared material at all here"
    assert trimmed[4] == "gapword"

    # md5 (portable) path produces identical spans
    spans_md5 = repeated_spans(docs, n=4, min_count=2, hash="md5")
    assert sorted(map(tuple, spans.collect())) == sorted(map(tuple, spans_md5.collect()))


def test_unigram_logprob_discriminates(spark):
    """Common-word documents score higher than rare-word documents; the
    score is the exact mean of millinat-rounded per-token logs minus
    ln(corpus size), and is partitioning-invariant."""
    import math

    from kgspark.ops.textstats import unigram_logprob

    common = "the and of to in " * 8  # 40 tokens of 5 very frequent words
    rows = [(i, common) for i in range(10)]
    rows.append((100, "zyzzyva quokka absquatulate bort nudnik"))  # 5 hapaxes
    rows.append((101, None))
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: (r["n_tokens"], r["logprob"]) for r in unigram_logprob(docs).collect()}
    assert 101 not in out  # null text -> no tokens -> no row
    assert out[100][0] == 5
    assert out[0][1] > out[100][1]  # common >> rare

    # exact replay: corpus C = 10*40 + 5 = 405; each common word count 80
    c_total = 405
    expect_common = round(round(math.log(80) * 1000) / 1000.0 / 1 - math.log(c_total), 6)
    assert abs(out[0][1] - expect_common) < 1e-9
    expect_rare = round(round(math.log(1) * 1000) / 1000.0 / 1 - math.log(c_total), 6)
    assert abs(out[100][1] - expect_rare) < 1e-9

    out2 = {
        r["doc_id"]: (r["n_tokens"], r["logprob"])
        for r in unigram_logprob(docs.repartition(7)).collect()
    }
    assert out2 == out


def test_url_host_cases(spark):
    """Host extraction: scheme optional, userinfo/port stripped, case
    folded; pathological inputs degrade to '' instead of erroring."""
    from kgspark.ops.curation import url_host

    cases = [
        ("HTTPS://User:pw@WWW.Example.COM:8443/a/b?q=1#f", "www.example.com"),
        ("http://example.com", "example.com"),
        ("example.com/p", "example.com"),
        ("ftp://Files.example.org:21/x", "files.example.org"),
        ("//cdn.example.net/lib.js", ""),  # protocol-relative: no scheme, empty first segment? -> ''
        ("", ""),
        ("/relative/path", ""),
    ]
    df = spark.createDataFrame([(i, u) for i, (u, _) in enumerate(cases)], "i int, u string")
    got = [r["h"] for r in df.select(url_host(F.col("u")).alias("h")).orderBy("i").collect()]
    assert got == [e for _, e in cases]


def test_gopher_quality_flags(spark):
    """Each Gopher rule fires on its crafted violator and the clean doc
    passes everything; null text fails all flags but stays in the output."""
    from kgspark.ops.textstats import gopher_quality_flags

    clean = (
        "the quick brown fox likes to be jumping over all of the lazy dogs "
        "and that statement should have enough plain words to pass with ease "
        * 3
    )
    rows = [
        (1, clean),
        (2, "the short one to be of and that have with"),  # < 50 tokens
        (3, "## " * 60 + clean),  # hash symbols over 10% of tokens
        (4, "\n".join(["the line trails off..."] * 10) + "\n" + clean.replace(" ", "\n", 2)),  # >30% ellipsis lines
        (5, " ".join(["1234567"] * 60) + " the to"),  # <80% alphabetic words
        (6, "zyx " * 60),  # no stopwords
        (7, None),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r.asDict() for r in gopher_quality_flags(docs).collect()}
    assert got[1]["gopher_pass"]
    assert not got[2]["flag_n_tokens"] and not got[2]["gopher_pass"]
    assert not got[3]["flag_hash_ellipsis"]
    assert not got[4]["flag_ellipsis_lines"]
    assert not got[5]["flag_alpha_words"]
    assert not got[6]["flag_stopwords"]
    assert 7 in got and not got[7]["gopher_pass"]


def test_cap_per_group_deterministic(spark):
    """At most k rows survive per group; under-k groups keep everything;
    the kept set is a pure function of (id, salt) — partitioning-invariant
    and redrawable."""
    from kgspark.ops.curation import cap_per_group

    rows = [(i, "big") for i in range(100)] + [(1000 + i, "small") for i in range(3)]
    df = spark.createDataFrame(rows, "doc_id long, grp string")
    out = cap_per_group(df, "grp", "doc_id", k=10)
    kept = {r["grp"]: 0 for r in out.collect()}
    for r in out.collect():
        kept[r["grp"]] += int(r["is_kept"])
    assert kept == {"big": 10, "small": 3}

    ids1 = sorted(r["doc_id"] for r in out.filter("is_kept").collect())
    out2 = cap_per_group(df.repartition(9), "grp", "doc_id", k=10)
    ids2 = sorted(r["doc_id"] for r in out2.filter("is_kept").collect())
    assert ids1 == ids2
    ids3 = sorted(
        r["doc_id"]
        for r in cap_per_group(df, "grp", "doc_id", k=10, salt="cap-v2").filter("is_kept").collect()
    )
    assert ids3 != ids1 and len(ids3) == 13


def test_build_training_shards_bpe_budget(spark, tmp_path):
    """token_counter='bpe' packs against the subword estimate: totals match
    token_count_bpe exactly and differ from the whitespace packing."""
    from kgspark.ops.curation import build_training_shards
    from kgspark.ops.textstats import token_count_bpe

    rows = [
        (i, f"the quick brown document number {i} talks about spark joins, shuffles & skew-handling! " * 3)
        for i in range(30)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    stats = build_training_shards(
        spark, docs, str(tmp_path / "b"), budget=256, n_shards=2, token_counter="bpe"
    )
    written = spark.read.parquet(str(tmp_path / "b") + "/shards")
    checked = written.select(
        "n_tokens", token_count_bpe(F.col("text")).cast("long").alias("expected")
    )
    assert checked.filter("n_tokens != expected").count() == 0
    total_bpe = sum(stats[k] for k in stats if k.endswith("_tokens"))
    stats_ws = build_training_shards(
        spark, docs, str(tmp_path / "w"), budget=256, n_shards=2
    )
    total_ws = sum(stats_ws[k] for k in stats_ws if k.endswith("_tokens"))
    assert total_bpe != total_ws  # punctuation splits inflate the bpe count

    import pytest

    with pytest.raises(ValueError):
        build_training_shards(spark, docs, str(tmp_path / "x"), token_counter="nope")


def test_minhash_dedup_incremental_nperm_mismatch_guard(spark):
    """A store built with a different n_perm raises up front instead of
    silently mis-bucketing every band slice."""
    docs = spark.createDataFrame([(1, "some text here " * 10)], "doc_id long, text string")
    store = dedup.minhash_signatures(docs, n_perm=32)
    with pytest.raises(ValueError, match="32-perm"):
        dedup.minhash_dedup_incremental(docs, store, n_perm=64)


def test_build_training_shards_gate_chain(spark, tmp_path):
    """r04 opt-in gates: blocklist -> encoding -> gopher -> line dedup chain
    into the shard builder with per-gate observe() stats; counts are
    monotone non-increasing along the chain and each gate demonstrably
    fires on a planted victim."""
    from kgspark.ops.curation import build_training_shards

    good = (
        "the quick brown document is here to be kept because it talks at "
        "length about spark joins and shuffles and wide transformations "
        "with the usual words that have all of the stopwords we need " * 2
    )
    boiler = "this shared cookie banner line is long enough to be eligible"
    rows = []
    for i in range(60):
        rows.append((i, f"https://ok{i % 7}.example.com/p/{i}", good + f"\n{boiler}\nunique tail {i}"))
    rows.append((100, "https://spam.evil.com/x", good))            # blocklisted
    rows.append((101, "https://ok0.example.com/m", ("cafÃ© â€™ " * 60)))  # mojibake
    rows.append((102, "https://ok1.example.com/g", "#### ... ####"))     # gopher fail
    docs = spark.createDataFrame(rows, "doc_id long, url string, text string")

    out = str(tmp_path / "gated")
    stats = build_training_shards(
        spark,
        docs,
        out,
        budget=512,
        n_shards=2,
        gates={
            "blocklist": ["evil.com"],
            "encoding_max_ppm": 1000,
            "gopher": True,
            "line_dedup": {"min_chars": 15, "min_docs": 2},
        },
    )
    # each planted victim is removed by its gate
    assert stats["after_blocklist"] == stats["input"] - 1
    assert stats["after_encoding"] == stats["after_blocklist"] - 1
    assert stats["after_gopher"] == stats["after_encoding"] - 1
    # line dedup drops no documents but removes the planted boilerplate line
    assert stats["after_line_dedup"] == stats["after_lang"]
    assert stats["lines_removed_total"] >= 60
    # monotone non-increasing along the whole chain
    chain = [
        stats["input"], stats["after_blocklist"], stats["after_encoding"],
        stats["after_gopher"], stats["after_lang"], stats["after_line_dedup"],
        stats["after_quality"], stats["after_exact_dedup"], stats["after_neardup"],
    ]
    assert chain == sorted(chain, reverse=True)
    # the boilerplate line is gone from the written text-bearing corpus
    written = spark.read.parquet(f"{out}/shards")
    assert written.count() > 0

    # unknown gate key and missing url column raise clearly
    import pytest as _pytest

    with _pytest.raises(ValueError, match="unknown gates"):
        build_training_shards(spark, docs, out, gates={"nope": 1})
    with _pytest.raises(ValueError, match="url"):
        build_training_shards(
            spark, docs.select("doc_id", "text"), out, gates={"blocklist": ["x.com"]}
        )


def test_encoding_bad_col_matches_encoding_quality_flag(spark):
    """The gate expression and the auditable operator must agree verdict-
    for-verdict, including at the exact ppm boundary."""
    from kgspark.ops.textstats import encoding_bad_col, encoding_quality

    rows = [
        (1, None),
        (2, "clean text with no issues at all"),
        (3, "cafÃ© " * 100),
        (4, "�" + "a" * 999),      # exactly 1000 ppm -> flagged
        (5, "�" + "a" * 1000),     # just under 1000 ppm -> clean
        (6, ""),
    ]
    d = spark.createDataFrame(rows, "doc_id long, text string")
    op = {r["doc_id"]: r["flag_encoding_bad"] for r in encoding_quality(d).collect()}
    gate = {
        r["doc_id"]: r["g"]
        for r in d.select("doc_id", encoding_bad_col(F.col("text")).alias("g")).collect()
    }
    assert {k: bool(v) for k, v in op.items()} == gate
    assert gate[4] is True and gate[5] is False
