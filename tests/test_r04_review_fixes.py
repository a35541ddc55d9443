"""Round-4 code-review fixes: overflow/validation guards and gate
semantics that the r04 review pass surfaced."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_bloom_rejects_sentinel_less_artifact(spark):
    from kgspark.ops.curation import bloom_decontaminate, bloom_words

    ev = _docs(spark, [(1, "a b c d e")])
    words = bloom_words(ev, n=3, m_bits=1 << 10, k_hashes=2)
    stripped = words.filter(F.col("word_idx") >= 0)  # the "natural cleanup"
    with pytest.raises(ValueError, match="sentinel"):
        bloom_decontaminate(
            _docs(spark, [(2, "a b c")]), stripped, n=3, m_bits=1 << 10, k_hashes=2
        )


def test_bpe_train_rejects_nonpositive_min_freq(spark):
    from kgspark.ops.bpe import bpe_train

    wf = spark.createDataFrame([("ab", 3), ("abc", 2)], "word string, freq bigint")
    for bad in (0, -1):
        with pytest.raises(ValueError, match="min_freq"):
            bpe_train(wf, num_merges=5, min_freq=bad)


def test_kmeans_scale_validation(spark):
    from kgspark.ops.kmeans import kmeans_assign

    emb = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 1.0])], "vec_id long, embedding array<double>"
    )
    with pytest.raises(ValueError, match="scale"):
        kmeans_assign(emb, k=1, scale=0)


def test_semdedup_overflow_guard(spark):
    # vectors of norm ~3000 at scale 1000 push 10^6 * dot^2 past 2^63:
    # Spark's non-ANSI long arithmetic would wrap silently, so the op
    # must refuse loudly instead of emitting garbage pairs.
    from kgspark.ops.kmeans import semdedup_pairs

    emb = spark.createDataFrame(
        [(i, [3000.0, float(i)]) for i in range(6)],
        "vec_id long, embedding array<double>",
    )
    with pytest.raises(ValueError, match="overflows"):
        semdedup_pairs(emb, k=1, n_iter=0).collect()


def test_shard_gates_false_means_disabled(spark, tmp_path):
    from kgspark.ops.curation import build_training_shards

    docs = spark.createDataFrame(
        [(i, f"the quick brown fox {i} jumps over the lazy dog again", "en")
         for i in range(30)],
        "doc_id long, text string, lang string",
    )
    base = build_training_shards(
        spark, docs, str(tmp_path / "a"), lang=None, min_quality=0.0, gates={}
    )
    disabled = build_training_shards(
        spark,
        docs,
        str(tmp_path / "b"),
        lang=None,
        min_quality=0.0,
        gates={"line_dedup": False, "gopher": False, "blocklist": None},
    )
    # explicitly-disabled gates must behave exactly like absent ones:
    # same survivor counts, no per-gate stats rows
    assert disabled == base
    assert "after_line_dedup" not in disabled and "after_gopher" not in disabled


def test_mp4_stsz_stco_box_bounds():
    from kgspark.ops import mp4

    ones = np.ones(64, dtype=np.int64)
    h, w = 24, 16
    frames = [
        np.full((h, w, 3), 40 * i % 256, dtype=np.uint8) for i in range(3)
    ]
    raw = mp4.encode_mjpeg_mp4(frames, luma_q=ones, chroma_q=ones)

    # stsz declaring more entries than its box holds (but fewer than the
    # file) must fail as a table error, not read the next boxes' bytes
    idx = raw.index(b"stsz")
    bombed = bytearray(raw)
    bombed[idx + 12 : idx + 16] = (1000).to_bytes(4, "big")
    with pytest.raises(ValueError, match="stsz overruns its box"):
        mp4.extract_video_samples(bytes(bombed))

    idx = raw.index(b"stco")
    bombed = bytearray(raw)
    bombed[idx + 8 : idx + 12] = (1000).to_bytes(4, "big")
    with pytest.raises(ValueError, match="stco overruns its box"):
        mp4.extract_video_samples(bytes(bombed))


def test_mp4_gate_checks_extracted_track_codec(monkeypatch):
    # Multi-track scenario: metadata's first video track says MJPEG but
    # the track the extractor actually selects carries inter-coded
    # samples — the gate must refuse instead of feeding them to the JPEG
    # decoder (misleading malformed-JPEG ValueError).
    from kgspark.ops import mp4

    ones = np.ones(64, dtype=np.int64)
    frames = [np.zeros((24, 16, 3), dtype=np.uint8) for _ in range(2)]
    raw = mp4.encode_mjpeg_mp4(frames, codec="avc1", luma_q=ones, chroma_q=ones)
    real_meta = mp4.parse_mp4_meta(raw)
    fake = dict(real_meta)
    fake["tracks"] = [
        dict(t, codec="jpeg") if t["kind"] == "video" else t
        for t in real_meta["tracks"]
    ]
    monkeypatch.setattr(mp4, "parse_mp4_meta", lambda d: fake)
    with pytest.raises(NotImplementedError, match="sample-bearing"):
        mp4.decode_mp4_frames(raw)


# --- A-ES weighted sampling ---------------------------------------------


def test_weighted_sample_matches_local_replay(spark):
    """Engine-portability: the Spark keys equal a pure-Python replay of
    the same md5 -> u -> round(1e9 * ln(u)/(w/w_max)) pipeline, so the
    DuckDB oracle (same formula) is exact by construction."""
    import hashlib
    import math

    from kgspark.ops.sample import weighted_sample_keys

    rows = [(i, float(1 + (i * 7) % 13)) for i in range(50)]
    df = spark.createDataFrame(rows, "doc_id long, w double")
    got = {
        r["doc_id"]: r["wsample_key"]
        for r in weighted_sample_keys(df, "w", "doc_id").collect()
    }
    wmax = max(w for _, w in rows)
    for i, w in rows:
        h = int(hashlib.md5(f"{i}|wsample-v1".encode()).hexdigest()[:15], 16)
        u = ((h % 1_000_000_000_000) + 0.5) / 1_000_000_000_000.0
        want = int(round(math.log(u) / (w / wmax) * 1_000_000_000.0))
        assert got[i] == want, (i, got[i], want)


def test_weighted_sample_huge_weights_keep_resolution(spark):
    """Equal weights must yield a uniform (hash-random) sample, not
    id-order: without max-normalization, weights ~2e6 quantized every
    key to a handful of integers and top-k degenerated to smallest-ids."""
    from pyspark.sql import functions as F

    from kgspark.ops.sample import weighted_sample_keys

    df = spark.createDataFrame(
        [(i, 2_000_000.0) for i in range(1000)], "doc_id long, w double"
    )
    keyed = weighted_sample_keys(df, "w", "doc_id")
    n_distinct = keyed.select("wsample_key").distinct().count()
    assert n_distinct >= 990, n_distinct
    top = [r["doc_id"] for r in keyed.orderBy(F.col("wsample_key").desc(), "doc_id").limit(100).collect()]
    assert max(top) > 200  # not an id-prefix selection


def test_weighted_sample_prefers_heavy_rows(spark):
    from pyspark.sql import functions as F

    from kgspark.ops.sample import weighted_sample_keys

    # weights 1 vs 100: the top quartile by key must be dominated by
    # heavy rows (inclusion probability ~ weight)
    rows = [(i, 100.0 if i % 2 == 0 else 1.0) for i in range(400)]
    df = spark.createDataFrame(rows, "doc_id long, w double")
    top = (
        weighted_sample_keys(df, "w", "doc_id")
        .orderBy(F.col("wsample_key").desc(), "doc_id")
        .limit(100)
        .collect()
    )
    heavy = sum(1 for r in top if r["w"] == 100.0)
    assert heavy >= 85, heavy


def test_weighted_sample_null_and_nonpositive_weights(spark):
    from kgspark.ops.sample import weighted_sample_keys, weighted_sample_per_group

    df = spark.createDataFrame(
        [(1, 5.0, "a"), (2, 0.0, "a"), (3, -1.0, "a"), (4, None, "a"),
         (5, float("nan"), "a")],
        "doc_id long, w double, g string",
    )
    keyed = {r["doc_id"]: r["wsample_key"] for r in weighted_sample_keys(df, "w", "doc_id").collect()}
    assert keyed[1] is not None
    # NaN > 0 is true in Spark — the guard must catch it explicitly, not
    # crash the cast (ANSI) or rank NaN rows first (non-ANSI)
    assert keyed[2] is None and keyed[3] is None and keyed[4] is None and keyed[5] is None
    out = weighted_sample_per_group(df, "g", "w", "doc_id", k=3)
    picked = {r["doc_id"] for r in out.collect() if r["is_sampled"]}
    assert picked == {1}  # only the positive-weight row is ever sampled


def test_weighted_sample_infinite_weight_gets_null_key(spark):
    """+inf is not a weight: it must get a NULL key in Spark and in the
    DuckDB oracle, not a NaN that fails the bigint cast, and must not
    become the normalizing max of the finite rows."""
    import duckdb

    import __spark_entry__ as entry
    from kgspark.ops.sample import weighted_sample_keys

    finite = [(1, "en", 5.0), (2, "en", 2.0)]
    rows = finite + [(3, "en", float("inf"))]
    schema = "doc_id long, lang string, n_chars double"

    def spark_keys(data):
        df = spark.createDataFrame(data, schema)
        return {r["doc_id"]: r["wsample_key"]
                for r in weighted_sample_keys(df, "n_chars", "doc_id").collect()}

    got = spark_keys(rows)
    assert got[3] is None
    assert {k: got[k] for k in (1, 2)} == spark_keys(finite)

    con = duckdb.connect()
    con.execute("CREATE TABLE documents (doc_id BIGINT, lang VARCHAR, n_chars DOUBLE)")
    con.executemany("INSERT INTO documents VALUES (?, ?, ?)", rows)
    oracle = {d: k for d, _, k, _ in con.execute(entry._weighted_sample_sql()).fetchall()}
    assert oracle == got


def test_weighted_sample_per_group_quota_and_determinism(spark):
    from kgspark.ops.sample import weighted_sample_per_group

    rows = [(i, float(1 + i % 5), f"g{i % 3}") for i in range(90)]
    df = spark.createDataFrame(rows, "doc_id long, w double, g string")
    a = weighted_sample_per_group(df, "g", "w", "doc_id", k=7)
    counts = (
        a.filter("is_sampled").groupBy("g").count().collect()
    )
    assert {r["g"]: r["count"] for r in counts} == {"g0": 7, "g1": 7, "g2": 7}
    b = weighted_sample_per_group(df.repartition(11), "g", "w", "doc_id", k=7)
    assert sorted(
        map(tuple, a.filter("is_sampled").select("doc_id").collect())
    ) == sorted(map(tuple, b.filter("is_sampled").select("doc_id").collect()))

    import pytest as _pytest

    with _pytest.raises(ValueError, match="k must be"):
        weighted_sample_per_group(df, "g", "w", "doc_id", k=0)


# --- Stupid Backoff LM -----------------------------------------------------


def test_stupid_backoff_bigram_beats_shuffled(spark):
    """The bigram term separates fluent word order from shuffled words
    with identical unigram counts — exactly what unigram_logprob cannot
    see."""
    from kgspark.ops.textstats import stupid_backoff_logprob

    model = _docs(
        spark, [(100 + i, "the cat sat on the mat") for i in range(5)]
    )
    scored = _docs(
        spark,
        [
            (1, "the cat sat on the mat"),  # model word order
            (2, "mat the on sat cat the"),  # same unigrams, shuffled
        ],
    )
    out = {
        r["doc_id"]: (r["logprob_millinat"], r["backoff_tokens"])
        for r in stupid_backoff_logprob(scored, model_docs=model).collect()
    }
    assert out[1][0] > out[2][0]
    assert out[1][1] == 0  # every fluent bigram is in the model
    assert out[2][1] > 0  # shuffled order must back off


def test_stupid_backoff_self_model_and_exact_replay(spark):
    """Against its own corpus as model (default), no bigram ever backs
    off, and the millinat sums equal a brute Python replay."""
    import math

    from kgspark.ops.textstats import stupid_backoff_logprob

    texts = {1: "a b a b c", 2: "c a", 3: "b"}
    docs = _docs(spark, list(texts.items()))
    out = {
        r["doc_id"]: (r["n_tokens"], r["backoff_tokens"], r["logprob_millinat"])
        for r in stupid_backoff_logprob(docs).collect()
    }
    toks = {i: t.split() for i, t in texts.items()}
    uni: dict = {}
    big: dict = {}
    for t in toks.values():
        for x in t:
            uni[x] = uni.get(x, 0) + 1
        for a, b in zip(t, t[1:]):
            big[(a, b)] = big.get((a, b), 0) + 1
    C = sum(uni.values())
    r1000 = lambda x: int(round(math.log(x) * 1000))
    for i, t in toks.items():
        s = r1000(uni[t[0]]) - r1000(C)
        backoffs = 0
        for a, b in zip(t, t[1:]):
            assert (a, b) in big  # self-model: bigram always present
            s += r1000(big[(a, b)]) - r1000(uni[a])
        assert out[i] == (len(t), backoffs, s), (i, out[i])


def test_stupid_backoff_unseen_terms_and_validation(spark):
    from kgspark.ops.textstats import stupid_backoff_logprob

    model = _docs(spark, [(10, "x y z")])
    scored = _docs(spark, [(1, "qq ww")])  # nothing in the model
    r = stupid_backoff_logprob(scored, model_docs=model).collect()[0]
    # both tokens hit the unseen floor (count 1): finite, counted, scored
    assert r["n_tokens"] == 2 and r["backoff_tokens"] == 1
    assert r["logprob_millinat"] is not None

    import pytest as _pytest

    with _pytest.raises(ValueError, match="alpha_milli"):
        stupid_backoff_logprob(scored, alpha_milli=0)


def test_stupid_backoff_partitioning_invariant(spark):
    from kgspark.ops.textstats import stupid_backoff_logprob

    docs = _docs(
        spark,
        [(i, f"tok{i % 5} tok{(i + 2) % 5} tok{(i + 1) % 7} end") for i in range(40)],
    )
    a = stupid_backoff_logprob(docs).collect()
    b = stupid_backoff_logprob(docs.repartition(13)).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))


# --- readability ---------------------------------------------------------


def test_readability_hand_counted(spark):
    from kgspark.ops.textstats import readability_stats

    docs = _docs(
        spark,
        [
            # words=5, sentences=2 ('.'+'!'), vowel groups: see below
            (1, "The cat sat. On a mat!"),
            (2, ""),  # empty: 0 words, NULL score
            (3, None),  # NULL text: excluded entirely
        ],
    )
    out = {r["doc_id"]: r for r in readability_stats(docs).collect()}
    r = out[1]
    # norm = "the cat sat. on a mat!": words=6, sentence runs '.' and '!' = 2
    assert r["n_words"] == 6 and r["n_sentences"] == 2
    # vowel groups: e,a,a,o,a,a = 6; silent-e: "the " ('he( |$)') = 1 -> 5,
    # floored to n_words=6
    assert r["n_syllables"] == 6
    import math

    want = int(round((206.835 - 1.015 * 6 / 2 - 84.6 * 6 / 6) * 1000))
    assert r["flesch_milli"] == want
    assert out[2]["n_words"] == 0 and out[2]["flesch_milli"] is None
    assert 3 not in out


def test_readability_ranks_simple_above_dense(spark):
    from kgspark.ops.textstats import readability_stats

    docs = _docs(
        spark,
        [
            (1, "The dog ran. The cat sat. It was fun."),  # short sentences
            (2, "Notwithstanding institutional heterogeneity considerations, "
                "organizational interoperability necessitates comprehensive "
                "standardization infrastructure."),
        ],
    )
    got = {r["doc_id"]: r["flesch_milli"] for r in readability_stats(docs).collect()}
    assert got[1] > got[2]


def test_readability_partitioning_invariant(spark):
    from kgspark.ops.textstats import readability_stats

    docs = _docs(
        spark,
        [(i, f"sentence number {i}. it has words! maybe more?") for i in range(40)],
    )
    a = sorted(map(tuple, readability_stats(docs).collect()))
    b = sorted(map(tuple, readability_stats(docs.repartition(9)).collect()))
    assert a == b


# --- leakage-safe split --------------------------------------------------


def test_leakage_safe_split_keeps_clusters_together(spark):
    from kgspark.ops.curation import leakage_safe_split, split_assign

    # 200 docs in 40 clusters of 5; cluster-keyed split must never
    # straddle, while the naive per-doc split demonstrably does
    docs = spark.createDataFrame([(i,) for i in range(200)], "doc_id long")
    clusters = spark.createDataFrame(
        [(i, i // 5 * 1000) for i in range(200)], "doc_id long, cluster long"
    )
    out = leakage_safe_split(docs, clusters).collect()
    by_cluster: dict = {}
    for r in out:
        by_cluster.setdefault(r["cluster"], set()).add(r["split"])
    assert all(len(s) == 1 for s in by_cluster.values())

    naive = docs.select("doc_id", split_assign(F.col("doc_id")).alias("split")).collect()
    naive_by_cluster: dict = {}
    for r in naive:
        naive_by_cluster.setdefault(r["doc_id"] // 5, set()).add(r["split"])
    assert any(len(s) > 1 for s in naive_by_cluster.values())  # the trap is real


def test_leakage_safe_split_singleton_fallback_and_determinism(spark):
    from kgspark.ops.curation import leakage_safe_split, split_assign

    docs = spark.createDataFrame([(i,) for i in range(50)], "doc_id long")
    # only half the corpus is clustered
    clusters = spark.createDataFrame(
        [(i, 7777) for i in range(0, 50, 2)], "doc_id long, cluster long"
    )
    out = {r["doc_id"]: (r["cluster"], r["split"]) for r in leakage_safe_split(docs, clusters).collect()}
    for i in range(50):
        if i % 2 == 0:
            assert out[i][0] == "7777"  # cluster column is string-typed
        else:
            assert out[i][0] == str(i)  # singleton fallback = own id
    # unclustered docs match plain split_assign on their own id
    plain = {
        r["doc_id"]: r["split"]
        for r in docs.select(
            "doc_id", split_assign(F.col("doc_id").cast("long")).alias("split")
        ).collect()
    }
    for i in range(1, 50, 2):
        assert out[i][1] == plain[i]
    again = {r["doc_id"]: (r["cluster"], r["split"]) for r in leakage_safe_split(docs.repartition(7), clusters).collect()}
    assert again == out


def test_leakage_safe_split_string_ids(spark):
    """String ids (URLs — the natural key in this domain) must work even
    when some docs lack a cluster row: no long-cast crash under ANSI, no
    silent NULL-cluster 'train' dumping with ANSI off."""
    from kgspark.ops.curation import leakage_safe_split

    docs = spark.createDataFrame(
        [("http://a.example/x",), ("http://b.example/y",), ("http://c.example/z",)],
        "doc_id string",
    )
    clusters = spark.createDataFrame(
        [("http://a.example/x", 42)], "doc_id string, cluster long"
    )
    out = {r["doc_id"]: (r["cluster"], r["split"]) for r in leakage_safe_split(docs, clusters).collect()}
    assert out["http://a.example/x"][0] == "42"
    assert out["http://b.example/y"][0] == "http://b.example/y"
    assert all(s in ("train", "val", "test") for _, s in out.values())


def test_readability_per_word_syllable_floor(spark):
    """Vowel-less tokens contribute their floor of 1 instead of being
    absorbed by vowel-rich neighbors (the per-word contract)."""
    from kgspark.ops.textstats import readability_stats

    docs = _docs(spark, [(1, "banana tsk")])
    r = readability_stats(docs).collect()[0]
    assert r["n_words"] == 2
    assert r["n_syllables"] == 4  # ba-na-na (3) + tsk floor (1)


# --- sentence segmentation -----------------------------------------------


def test_split_sentences_semantics(spark):
    from kgspark.ops.textstats import split_sentences

    docs = _docs(
        spark,
        [
            (1, "First one. Second two! Third?? Fourth"),
            (2, "no terminator at all"),
            (3, "Trailing dot."),
            (4, None),
        ],
    )
    out = {}
    for r in split_sentences(docs).collect():
        out.setdefault(r["doc_id"], []).append((r["sent_id"], r["sentence"]))
    assert out[1] == [
        (0, "First one."),
        (1, "Second two!"),
        (2, "Third??"),
        (3, "Fourth"),
    ]
    assert out[2] == [(0, "no terminator at all")]
    assert out[3] == [(0, "Trailing dot.")]  # terminator stays attached
    assert 4 not in out  # NULL text excluded


def test_split_sentences_whitespace_and_invariance(spark):
    from kgspark.ops.textstats import split_sentences

    docs = _docs(spark, [(i, f"alpha {i}.  beta!\n gamma") for i in range(30)])
    a = sorted(map(tuple, split_sentences(docs).collect()))
    b = sorted(map(tuple, split_sentences(docs.repartition(7)).collect()))
    assert a == b
    # \s+ normalization: double space / newline collapse before splitting
    first = [s for (d, i, s) in a if d == 0]
    assert first == ["alpha 0.", "beta!", "gamma"]


def test_split_sentences_sentinel_collision_scrubbed(spark):
    """A pre-existing \\x01 control byte in input text (mis-decoded
    legacy content) must NOT fabricate a phantom boundary — it is
    scrubbed with the other non-whitespace C0 controls before the
    sentinel machinery runs."""
    from kgspark.ops.textstats import split_sentences

    docs = _docs(spark, [(1, "foo\x01bar baz. end\x02tail")])
    out = [(r["sent_id"], r["sentence"]) for r in split_sentences(docs).collect()]
    assert out == [(0, "foobar baz."), (1, "endtail")]
