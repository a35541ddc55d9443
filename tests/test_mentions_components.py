"""X6 mention detection + scoring; X7 connected-components canonicalization."""

from __future__ import annotations

from pyspark.sql import functions as F

from kgspark.extract import components, mentions


def test_aho_corasick_overlapping_and_substrings():
    ac = mentions.AhoCorasick(["高血压", "血压", "糖尿病", "he", "she", "hers"])
    hits = {p for _, p in ac.find_all("高血压与糖尿病")}
    assert hits == {"高血压", "血压", "糖尿病"}
    hits2 = sorted(ac.find_all("ushers"))
    assert {p for _, p in hits2} == {"she", "he", "hers"}


def test_detect_mentions_and_scoring(spark):
    pages = spark.createDataFrame(
        [
            ("u1", "高血压患者多见头痛。高血压需要治疗。"),
            ("u2", "糖尿病与高血压常常并发。"),
            ("u3", "没有实体。"),
        ],
        "url string, text string",
    )
    alias_df = spark.createDataFrame(
        [
            ("高血压", "Disease", "高血压"),
            ("高血压", "Drug", "高血压灵"),  # ambiguous alias -> two candidates
            ("糖尿病", "Disease", "糖尿病"),
        ],
        "alias string, label string, name string",
    )
    m = mentions.detect_mentions(pages, alias_df)
    rows = {(r["url"], r["alias"], r["label"], r["name"]): r["n_hits"] for r in m.collect()}
    assert rows[("u1", "高血压", "Disease", "高血压")] == 2
    assert rows[("u2", "高血压", "Drug", "高血压灵")] == 1
    assert ("u3", "糖尿病", "Disease", "糖尿病") not in rows

    scored = {r["alias"]: (r["label"], r["name"]) for r in mentions.score_candidates(m).collect()}
    # frequency tie between Disease/Drug candidates (same hits) -> max name wins deterministically
    assert scored["糖尿病"] == ("Disease", "糖尿病")
    assert scored["高血压"][1] in ("高血压", "高血压灵")


def test_connected_components_basic(spark):
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (20, 20)], "src long, dst long"
    )
    comp = {r["id"]: r["component"] for r in components.connected_components(edges).collect()}
    assert comp[1] == comp[2] == comp[3] == 1
    assert comp[10] == comp[11] == 10
    assert comp[20] == 20


def test_connected_components_chain_diameter(spark):
    # path graph 0-1-2-...-9: worst case for propagation; must converge to 0
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(9)], "src long, dst long"
    )
    comp = {r["id"]: r["component"] for r in components.connected_components(edges).collect()}
    assert set(comp.values()) == {0}


def test_canonical_surface_forms(spark):
    names = spark.createDataFrame(
        [
            ("Disease", "恶性肿瘤"),
            ("Disease", "恶性肿瘤-重度"),
            ("Disease", "恶性肿瘤（晚期）"),
            ("Disease", "高血压"),
            ("Disease", "高血压-轻度"),
            ("Symptom", "恶性肿瘤"),  # other label: must not merge across labels
        ],
        "label string, name string",
    )
    got = {
        (r["label"], r["name"]): r["canonical"]
        for r in components.canonical_surface_forms(names).collect()
    }
    assert got[("Disease", "恶性肿瘤-重度")] == "恶性肿瘤"
    assert got[("Disease", "恶性肿瘤（晚期）")] == "恶性肿瘤"
    assert got[("Disease", "恶性肿瘤")] == "恶性肿瘤"
    assert got[("Disease", "高血压-轻度")] == "高血压"
    assert got[("Symptom", "恶性肿瘤")] == "恶性肿瘤"


def test_apply_canonicalization(spark):
    triples = spark.createDataFrame(
        [
            ("保险A", "Insurance", "REFUSES_DISEASE", "恶性肿瘤-重度", "Disease"),
            ("保险A", "Insurance", "ALLOWS_AGE", "0-65周岁", "AgeRange"),
            ("恶性肿瘤-重度", "Symptom", "HAS_SYMPTOM", "恶性肿瘤-重度", "Symptom"),
        ],
        "subj string, subj_type string, pred string, obj string, obj_type string",
    )
    mapping = spark.createDataFrame(
        [("Disease", "恶性肿瘤-重度", "恶性肿瘤")], "label string, name string, canonical string"
    )
    out = {
        (r["pred"], r["obj"]) for r in components.apply_canonicalization(triples, mapping).collect()
    }
    assert ("REFUSES_DISEASE", "恶性肿瘤") in out
    assert ("ALLOWS_AGE", "0-65周岁") in out  # AgeRange untouched
    # the Disease row's (label, name) key never matches a Symptom-typed name
    assert ("HAS_SYMPTOM", "恶性肿瘤-重度") in out


import pytest


@pytest.mark.parametrize("threshold", [0, 2_000_000])
def test_connected_components_vs_union_find(spark, threshold):
    """Property check: CC equals a classic union-find on a deterministic
    pseudo-random graph (including isolated self-loops) — on BOTH physical
    paths: threshold=0 forces the iterative join fixpoint, the default
    threshold takes the driver union-find endgame."""
    n_nodes, n_edges = 300, 260
    edges = [((i * 7919) % n_nodes, (i * 104729 + 13) % n_nodes) for i in range(n_edges)]

    parent = list(range(n_nodes))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    expected = {}
    for a, b in edges:
        for v in (a, b):
            expected[v] = find(v)
    # normalize: component id = min member (matches the engine's contract)
    groups = {}
    for v, c in expected.items():
        groups.setdefault(c, set()).add(v)
    exp_map = {v: min(g) for g in groups.values() for v in g}

    df = spark.createDataFrame(edges, "src long, dst long")
    got = {
        r["id"]: r["component"]
        for r in components.connected_components(
            df, max_iter=50, local_threshold=threshold
        ).collect()
    }
    assert got == exp_map


def test_cc_propagation_nonconvergence_raises(spark):
    """Propagation that exhausts max_iter before its fixpoint must raise:
    partial labels would silently split one component into many."""
    n = 30  # path 0-1-...-30: diameter 30, far past max_iter
    edges = spark.createDataFrame([(i, i + 1) for i in range(n)], "src long, dst long")
    with pytest.raises(RuntimeError, match="max_iter=3"):
        components.connected_components(edges, max_iter=3, local_threshold=0).collect()


def test_join_tier_equals_trie_tier(spark):
    """detect_mentions_join (beyond-broadcast substring-join tier) must
    produce exactly the trie tier's rows — occurrences, overlaps,
    multi-candidate aliases, and short-doc edge cases included."""
    from kgspark.extract.mentions import detect_mentions, detect_mentions_join

    pages = spark.createDataFrame(
        [
            ("u1", "高血压患者服用降压药，高血压严重。"),
            ("u2", "aaa"),          # overlapping hits of alias 'aa'
            ("u3", "x"),            # shorter than every alias
            ("u4", None),           # null text
            ("u5", "降压药与降压药丸"),  # alias as prefix of longer mention
        ],
        "url string, text string",
    )
    alias_df = spark.createDataFrame(
        [
            ("高血压", "Disease", "高血压"),
            ("降压药", "Drug", "降压药"),
            ("降压药", "Product", "降压药(产品)"),  # multi-candidate alias
            ("aa", "X", "aa"),
        ],
        "alias string, label string, name string",
    )
    trie = {tuple(r) for r in detect_mentions(pages, alias_df).collect()}
    join = {tuple(r) for r in detect_mentions_join(pages, alias_df).collect()}
    assert join == trie
    assert ("u2", "aa", "X", "aa", 2) in join  # overlaps counted

    # prefix prefilter must be purely an optimization: identical rows with
    # the filter disabled (cap=0 -> every length's set exceeds the cap)
    nofilter = {
        tuple(r) for r in detect_mentions_join(pages, alias_df, prefix_cap=0).collect()
    }
    assert nofilter == trie


def test_mention_join_stats_audit(spark):
    """mention_join_stats reports per-length exploded-side volume and
    whether the prefix prefilter ships (the lsh_bucket_stats pattern for
    the mention join tier)."""
    from kgspark.extract.mentions import mention_join_stats

    pages = spark.createDataFrame(
        [("u1", "abcde"), ("u2", "xy"), ("u3", None)], "url string, text string"
    )
    alias_df = spark.createDataFrame(
        [("ab", "L", "ab"), ("cde", "L", "cde")], "alias string, label string, name string"
    )
    rows = {r["length"]: r for r in mention_join_stats(pages, alias_df).collect()}
    # length 2: 4 substrings from 'abcde' + 1 from 'xy'; length 3: 3 + 0
    assert rows[2]["raw_substrings"] == 5 and rows[3]["raw_substrings"] == 3
    assert rows[2]["prefilter_ships"] and rows[2]["n_prefixes"] == 1
    capped = {
        r["length"]: r
        for r in mention_join_stats(pages, alias_df, prefix_cap=0).collect()
    }
    assert not capped[2]["prefilter_ships"] and capped[2]["n_prefixes"] is None


@pytest.mark.parametrize("threshold", [0, 2_000_000])
def test_merge_components_equals_full_recompute(spark, threshold):
    """Incremental maintenance == CC over the union graph, on both physical
    paths, including batches that BRIDGE two existing components and
    singleton nodes untouched by the batch."""
    base_edges = [(1, 2), (2, 3), (10, 11), (20, 21), (30, 30)]
    batch = [(3, 10), (40, 41)]  # bridge {1,2,3}+{10,11}; brand-new pair
    df_base = spark.createDataFrame(base_edges, "src long, dst long")
    df_batch = spark.createDataFrame(batch, "src long, dst long")

    existing = components.connected_components(
        df_base, local_threshold=threshold
    )
    inc = {
        r["id"]: r["component"]
        for r in components.merge_components(
            existing, df_batch, local_threshold=threshold
        ).collect()
    }
    full = {
        r["id"]: r["component"]
        for r in components.connected_components(
            df_base.unionByName(df_batch), local_threshold=threshold
        ).collect()
    }
    # the self-loop singleton 30 only exists in the incremental view (full
    # CC of the union still sees its self-edge) — compare on shared keys
    assert inc == full
