"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship: full KG construction (rule-compiled triples ->
MERGE canonicalization -> nodes/edges) over the sf0.001 TPC-H-ish tables.

``queries()`` / ``oracle_sql()`` — one entry per implemented operator family
from SURVEY.md §2 plus the training-data ops, each with a DuckDB-equivalent
ANSI SQL oracle unless genuinely non-SQL-expressible (minhash/simhash
signatures — recorded as rows-only checks).

Column-name/type discipline: every computed column is aliased identically in
the Spark plan and the SQL; aggregates over doubles are rounded (or summed as
decimals) so value hashes match bit-for-bit across engines.
"""

from __future__ import annotations

import sys
import zipfile
from collections.abc import Callable
from pathlib import Path
from tempfile import mkdtemp

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window

# make `import kgspark` work no matter where this file was imported from
_REPO = Path(__file__).resolve().parent
if str(_REPO) not in sys.path:
    sys.path.insert(0, str(_REPO))

_SHIPPED: set[int] = set()


def _ship_package(spark: SparkSession) -> None:
    """Ship kgspark to the executors' Python workers (addPyFile — the
    spark-submit --py-files mechanism). Needed when the driver's session was
    created from a cwd that doesn't contain the repo: the driver process can
    import kgspark via sys.path, but worker processes cannot."""
    key = id(spark.sparkContext)
    if key in _SHIPPED:
        return
    zpath = Path(mkdtemp(prefix="kgspark_pyfiles_")) / "kgspark.zip"
    with zipfile.ZipFile(zpath, "w") as z:
        for p in sorted((_REPO / "kgspark").rglob("*.py")):
            z.write(p, p.relative_to(_REPO))
    spark.sparkContext.addPyFile(str(zpath))
    _SHIPPED.add(key)


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# ---------------------------------------------------------------------------
# golden-hash witnesses for the queries with no SQL oracle
# ---------------------------------------------------------------------------
# (query name, sf-dir basename) -> (row count, bit_xor(xxhash64(*)) fingerprint)
# pinned from the deterministic testdata fixtures; regenerate with
# scripts/pin_witnesses.py after any intentional algorithm change.
_WITNESS_PINS: dict[tuple[str, str], tuple[int, int]] = {
    ("bpe_encode_docs", "sf0.001"): (500, 6350736065224711673),
    ("bpe_encode_docs", "sf0.01"): (500, -7623230108795553388),
    ("minhash_dedup_docs", "sf0.001"): (500, 5993671607093944936),
    ("simhash_docs", "sf0.001"): (496, 402494656633553177),
    ("openie_web_corpus", "sf0.001"): (528, -54864093808351467),
    ("minhash_dedup_docs", "sf0.01"): (500, -5501486792301817208),
    ("simhash_docs", "sf0.01"): (496, 7557581626628527616),
    ("openie_web_corpus", "sf0.01"): (528, -54864093808351467),
    ("media_decode_features", "sf0.001"): (40, 363072323365635863),
    ("media_decode_features", "sf0.01"): (40, 363072323365635863),
    ("phash_neardup_media", "sf0.001"): (20, -1268688127524016894),
    ("phash_neardup_media", "sf0.01"): (20, -1268688127524016894),
    ("mp4_container_meta", "sf0.001"): (24, -2088920988574997881),
    ("mp4_container_meta", "sf0.01"): (24, -2088920988574997881),
    ("mp4_frame_decode", "sf0.001"): (33, 1260706137447144654),
    ("mp4_frame_decode", "sf0.01"): (33, 1260706137447144654),
    ("audiohash_neardup", "sf0.001"): (20, 5478906334128815275),
    ("audiohash_neardup", "sf0.01"): (20, 5478906334128815275),
}


def _witnessed(df: DataFrame, name: str, sf_dir: str) -> DataFrame:
    """Make a no-oracle query self-verifying: append a constant ``witness``
    column carrying the verdict of an order-independent fingerprint
    (row count + bit_xor of per-row xxhash64 — partitioning-invariant)
    against the pinned constant for this input. The driver's rows-only check
    then captures a hard pass/FAIL signal instead of just a row count.
    Unknown inputs (no pin) surface the fingerprint as ``unpinned:...`` so a
    new sf can be pinned from the recorded output. The fingerprint is
    materialized once (eager 1-row localCheckpoint) and broadcast; the
    data rows are the only other execution of the query plan.

    A FAIL verdict additionally unions one marker row (all data columns
    NULL, witness carrying the FAIL string), so the recorded ``spark_rows``
    in CORRECTNESS json deviates from the pinned count by +1 — drift is
    visible in the driver's hard signal, not just in the string column
    (VERDICT r03 "What's wrong #3")."""
    key = (name, Path(str(sf_dir).rstrip("/")).name)
    cols = ", ".join(f"`{c}`" for c in df.columns)
    # eager pin: the 1-row fingerprint feeds BOTH the broadcast verdict
    # column and the FAIL marker branch — without the checkpoint each
    # consumer re-executes the full query plan (3 runs of a decode-heavy
    # pipeline per collect instead of 2)
    fp = df.agg(
        F.count(F.lit(1)).alias("_wn"),
        F.coalesce(F.expr(f"bit_xor(xxhash64({cols}))"), F.lit(0)).alias("_wh"),
    ).localCheckpoint(eager=True)
    got = F.concat_ws(",", F.col("_wn").cast("string"), F.col("_wh").cast("string"))
    pin = _WITNESS_PINS.get(key)
    if pin is None:
        verdict = F.concat(F.lit("unpinned:"), got)
    else:
        ok = (F.col("_wn") == F.lit(pin[0])) & (F.col("_wh") == F.lit(pin[1]))
        verdict = F.when(ok, F.lit("pass")).otherwise(
            F.concat(F.lit(f"FAIL:want={pin[0]},{pin[1]};got="), got)
        )
    out = (
        df.crossJoin(F.broadcast(fp))
        .withColumn("witness", verdict)
        .drop("_wn", "_wh")
    )
    if pin is not None:
        # 0 rows when the pin matches; 1 row (count perturbation) on FAIL.
        fail_marker = (
            fp.where(
                ~((F.col("_wn") == F.lit(pin[0])) & (F.col("_wh") == F.lit(pin[1])))
            )
            .select(
                *(
                    F.lit(None).cast(f.dataType).alias(f.name)
                    for f in df.schema.fields
                ),
                F.concat(F.lit(f"FAIL:want={pin[0]},{pin[1]};got="), got).alias(
                    "witness"
                ),
            )
        )
        out = out.unionByName(fail_marker)
    return out


# ---------------------------------------------------------------------------
# flagship
# ---------------------------------------------------------------------------
def entry(spark: SparkSession) -> DataFrame:
    """KG build over sf0.001: returns resolved distinct edges (names)."""
    _ship_package(spark)
    from kgspark.construct.reference_build import triples_with_names
    from kgspark.tpch_graph import build_tpch_graph

    nodes, edges = build_tpch_graph(spark, "/root/testdata/sf0.001")
    return triples_with_names(nodes, edges)


# ---------------------------------------------------------------------------
# queries — each callable: (spark, sf_dir) -> DataFrame
# ---------------------------------------------------------------------------
def _q1_pricing_summary(spark, sf):
    li = _t(spark, sf, "lineitem")
    dec = lambda c: F.col(c).cast("decimal(18,2)")
    return (
        li.filter(F.col("l_shipdate") <= "1998-09-02")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum(dec("l_quantity")).cast("double"), 2).alias("sum_qty"),
            F.round(F.sum(dec("l_extendedprice")).cast("double"), 2).alias("sum_base_price"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


_Q1_SQL = """
SELECT l_returnflag, l_linestatus,
       round(CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE), 2) AS sum_qty,
       round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE), 2) AS sum_base_price,
       round(avg(l_discount), 4) AS avg_disc,
       count(*) AS count_order
FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus
"""


def _s1_scan_projection(spark, sf):
    return (
        _t(spark, sf, "documents")
        .filter(F.col("lang") == "en")
        .select("doc_id", "n_chars", "source")
    )


_S1_SQL = "SELECT doc_id, n_chars, source FROM documents WHERE lang = 'en'"


def _p2_rename_projection(spark, sf):
    return (
        _t(spark, sf, "customer")
        .filter(F.col("c_mktsegment") == "FURNITURE")
        .select(F.col("c_custkey").alias("cust_id"), F.col("c_acctbal").alias("balance"))
    )


_P2_SQL = "SELECT c_custkey AS cust_id, c_acctbal AS balance FROM customer WHERE c_mktsegment = 'FURNITURE'"


def _p3_blank_filter(spark, sf):
    d = _t(spark, sf, "documents")
    return (
        d.filter(F.col("text").isNotNull() & (F.trim(F.col("text")) != ""))
        .groupBy("lang")
        .agg(F.count("*").alias("n_docs"))
    )


_P3_SQL = """
SELECT lang, count(*) AS n_docs FROM documents
WHERE text IS NOT NULL AND trim(text) <> '' GROUP BY lang
"""


def _p5_contains_filter(spark, sf):
    return (
        _t(spark, sf, "documents")
        .filter(F.col("text").contains("spark"))
        .select("doc_id", "lang")
    )


_P5_SQL = "SELECT doc_id, lang FROM documents WHERE contains(text, 'spark')"


def _p8_json_cast_filter(spark, sf):
    e = _t(spark, sf, "events")
    k = F.get_json_object("props", "$.k").cast("int")
    return e.filter(k <= 20).select("event_id", k.alias("k"))


_P8_SQL = """
SELECT event_id, CAST(json_extract_string(props, '$.k') AS INT) AS k
FROM events WHERE CAST(json_extract_string(props, '$.k') AS INT) <= 20
"""


def _e1_explode_tokens(spark, sf):
    d = _t(spark, sf, "documents")
    return (
        d.select(F.explode(F.split("text", " ")).alias("token"))
        .filter(F.col("token") != "")
        .groupBy("token")
        .agg(F.count("*").alias("n"))
    )


_E1_SQL = """
SELECT token, count(*) AS n FROM (
  SELECT unnest(string_split(text, ' ')) AS token FROM documents
) WHERE token <> '' GROUP BY token
"""


def _e4_bigram_triples(spark, sf):
    d = _t(spark, sf, "documents")
    words = F.split("text", " ")
    pairs = F.zip_with(
        F.expr("slice(split(text, ' '), 1, size(split(text, ' ')) - 1)"),
        F.expr("slice(split(text, ' '), 2, size(split(text, ' ')) - 1)"),
        lambda a, b: F.struct(a.alias("subj"), b.alias("obj")),
    )
    return (
        d.select(F.explode(pairs).alias("p"))
        .select(F.col("p.subj").alias("subj"), F.col("p.obj").alias("obj"))
        .filter((F.col("subj") != "") & (F.col("obj") != ""))
        .groupBy("subj", "obj")
        .agg(F.count("*").alias("n"))
    )


_E4_SQL = """
SELECT subj, obj, count(*) AS n FROM (
  SELECT w[i] AS subj, w[i + 1] AS obj
  FROM (SELECT string_split(text, ' ') AS w FROM documents) t,
       LATERAL (SELECT unnest(generate_series(1, len(w) - 1)) AS i) g
) WHERE subj <> '' AND obj <> '' GROUP BY subj, obj
"""


def _a1_lww_canonicalize(spark, sf):
    e = _t(spark, sf, "events")
    return e.groupBy("user_id").agg(
        F.max_by("value", "event_id").alias("last_value"),
        F.max("event_id").alias("last_event_id"),
        F.count("*").alias("n_events"),
    )


_A1_SQL = """
SELECT user_id, arg_max(value, event_id) AS last_value,
       max(event_id) AS last_event_id, count(*) AS n_events
FROM events GROUP BY user_id
"""


def _a2_distinct_dedup(spark, sf):
    return _t(spark, sf, "lineitem").select("l_returnflag", "l_linestatus").distinct()


_A2_SQL = "SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem"


def _a3_collect_set_str(spark, sf):
    c = _t(spark, sf, "customer")
    n = _t(spark, sf, "nation")
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            F.concat_ws(",", F.sort_array(F.collect_set("c_mktsegment"))).alias("segments"),
            F.countDistinct("c_custkey").alias("n_customers"),
        )
    )


_A3_SQL = """
SELECT n_name AS nation,
       array_to_string(list_sort(list(DISTINCT c_mktsegment)), ',') AS segments,
       count(DISTINCT c_custkey) AS n_customers
FROM customer JOIN nation ON c_nationkey = n_nationkey
GROUP BY n_name
"""


def _kg_edges_tpch(spark, sf):
    from kgspark.construct.reference_build import triples_with_names
    from kgspark.tpch_graph import build_tpch_graph

    nodes, edges = build_tpch_graph(spark, sf)
    return triples_with_names(nodes, edges)


_KG_EDGES_SQL = """
SELECT c_name AS subj, 'Customer' AS subj_type, 'IN_NATION' AS pred,
       n_name AS obj, 'Nation' AS obj_type
FROM customer JOIN nation ON c_nationkey = n_nationkey
UNION
SELECT s_name, 'Supplier', 'IN_NATION', n_name, 'Nation'
FROM supplier JOIN nation ON s_nationkey = n_nationkey
UNION
SELECT n_name, 'Nation', 'IN_REGION', r_name, 'Region'
FROM nation JOIN region ON n_regionkey = r_regionkey
"""


def _kg_nodes_tpch(spark, sf):
    from kgspark.tpch_graph import build_tpch_graph

    nodes, _ = build_tpch_graph(spark, sf)
    return nodes.select("label", "name").orderBy("label", "name")


_KG_NODES_SQL = """
SELECT 'Customer' AS label, c_name AS name FROM customer
UNION
SELECT 'Supplier', s_name FROM supplier
UNION
SELECT 'Nation', n_name FROM nation
UNION
SELECT 'Region', r_name FROM nation JOIN region ON n_regionkey = r_regionkey
"""


def _j2_onehop_expand(spark, sf):
    """1-hop expand from each Nation over the constructed graph: counts of
    in-linked customers/suppliers (the disease_expand shape, A3)."""
    from kgspark.construct.reference_build import triples_with_names
    from kgspark.tpch_graph import build_tpch_graph

    nodes, edges = build_tpch_graph(spark, sf)
    named = triples_with_names(nodes, edges)
    counts = (
        named.filter(F.col("obj_type") == "Nation")
        .groupBy(F.col("obj").alias("nation"))
        .agg(
            F.sum((F.col("subj_type") == "Customer").cast("int")).alias("n_customers"),
            F.sum((F.col("subj_type") == "Supplier").cast("int")).alias("n_suppliers"),
        )
    )
    all_nations = nodes.filter(F.col("label") == "Nation").select(
        F.col("name").alias("nation")
    )
    return all_nations.join(counts, "nation", "left").select(
        "nation",
        F.coalesce("n_customers", F.lit(0)).alias("n_customers"),
        F.coalesce("n_suppliers", F.lit(0)).alias("n_suppliers"),
    )


_J2_SQL = """
SELECT n_name AS nation,
       (SELECT count(*) FROM customer WHERE c_nationkey = n_nationkey) AS n_customers,
       (SELECT count(*) FROM supplier WHERE s_nationkey = n_nationkey) AS n_suppliers
FROM nation
"""


def _j3_reverse_join(spark, sf):
    o = _t(spark, sf, "orders")
    c = _t(spark, sf, "customer")
    n = _t(spark, sf, "nation")
    return (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .filter(F.col("o_totalprice") > 100000)
        .groupBy(F.col("n_name").alias("nation"))
        .agg(F.count("*").alias("n_big_orders"))
    )


_J3_SQL = """
SELECT n_name AS nation, count(*) AS n_big_orders
FROM orders JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
WHERE o_totalprice > 100000 GROUP BY n_name
"""


def _j4_twohop_bfs(spark, sf):
    """2-hop undirected BFS from Region 'AFRICA' over the constructed graph
    (J4 variable-length path, visited-dedup)."""
    from kgspark.query.subgraph import retrieve_subgraph
    from kgspark.tpch_graph import build_tpch_graph

    nodes, edges = build_tpch_graph(spark, sf)
    sub = retrieve_subgraph(nodes, edges, ["AFRICA"], hops=2, limit=10**9)
    return sub.nodes.select("label", "name", "hop")


_J4_SQL = """
WITH afr_nations AS (
  SELECT n_name FROM nation JOIN region ON n_regionkey = r_regionkey
  WHERE r_name = 'AFRICA'
)
SELECT 'Region' AS label, 'AFRICA' AS name, 0 AS hop
UNION ALL
SELECT 'Nation', n_name, 1 FROM afr_nations
UNION ALL
SELECT 'Customer', c_name, 2 FROM customer
JOIN nation ON c_nationkey = n_nationkey WHERE n_name IN (SELECT n_name FROM afr_nations)
UNION ALL
SELECT 'Supplier', s_name, 2 FROM supplier
JOIN nation ON s_nationkey = n_nationkey WHERE n_name IN (SELECT n_name FROM afr_nations)
"""


def _j5_contains_join(spark, sf):
    d = _t(spark, sf, "documents")
    kws = spark.createDataFrame([("spark",), ("join",), ("window",)], "kw string")
    from kgspark.construct.triples import keyword_contains_join

    return keyword_contains_join(d, kws, "text").select("doc_id", "kw")


_J5_SQL = """
SELECT doc_id, kw FROM documents,
(SELECT 'spark' AS kw UNION ALL SELECT 'join' UNION ALL SELECT 'window') k
WHERE contains(text, kw)
"""


def _u1_union_by_name(spark, sf):
    c = _t(spark, sf, "customer").select(
        F.lit("Customer").alias("label"), F.col("c_name").alias("name")
    )
    s = _t(spark, sf, "supplier").select(
        F.lit("Supplier").alias("label"), F.col("s_name").alias("name")
    )
    return c.unionByName(s)


_U1_SQL = """
SELECT 'Customer' AS label, c_name AS name FROM customer
UNION ALL SELECT 'Supplier', s_name FROM supplier
"""


def _w1_hash_sample(spark, sf):
    """Deterministic 1/16 sample: md5 of the key (engine-portable 'rand')."""
    o = _t(spark, sf, "orders")
    return o.filter(
        F.substring(F.md5(F.col("o_orderkey").cast("string")), 1, 1) == "a"
    ).select("o_orderkey", "o_totalprice")


_W1_SQL = """
SELECT o_orderkey, o_totalprice FROM orders
WHERE substring(md5(CAST(o_orderkey AS VARCHAR)), 1, 1) = 'a'
"""


def _w2_topk_limit(spark, sf):
    return (
        _t(spark, sf, "orders")
        .orderBy(F.desc("o_totalprice"), F.col("o_orderkey"))
        .limit(10)
        .select("o_orderkey", "o_totalprice")
    )


_W2_SQL = """
SELECT o_orderkey, o_totalprice FROM orders
ORDER BY o_totalprice DESC, o_orderkey LIMIT 10
"""


def _w3_topk_per_group(spark, sf):
    li = _t(spark, sf, "lineitem")
    w = Window.partitionBy("l_returnflag").orderBy(
        F.desc("l_extendedprice"), F.col("l_orderkey"), F.col("l_linenumber")
    )
    return (
        li.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select("l_returnflag", "l_orderkey", "l_linenumber", "l_extendedprice", "rk")
    )


_W3_SQL = """
SELECT l_returnflag, l_orderkey, l_linenumber, l_extendedprice, CAST(rk AS INT) AS rk FROM (
  SELECT *, row_number() OVER (
    PARTITION BY l_returnflag
    ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber) AS rk
  FROM lineitem
) WHERE rk <= 3
"""


def _w4_renumber(spark, sf):
    d = _t(spark, sf, "documents").filter(F.col("lang") == "de")
    return d.select(
        "doc_id", F.row_number().over(Window.orderBy("doc_id")).alias("new_id")
    )


_W4_SQL = """
SELECT doc_id, CAST(row_number() OVER (ORDER BY doc_id) AS INT) AS new_id
FROM documents WHERE lang = 'de'
"""


def _p6_rlike_filter(spark, sf):
    """P6: regex keyword filter (filter_disease.py:47-59 analog)."""
    return (
        _t(spark, sf, "documents")
        .filter(F.col("text").rlike("spark|merge"))
        .select("doc_id", "lang")
    )


_P6_SQL = "SELECT doc_id, lang FROM documents WHERE regexp_matches(text, 'spark|merge')"


def _f_string_funcs(spark, sf):
    """F1-F5/F9: trim, truncate-with-ellipsis, concat_ws, printf-format, cast."""
    d = _t(spark, sf, "documents")
    return d.select(
        "doc_id",
        F.concat(F.substring(F.trim("text"), 1, 30), F.lit("...")).alias("preview"),
        F.concat_ws("|", "lang", "source").alias("tag"),
        F.format_string("%s/%d", F.col("lang"), F.col("n_chars")).alias("card"),
        F.col("n_chars").cast("string").alias("n_chars_str"),
    )


_F_STRING_SQL = """
SELECT doc_id,
       substring(trim(text), 1, 30) || '...' AS preview,
       concat_ws('|', lang, source) AS tag,
       printf('%s/%d', lang, n_chars) AS card,
       CAST(n_chars AS VARCHAR) AS n_chars_str
FROM documents
"""


def _f7_from_json(spark, sf):
    """F7: schema-declared JSON parse of the extractor-output analog."""
    e = _t(spark, sf, "events")
    parsed = F.from_json("props", "k int")
    return e.select("event_id", parsed["k"].alias("k_val")).filter(
        F.col("k_val").isNotNull()
    )


_F7_SQL = """
SELECT event_id, CAST(json_extract_string(props, '$.k') AS INT) AS k_val
FROM events WHERE json_extract_string(props, '$.k') IS NOT NULL
"""


def _x6_mentions(spark, sf):
    """X6: Aho-Corasick mention detection, oracled by occurrence counting
    (keywords chosen with no self-overlap so replace-counting agrees)."""
    from kgspark.extract.mentions import detect_mentions

    d = _t(spark, sf, "documents").select(
        F.col("doc_id").cast("string").alias("url"), "text"
    )
    alias_df = spark.createDataFrame(
        [(w, "Term", w) for w in ["spark", "join", "window", "merge"]],
        "alias string, label string, name string",
    )
    m = detect_mentions(d, alias_df)
    return m.select(F.col("url").cast("long").alias("doc_id"), "alias", "n_hits")


_X6_SQL = """
SELECT doc_id, kw AS alias,
       (length(text) - length(replace(text, kw, ''))) // length(kw) AS n_hits
FROM documents,
     (SELECT 'spark' AS kw UNION ALL SELECT 'join'
      UNION ALL SELECT 'window' UNION ALL SELECT 'merge') k
WHERE contains(text, kw)
"""


def _x6_mentions_join(spark, sf):
    """X6 beyond-broadcast tier: the substring-explode join (with the
    per-length prefix prefilter) must produce exactly the trie tier's rows —
    same oracle as x6_mentions, independently verifying the second tier."""
    from kgspark.extract.mentions import detect_mentions_join

    d = _t(spark, sf, "documents").select(
        F.col("doc_id").cast("string").alias("url"), "text"
    )
    alias_df = spark.createDataFrame(
        [(w, "Term", w) for w in ["spark", "join", "window", "merge"]],
        "alias string, label string, name string",
    )
    m = detect_mentions_join(d, alias_df)
    return m.select(F.col("url").cast("long").alias("doc_id"), "alias", "n_hits")


def _dense_index_docs(spark, sf):
    """dense_index (ops/kg_sampling.py): parallel global-rank assignment ==
    row_number() OVER (ORDER BY key) - 1, verified against the SQL form."""
    from kgspark.ops.kg_sampling import dense_index

    d = _t(spark, sf, "documents").select("doc_id").distinct()
    return dense_index(d, "doc_id")


_DENSE_INDEX_SQL = """
SELECT doc_id, row_number() OVER (ORDER BY doc_id) - 1 AS idx
FROM (SELECT DISTINCT doc_id FROM documents)
"""


def _f8_to_json(spark, sf):
    """F8: JSON serialization (filter_disease.py:103-104 analog)."""
    e = _t(spark, sf, "events")
    return e.select(
        "event_id",
        F.to_json(F.struct("event_id", "event_type")).alias("payload"),
    )


_F8_SQL = """
SELECT event_id, to_json(struct_pack(event_id := event_id, event_type := event_type)) AS payload
FROM events
"""


def _ngram_jaccard_pairs(spark, sf):
    """Exact char-5-gram Jaccard for every doc pair in a 100-doc slice
    (the verification kernel behind LSH candidate checking), JVM-side."""
    d = _t(spark, sf, "documents").filter(F.col("doc_id") < 100)
    norm = F.lower(F.regexp_replace(F.trim(F.col("text")), r"\s+", " "))
    shingles = F.array_distinct(
        F.transform(
            F.sequence(F.lit(0), F.greatest(F.length(norm) - 5, F.lit(0))),
            lambda i: norm.substr(i + 1, F.lit(5)),
        )
    )
    sh = d.select(F.col("doc_id"), shingles.alias("g"))
    a = sh.select(F.col("doc_id").alias("a"), F.col("g").alias("ga"))
    b = sh.select(F.col("doc_id").alias("b"), F.col("g").alias("gb"))
    inter = F.size(F.array_intersect("ga", "gb"))
    union = F.size(F.array_union("ga", "gb"))
    return (
        a.join(b, F.col("a") < F.col("b"))
        .select("a", "b", F.round(inter / union, 6).alias("jaccard"))
    )


_NGRAM_JACCARD_SQL = r"""
WITH sh AS (
  SELECT doc_id,
         list_distinct([substring(norm, i, 5) FOR i IN generate_series(1, greatest(len(norm) - 4, 1))]) AS g
  FROM (SELECT doc_id, lower(regexp_replace(trim(text), '\s+', ' ', 'g')) AS norm
        FROM documents WHERE doc_id < 100)
)
SELECT a.doc_id AS a, b.doc_id AS b,
       round(CAST(len(list_intersect(a.g, b.g)) AS DOUBLE)
             / len(list_distinct(a.g || b.g)), 6) AS jaccard
FROM sh a JOIN sh b ON a.doc_id < b.doc_id
"""


def _dedup_exact(spark, sf):
    from kgspark.ops.dedup import exact_dedup

    return exact_dedup(_t(spark, sf, "documents")).select("doc_id", "n_dups")


_DEDUP_EXACT_SQL = """
SELECT min(doc_id) AS doc_id, count(*) AS n_dups FROM (
  SELECT doc_id, md5(lower(regexp_replace(trim(text), '\\s+', ' ', 'g'))) AS fp
  FROM documents
) GROUP BY fp
"""


def _fingerprint_md5(spark, sf):
    from kgspark.ops.textstats import fingerprint

    return _t(spark, sf, "documents").select(
        "doc_id", fingerprint(F.col("text")).alias("fp")
    )


_FINGERPRINT_SQL = """
SELECT doc_id, md5(lower(regexp_replace(trim(text), '\\s+', ' ', 'g'))) AS fp
FROM documents
"""


def _lang_id(spark, sf):
    from kgspark.ops.textstats import lang_id

    return lang_id(_t(spark, sf, "documents")).select("doc_id", "lang_pred")


def _lang_hits_sql(code: str, words: list[str]) -> str:
    return " + ".join(
        f"CASE WHEN contains(' ' || lower(text) || ' ', ' {w} ') THEN 1 ELSE 0 END"
        for w in words
    )


def _lang_id_sql() -> str:
    from kgspark.ops.textstats import LANG_MARKERS

    h = {c: _lang_hits_sql(c, ws) for c, ws in LANG_MARKERS.items()}
    # argmax with lexicographically-largest-code tie-break (codes: de<en<es<fr)
    return f"""
SELECT doc_id,
  CASE
    WHEN regexp_matches(text, '[一-鿿]') THEN 'zh'
    WHEN fr = 0 AND es = 0 AND en = 0 AND de = 0 THEN 'und'
    WHEN fr >= es AND fr >= en AND fr >= de THEN 'fr'
    WHEN es >= en AND es >= de THEN 'es'
    WHEN en >= de THEN 'en'
    ELSE 'de'
  END AS lang_pred
FROM (
  SELECT doc_id, text, {h["en"]} AS en, {h["es"]} AS es, {h["de"]} AS de, {h["fr"]} AS fr
  FROM documents
)
"""


def _token_stats(spark, sf):
    from kgspark.ops.textstats import token_count_ws

    d = _t(spark, sf, "documents")
    bpe = F.size(
        F.regexp_extract_all(F.col("text"), F.lit(r"[A-Za-z]+|[0-9]+|[^\sA-Za-z0-9]"), 0)
    )
    return d.select(
        "doc_id",
        token_count_ws(F.col("text")).alias("n_ws_tokens"),
        bpe.alias("n_bpe_tokens"),
        F.length("text").alias("n_chars_check"),
    )


_TOKEN_STATS_SQL = r"""
SELECT doc_id,
       CAST(len(string_split_regex(trim(text), '\s+')) AS INT) AS n_ws_tokens,
       CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^\sA-Za-z0-9]')) AS INT) AS n_bpe_tokens,
       CAST(length(text) AS INT) AS n_chars_check
FROM documents
"""


def _quality_score(spark, sf):
    from kgspark.ops.textstats import quality_features

    return quality_features(_t(spark, sf, "documents")).select(
        "doc_id",
        "n_chars",
        "n_tokens",
        F.round("punct_ratio", 6).alias("punct_ratio"),
        F.round("quality_score", 6).alias("quality_score"),
    )


_QUALITY_SQL = r"""
SELECT doc_id,
  CAST(length(text) AS BIGINT) AS n_chars,
  CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_tokens,
  round(length(regexp_replace(text, '[^.,;:!?。，；：！？]', '', 'g'))
        / greatest(length(text), 1), 6) AS punct_ratio,
  round((
    least(len(string_split_regex(trim(text), '\s+')) / 20.0, 1.0)
    + (1.0 - least(length(regexp_replace(text, '[^.,;:!?。，；：！？]', '', 'g'))
                   / greatest(length(text), 1) * 5.0, 1.0))
    + (1.0 - least(length(regexp_replace(text, '[^A-Z]', '', 'g'))
                   / greatest(length(regexp_replace(text, '[^A-Za-z]', '', 'g')), 1) * 2.0, 1.0))
    + (CASE WHEN length(text) / greatest(len(string_split_regex(trim(text), '\s+')), 1)
             BETWEEN 3 AND 12 THEN 1.0 ELSE 0.3 END)
  ) / 4.0, 6) AS quality_score
FROM documents
"""


def _ann_cosine_topk(spark, sf):
    from kgspark.ops.similarity import cosine_topk_arrow

    emb = _t(spark, sf, "embeddings")
    qs = emb.filter(F.col("vec_id").isin(0, 1)).collect()
    queries = [(int(r["vec_id"]), [float(x) for x in r["embedding"]]) for r in qs]
    return cosine_topk_arrow(emb, queries, k=5).select("query_id", "vec_id", "rank")


_ANN_SQL = """
SELECT query_id, vec_id, rank FROM (
  SELECT q.vec_id AS query_id, c.vec_id AS vec_id,
         CAST(row_number() OVER (
           PARTITION BY q.vec_id
           ORDER BY list_cosine_similarity(q.embedding, c.embedding) DESC, c.vec_id
         ) AS INT) AS rank
  FROM embeddings q, embeddings c
  WHERE q.vec_id IN (0, 1)
) WHERE rank <= 5
"""


def _curation_pipeline(spark, sf):
    """The training-data curation story in one plan: language gate ->
    quality gate -> exact dedup -> per-source token accounting. Composes
    lang_id + quality_features + fingerprint, all individually oracled."""
    from kgspark.ops.textstats import fingerprint, lang_id, quality_features

    d = _t(spark, sf, "documents")
    scored = lang_id(quality_features(d)).withColumn(
        "fp", fingerprint(F.col("text"))
    )
    kept = scored.filter(
        (F.col("lang_pred") == "en") & (F.col("quality_score") >= 0.5)
    )
    reps = kept.groupBy("fp").agg(F.min("doc_id").alias("doc_id"))
    final = reps.join(kept, ["fp", "doc_id"])
    return final.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"),
    )


def _curation_sql() -> str:
    from kgspark.ops.textstats import LANG_MARKERS

    h = {c: _lang_hits_sql(c, ws) for c, ws in LANG_MARKERS.items()}
    quality = r"""(
    least(len(string_split_regex(trim(text), '\s+')) / 20.0, 1.0)
    + (1.0 - least(length(regexp_replace(text, '[^.,;:!?。，；：！？]', '', 'g'))
                   / greatest(length(text), 1) * 5.0, 1.0))
    + (1.0 - least(length(regexp_replace(text, '[^A-Z]', '', 'g'))
                   / greatest(length(regexp_replace(text, '[^A-Za-z]', '', 'g')), 1) * 2.0, 1.0))
    + (CASE WHEN length(text) / greatest(len(string_split_regex(trim(text), '\s+')), 1)
             BETWEEN 3 AND 12 THEN 1.0 ELSE 0.3 END)
  ) / 4.0"""
    return f"""
WITH scored AS (
  SELECT doc_id, source,
         CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS n_tokens,
         {quality} AS quality_score,
         CASE
           WHEN regexp_matches(text, '[一-鿿]') THEN 'zh'
           WHEN {h["fr"]} = 0 AND {h["es"]} = 0 AND {h["en"]} = 0 AND {h["de"]} = 0 THEN 'und'
           WHEN {h["fr"]} >= {h["es"]} AND {h["fr"]} >= {h["en"]} AND {h["fr"]} >= {h["de"]} THEN 'fr'
           WHEN {h["es"]} >= {h["en"]} AND {h["es"]} >= {h["de"]} THEN 'es'
           WHEN {h["en"]} >= {h["de"]} THEN 'en'
           ELSE 'de'
         END AS lang_pred,
         md5(lower(regexp_replace(trim(text), '\\s+', ' ', 'g'))) AS fp
  FROM documents
), kept AS (
  SELECT * FROM scored WHERE lang_pred = 'en' AND quality_score >= 0.5
), reps AS (
  SELECT fp, min(doc_id) AS doc_id FROM kept GROUP BY fp
)
SELECT source, count(*) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS total_tokens
FROM reps JOIN kept USING (fp, doc_id) GROUP BY source
"""


def _embedding_neardup(spark, sf):
    from kgspark.ops.dedup import embedding_neardup_pairs

    return embedding_neardup_pairs(_t(spark, sf, "embeddings"), top_pairs=20)


_EMB_NEARDUP_SQL = """
SELECT a, b, round(CAST(sim AS DOUBLE), 6) AS sim FROM (
  SELECT e1.vec_id AS a, e2.vec_id AS b,
         list_cosine_similarity(CAST(e1.embedding AS DOUBLE[]), CAST(e2.embedding AS DOUBLE[])) AS sim
  FROM embeddings e1 JOIN embeddings e2 ON e1.vec_id < e2.vec_id
) ORDER BY sim DESC, a, b LIMIT 20
"""


def _rollup_counts(spark, sf):
    """Grouping-set aggregation (rollup) over lineitem flags."""
    li = _t(spark, sf, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(F.count("*").alias("n"))
    )


_ROLLUP_SQL = """
SELECT l_returnflag, l_linestatus, count(*) AS n
FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
"""


def _sessionize(spark, sf):
    """Sessionization: 30-min inactivity gap splits a user's event stream."""
    e = _t(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w))
    new_sess = F.when(gap.isNull() | (gap > 1800), 1).otherwise(0)
    with_sess = e.withColumn("sess_idx", F.sum(new_sess).over(w))
    return with_sess.groupBy("user_id", "sess_idx").agg(
        F.min("ts").alias("session_start"),
        F.count("*").alias("n_events"),
    )


_SESSIONIZE_SQL = """
SELECT user_id, sess_idx, min(ts) AS session_start, count(*) AS n_events
FROM (
  SELECT user_id, ts, CAST(sum(new_sess) OVER (
           PARTITION BY user_id ORDER BY ts, event_id) AS BIGINT) AS sess_idx
  FROM (
    SELECT user_id, ts, event_id,
           CASE WHEN epoch(ts) - epoch(lag(ts) OVER (
                  PARTITION BY user_id ORDER BY ts, event_id)) > 1800
                  OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                THEN 1 ELSE 0 END AS new_sess
    FROM events
  )
) GROUP BY user_id, sess_idx
"""


def _stream_window_counts(spark, sf):
    e = _t(spark, sf, "events")
    return (
        e.groupBy(F.window("ts", "5 minutes").alias("w"), "event_type")
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum(F.col("value").cast("decimal(18,2)")).cast("double"), 2).alias("total"),
        )
        .select(F.col("w.start").alias("window_start"), "event_type", "n", "total")
    )


_STREAM_SQL = """
SELECT time_bucket(INTERVAL '5 minutes', ts) AS window_start, event_type,
       count(*) AS n,
       round(CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 2) AS total
FROM events GROUP BY 1, 2
"""


# ---------------------------------------------------------------------------
# analytics widening: multi-join plans, semi/anti, set ops, cube, windows,
# date/higher-order functions, as-of + range joins, portable minhash
# ---------------------------------------------------------------------------
def _dec(c, p=18, s=2):
    return F.col(c).cast(f"decimal({p},{s})")


def _q3_shipping_priority(spark, sf):
    """TPC-H Q3 shape: 3-way join, broadcast dim, deterministic top-10.

    Catalyst broadcast-joins the filtered customer side (hinted) so only the
    lineitem<->orders equi-join shuffles.
    """
    cust = _t(spark, sf, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    orders = _t(spark, sf, "orders").filter(F.col("o_orderdate") < "1998-01-01")
    li = _t(spark, sf, "lineitem").filter(F.col("l_shipdate") > "1998-01-01")
    revenue = _dec("l_extendedprice") * (1 - _dec("l_discount"))
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.round(F.sum(revenue).cast("double"), 2).alias("revenue"))
        .orderBy(F.desc("revenue"), "o_orderdate", "l_orderkey")
        .limit(10)
        .select(
            "l_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_orderdate"),
            "o_orderpriority",
            "revenue",
        )
    )


_Q3_SQL = """
SELECT l_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate,
       o_orderpriority,
       round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                      * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE), 2) AS revenue
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1998-01-01'
  AND l_shipdate > TIMESTAMP '1998-01-01'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, o_orderdate, l_orderkey
LIMIT 10
"""


def _q5_region_volume(spark, sf):
    """TPC-H Q5 shape: 6-table join with the nation/region dims broadcast;
    the supplier-nation = customer-nation condition rides the supplier join."""
    region = _t(spark, sf, "region").filter(F.col("r_name") == "ASIA")
    nation = _t(spark, sf, "nation")
    cust = _t(spark, sf, "customer")
    sup = _t(spark, sf, "supplier")
    orders = _t(spark, sf, "orders")
    li = _t(spark, sf, "lineitem")
    revenue = _dec("l_extendedprice") * (1 - _dec("l_discount"))
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .join(
            F.broadcast(sup),
            (F.col("l_suppkey") == F.col("s_suppkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("n_name")
        .agg(F.round(F.sum(revenue).cast("double"), 2).alias("revenue"))
    )


_Q5_SQL = """
SELECT n_name,
       round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                      * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE), 2) AS revenue
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
JOIN nation   ON s_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
GROUP BY n_name
"""


def _semi_anti_customers(spark, sf):
    """Left-semi and left-anti joins (EXISTS / NOT EXISTS) in one result."""
    cust = _t(spark, sf, "customer")
    orders = _t(spark, sf, "orders").select("o_custkey")
    with_o = cust.join(orders, cust.c_custkey == orders.o_custkey, "left_semi")
    without = cust.join(orders, cust.c_custkey == orders.o_custkey, "left_anti")
    w = with_o.groupBy("c_mktsegment").agg(F.count("*").alias("n_with"))
    wo = without.groupBy("c_mktsegment").agg(F.count("*").alias("n_without"))
    return (
        w.join(wo, "c_mktsegment", "full")
        .select(
            "c_mktsegment",
            F.coalesce("n_with", F.lit(0)).alias("n_with"),
            F.coalesce("n_without", F.lit(0)).alias("n_without"),
        )
    )


_SEMI_ANTI_SQL = """
SELECT c_mktsegment,
       count(*) FILTER (WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)) AS n_with,
       count(*) FILTER (WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)) AS n_without
FROM customer c GROUP BY c_mktsegment
"""


def _set_ops_keys(spark, sf):
    """INTERSECT / EXCEPT (distinct semantics) between two key domains."""
    o = _t(spark, sf, "orders").select(F.col("o_custkey").alias("key"))
    e = _t(spark, sf, "events").select(F.col("user_id").alias("key"))
    inter = o.intersect(e).withColumn("op", F.lit("intersect"))
    exc = o.subtract(e).withColumn("op", F.lit("except"))
    return inter.unionByName(exc)


_SET_OPS_SQL = """
SELECT key, 'intersect' AS op FROM (SELECT o_custkey AS key FROM orders INTERSECT SELECT user_id FROM events)
UNION ALL
SELECT key, 'except' AS op FROM (SELECT o_custkey AS key FROM orders EXCEPT SELECT user_id FROM events)
"""


def _cube_events(spark, sf):
    """CUBE grouping sets over (event_type, day-of-week)."""
    ev = _t(spark, sf, "events").withColumn("dow", F.dayofweek("ts") - 1)
    return ev.cube("event_type", "dow").agg(
        F.count("*").alias("n"),
        F.round(F.sum(F.col("value").cast("decimal(18,6)")).cast("double"), 4).alias("total"),
    )


_CUBE_SQL = """
SELECT event_type, dow, count(*) AS n,
       round(CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE), 4) AS total
FROM (SELECT event_type, date_part('dow', ts) AS dow, value FROM events)
GROUP BY CUBE (event_type, dow)
"""


def _window_analytics(spark, sf):
    """Analytic windows: row_number, lag delta, explicit-ROWS running sum."""
    o = _t(spark, sf, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    wr = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return (
        o.select(
            "o_custkey",
            "o_orderkey",
            F.row_number().over(w).alias("seq"),
            F.round(F.col("o_totalprice") - F.lag("o_totalprice", 1).over(w), 2).alias("delta_prev"),
            F.round(F.sum(_dec("o_totalprice")).over(wr).cast("double"), 2).alias("run_total"),
        )
        .filter(F.col("seq") <= 3)
    )


_WINDOW_ANALYTICS_SQL = """
SELECT * FROM (
  SELECT o_custkey, o_orderkey,
         row_number() OVER w AS seq,
         round(o_totalprice - lag(o_totalprice, 1) OVER w, 2) AS delta_prev,
         round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)))
               OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE), 2) AS run_total
  FROM orders
  WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
) WHERE seq <= 3
"""


def _asof_join_events(spark, sf):
    """Point-in-time join: each event gets the user's latest prior order
    (kgspark.ops.asof — single-shuffle union-window sort-merge)."""
    from kgspark.ops.asof import asof_join

    events = _t(spark, sf, "events").select("event_id", "user_id", "ts")
    orders = _t(spark, sf, "orders").select(
        F.col("o_custkey").alias("user_id"),
        "o_orderdate",
        "o_orderkey",
        "o_totalprice",
    )
    out = asof_join(
        events, orders, on="user_id", left_ts="ts", right_ts="o_orderdate",
        right_cols=["o_orderkey", "o_totalprice"],
    )
    return out.select("event_id", "user_id", "o_orderkey", "o_totalprice")


_ASOF_SQL = """
WITH rr AS (
  SELECT o_custkey, o_orderdate, max(o_orderkey) AS o_orderkey,
         max_by(o_totalprice, o_orderkey) AS o_totalprice
  FROM orders GROUP BY 1, 2
)
SELECT e.event_id, e.user_id, rr.o_orderkey, rr.o_totalprice
FROM events e ASOF LEFT JOIN rr
  ON e.user_id = rr.o_custkey AND e.ts >= rr.o_orderdate
"""


def _range_band_join(spark, sf):
    """Range (theta) join: parts binned into price bands via broadcast BNLJ."""
    bands = spark.createDataFrame(
        [("low", 900.0, 940.0), ("mid", 940.0, 980.0), ("high", 980.0, 1000.0)],
        "band string, lo double, hi double",
    )
    part = _t(spark, sf, "part")
    return (
        part.join(
            F.broadcast(bands),
            (part.p_retailprice >= bands.lo) & (part.p_retailprice < bands.hi),
        )
        .groupBy("band")
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum(_dec("p_retailprice")).cast("double"), 2).alias("sum_price"),
        )
    )


_RANGE_BAND_SQL = """
SELECT band, count(*) AS n,
       round(CAST(sum(CAST(p_retailprice AS DECIMAL(18,2))) AS DOUBLE), 2) AS sum_price
FROM part JOIN (VALUES ('low', 900.0, 940.0), ('mid', 940.0, 980.0), ('high', 980.0, 1000.0))
     AS bands(band, lo, hi)
  ON p_retailprice >= lo AND p_retailprice < hi
GROUP BY band
"""


def _f_date_funcs(spark, sf):
    """Date/time function parity: trunc, year, dow, datediff, date_add."""
    o = _t(spark, sf, "orders")
    return o.select(
        "o_orderkey",
        F.date_format(F.date_trunc("month", "o_orderdate"), "yyyy-MM-dd").alias("month_start"),
        F.year("o_orderdate").alias("yr"),
        (F.dayofweek("o_orderdate") - 1).alias("dow"),
        F.datediff(F.lit("2002-01-01").cast("date"), F.to_date("o_orderdate")).alias("days_to_2002"),
        F.date_format(F.date_add(F.to_date("o_orderdate"), 30), "yyyy-MM-dd").alias("plus30"),
    )


_F_DATE_SQL = """
SELECT o_orderkey,
       strftime(date_trunc('month', o_orderdate), '%Y-%m-%d') AS month_start,
       date_part('year', o_orderdate) AS yr,
       date_part('dow', o_orderdate) AS dow,
       date_diff('day', CAST(o_orderdate AS DATE), DATE '2002-01-01') AS days_to_2002,
       strftime(CAST(o_orderdate AS DATE) + INTERVAL 30 DAY, '%Y-%m-%d') AS plus30
FROM orders
"""


def _percentile_stats(spark, sf):
    """Exact interpolated percentiles per group (Spark `percentile` ==
    DuckDB `quantile_cont`)."""
    ev = _t(spark, sf, "events")
    return ev.groupBy("event_type").agg(
        F.round(F.expr("percentile(value, 0.5)"), 4).alias("p50"),
        F.round(F.expr("percentile(value, 0.9)"), 4).alias("p90"),
        F.round(F.min("value"), 4).alias("vmin"),
        F.round(F.max("value"), 4).alias("vmax"),
    )


_PERCENTILE_SQL = """
SELECT event_type,
       round(quantile_cont(value, 0.5), 4) AS p50,
       round(quantile_cont(value, 0.9), 4) AS p90,
       round(min(value), 4) AS vmin,
       round(max(value), 4) AS vmax
FROM events GROUP BY event_type
"""


def _f_higher_order(spark, sf):
    """Array higher-order functions: transform / filter / aggregate / max."""
    d = _t(spark, sf, "documents").filter(F.col("text").isNotNull())
    norm = F.trim(F.regexp_replace(F.col("text"), r"\s+", " "))
    tokens = F.split(norm, " ")
    return d.select(
        "doc_id",
        F.size(tokens).cast("long").alias("n_tokens"),
        F.aggregate(
            tokens, F.lit(0).cast("long"), lambda acc, x: acc + F.length(x)
        ).alias("sum_chars"),
        F.size(F.filter(tokens, lambda x: F.length(x) > 5)).cast("long").alias("n_long"),
        F.array_max(F.transform(tokens, lambda x: F.length(x))).cast("long").alias("max_len"),
    )


# every computed column CAST to BIGINT: DuckDB len() is BIGINT and list_sum
# HUGEINT while Spark size()/aggregate-with-int-seed are INT — values equal,
# hashes differ without the casts (round-1 driver hash-fail).
_F_HIGHER_ORDER_SQL = """
SELECT doc_id,
       CAST(len(toks) AS BIGINT) AS n_tokens,
       CAST(list_sum(list_transform(toks, x -> length(x))) AS BIGINT) AS sum_chars,
       CAST(len(list_filter(toks, x -> length(x) > 5)) AS BIGINT) AS n_long,
       CAST(list_max(list_transform(toks, x -> length(x))) AS BIGINT) AS max_len
FROM (SELECT doc_id, string_split(trim(regexp_replace(text, '\\s+', ' ', 'g')), ' ') AS toks
      FROM documents WHERE text IS NOT NULL)
"""


def _context_cards(spark, sf):
    """F5 context-card template semantics as JVM string expressions over the
    TPC-H dims (it does not call kgspark/query/cards.py): per-nation card
    with a first-5 sorted customer list and a 50-char roster truncation +
    unconditional '...' — the reference's graph_retriever.py:64-75,171-177
    template shapes, hash-verified."""
    nation = _t(spark, sf, "nation")
    customer = _t(spark, sf, "customer")
    agg = (
        customer.join(nation, F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name")
        .agg(F.sort_array(F.collect_list("c_name")).alias("names"))
    )
    roster = F.array_join(F.col("names"), ", ")
    return agg.select(
        F.col("n_name").alias("nation"),
        F.concat(
            F.lit("【Nation】"), F.col("n_name"), F.lit(":\n  - customers: "),
            F.array_join(F.slice("names", 1, 5), ", "),
            F.lit("\n  - roster: "), F.substring(roster, 1, 50), F.lit("..."),
        ).alias("card"),
    )


_CONTEXT_CARDS_SQL = """
SELECT n_name AS nation,
       '【Nation】' || n_name || ':\n  - customers: ' ||
       array_to_string(list_slice(list_sort(list(c_name)), 1, 5), ', ') ||
       '\n  - roster: ' ||
       substring(array_to_string(list_sort(list(c_name)), ', '), 1, 50) || '...'
       AS card
FROM customer JOIN nation ON c_nationkey = n_nationkey
GROUP BY n_name
"""


def _minhash_portable_sig(spark, sf):
    """Engine-portable MinHash: 4 md5-domain min-hashes over 5-gram shingles.

    Unlike the production xxhash64/splitmix signatures (rows-only check),
    this variant is bit-reproducible in ANSI SQL: min over lowercase-hex md5
    of each shingle per seed — hex-string order == numeric order.
    """
    d = _t(spark, sf, "documents").filter(F.col("text").isNotNull())
    norm = F.lower(F.regexp_replace(F.trim(F.col("text")), r"\s+", " "))
    positions = F.sequence(F.lit(1), F.greatest(F.length(norm) - 4, F.lit(1)))
    shingles = F.transform(positions, lambda i: norm.substr(i, F.lit(5)))

    def sig(seed):
        return F.array_min(
            F.transform(shingles, lambda s: F.md5(F.concat(s, F.lit(f":{seed}"))))
        ).alias(f"h{seed}")

    return d.select("doc_id", sig(0), sig(1), sig(2), sig(3))


_MINHASH_PORTABLE_SQL = """
SELECT doc_id,
       list_min(list_transform(pos, i -> md5(substr(t, CAST(i AS INT), 5) || ':0'))) AS h0,
       list_min(list_transform(pos, i -> md5(substr(t, CAST(i AS INT), 5) || ':1'))) AS h1,
       list_min(list_transform(pos, i -> md5(substr(t, CAST(i AS INT), 5) || ':2'))) AS h2,
       list_min(list_transform(pos, i -> md5(substr(t, CAST(i AS INT), 5) || ':3'))) AS h3
FROM (SELECT doc_id, t, range(1, greatest(length(t) - 4, 1) + 1) AS pos
      FROM (SELECT doc_id, lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))) AS t
            FROM documents WHERE text IS NOT NULL))
"""


def _nfc_normalize(spark, sf):
    """Unicode NFC normalization (ops/unicodenorm.nfc_text): Python
    unicodedata vs DuckDB utf8proc must agree byte-for-byte. Decomposed
    sequences are synthesized onto the corpus text so the normalizer has
    real work on every row."""
    from kgspark.ops.unicodenorm import nfc_text

    d = _t(spark, sf, "documents").filter(F.col("text").isNotNull())
    # 'e' + U+0301 combining acute + fullwidth-unchanged suffix
    decorated = F.concat(F.lit("Café "), F.col("text"), F.lit(" Å"))
    return d.select("doc_id", nfc_text(decorated).alias("text_nfc"))


_NFC_NORMALIZE_SQL = """
SELECT doc_id,
       nfc_normalize('Cafe' || chr(769) || ' ' || text || ' ' || chr(65) || chr(778)) AS text_nfc
FROM documents WHERE text IS NOT NULL
"""


def _url_normalize(spark, sf):
    """URL canonicalization (ops/curation.normalize_url): scheme/host case,
    default ports, fragments, tracking params, query-param order — exact
    ANSI-SQL replay."""
    from kgspark.ops.curation import normalize_url

    d = _t(spark, sf, "documents")
    # synthesize messy variants deterministically from doc_id so the op's
    # branches (ports, params, fragments) all fire on driver data
    messy = F.concat(
        F.lit("HTTP://Example.COM:80/p/"),
        F.col("doc_id").cast("string"),
        F.lit("?utm_source=x&b=2&a=1#frag"),
    )
    return d.select("doc_id", normalize_url(messy).alias("url_norm"))


_URL_NORMALIZE_SQL = """
SELECT doc_id,
       'http://example.com/p/' || CAST(doc_id AS VARCHAR) || '?a=1&b=2' AS url_norm
FROM documents
"""


def _split_assign_docs(spark, sf):
    """Deterministic train/val/test split (ops/curation.split_assign):
    md5-bucket assignment, bit-for-bit replayed by the oracle."""
    from kgspark.ops.curation import split_assign

    d = _t(spark, sf, "documents")
    return d.select("doc_id", split_assign(F.col("doc_id")).alias("split"))


def _split_assign_sql() -> str:
    # same md5-hex -> bigint digit expansion the negative-sampling oracle uses
    digits = "0123456789abcdef"
    expansion = " + ".join(
        f"CAST(strpos('{digits}', substr(h, {j + 1}, 1)) - 1 AS BIGINT) * {16 ** (14 - j)}"
        for j in range(15)
    )
    return f"""
SELECT doc_id,
       CASE WHEN bucket < 5 THEN 'val'
            WHEN bucket < 10 THEN 'test'
            ELSE 'train' END AS split
FROM (
  SELECT doc_id, ({expansion}) % 100 AS bucket
  FROM (SELECT doc_id, substr(md5(CAST(doc_id AS VARCHAR) || '|split-v1'), 1, 15) AS h
        FROM documents)
)
"""


_SPLIT_ASSIGN_SQL = _split_assign_sql()


def _pack_sequences(spark, sf):
    """Token-budgeted contiguous packing (ops/curation.pack_greedy_contiguous)
    over whitespace token counts — one window sum, SQL-replayed exactly."""
    from kgspark.ops.curation import pack_greedy_contiguous

    d = _t(spark, sf, "documents").filter(F.col("text").isNotNull())
    toks = d.select(
        "doc_id",
        F.size(F.split(F.trim(F.regexp_replace("text", r"\s+", " ")), " ")).cast("long").alias("n_tokens"),
    )
    return pack_greedy_contiguous(toks, "n_tokens", "doc_id", budget=512).select(
        "doc_id", "n_tokens", "pack_id", "pack_offset"
    )


_PACK_SEQUENCES_SQL = """
SELECT doc_id, n_tokens,
       CAST((cum - n_tokens) // 512 AS BIGINT) AS pack_id,
       CAST((cum - n_tokens) % 512 AS BIGINT) AS pack_offset
FROM (
  SELECT doc_id, n_tokens,
         sum(n_tokens) OVER (ORDER BY doc_id
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
  FROM (SELECT doc_id,
               CAST(len(string_split(trim(regexp_replace(text, '\\s+', ' ', 'g')), ' ')) AS BIGINT) AS n_tokens
        FROM documents WHERE text IS NOT NULL)
)
"""


def _decontaminate_docs(spark, sf):
    """Benchmark decontamination (ops/curation.decontaminate): the val
    split is the eval set; every non-val document gets its distinct
    shared-n-gram count and a contaminated flag. n=3 here — the synthetic
    corpus is short word-salad where the production 13-gram default never
    fires; the pipeline under test (tokenize -> windowed slice -> hash ->
    broadcast join -> per-doc count -> left-attach) is identical at any n.
    Engine-portable md5 n-gram hashing; DuckDB replays every stage."""
    from kgspark.ops.curation import decontaminate, split_assign

    d = _t(spark, sf, "documents").filter(F.col("text").isNotNull())
    d = d.withColumn("split", split_assign(F.col("doc_id")))
    ev = d.filter(F.col("split") == "val").select("doc_id", "text")
    corpus = d.filter(F.col("split") != "val").select("doc_id", "text")
    out = decontaminate(corpus, ev, n=3, hash="md5")
    return out.select(
        "doc_id",
        F.col("contaminated_ngrams").cast("long").alias("contaminated_ngrams"),
        F.col("is_contaminated").cast("int").alias("is_contaminated"),
    )


def _decontaminate_sql() -> str:
    digits = "0123456789abcdef"
    expansion = " + ".join(
        f"CAST(strpos('{digits}', substr(h, {j + 1}, 1)) - 1 AS BIGINT) * {16 ** (14 - j)}"
        for j in range(15)
    )
    return f"""
WITH toks AS (
  SELECT doc_id,
         string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS t
  FROM documents WHERE text IS NOT NULL
),
spl AS (
  SELECT doc_id, ({expansion}) % 100 AS bucket
  FROM (SELECT doc_id, substr(md5(CAST(doc_id AS VARCHAR) || '|split-v1'), 1, 15) AS h
        FROM documents WHERE text IS NOT NULL)
),
grams AS (
  SELECT toks.doc_id, md5(array_to_string(t[i : i + 2], ' ')) AS ng
  FROM toks, LATERAL (SELECT unnest(range(1, greatest(len(t) - 1, 1))) AS i) u
),
evalg AS (SELECT DISTINCT ng FROM grams JOIN spl USING (doc_id) WHERE bucket < 5),
hits AS (
  SELECT g.doc_id, count(DISTINCT g.ng) AS c
  FROM grams g JOIN spl USING (doc_id) JOIN evalg e ON g.ng = e.ng
  WHERE bucket >= 5 GROUP BY g.doc_id
)
SELECT d.doc_id,
       COALESCE(h.c, 0) AS contaminated_ngrams,
       CASE WHEN COALESCE(h.c, 0) > 0 THEN 1 ELSE 0 END AS is_contaminated
FROM (SELECT doc_id FROM spl WHERE bucket >= 5) d
LEFT JOIN hits h USING (doc_id)
"""


_DECONTAMINATE_SQL = _decontaminate_sql()


def _bloom_decontam_docs(spark, sf):
    """Bloom-filter decontamination (ops/curation.bloom_words +
    bloom_decontaminate): the val split's 3-gram Bloom (2^16 bits, k=3)
    probed by every train document as a PURE-JVM literal-array pass — no
    join, no shuffle of corpus data. Engine-portable md5 bit positions:
    the DuckDB oracle rebuilds the identical filter words and replays
    every hit, INCLUDING the false positives the compact filter admits —
    bloom semantics verified end to end, not approximated."""
    from kgspark.ops.curation import bloom_decontaminate, bloom_words, split_assign

    d = _t(spark, sf, "documents").filter(F.col("text").isNotNull())
    d = d.withColumn("split", split_assign(F.col("doc_id")))
    ev = d.filter(F.col("split") == "val").select("doc_id", "text")
    corpus = d.filter(F.col("split") != "val").select("doc_id", "text")
    cfg = dict(n=3, m_bits=1 << 16, k_hashes=3)
    words = bloom_words(ev, **cfg)
    return bloom_decontaminate(corpus, words, **cfg).select(
        "doc_id",
        F.col("bloom_hits").cast("long").alias("bloom_hits"),
        F.col("maybe_contaminated").cast("int").alias("maybe_contaminated"),
    )


def _bloom_decontam_sql(m_bits: int = 1 << 16, k: int = 3) -> str:
    digits = "0123456789abcdef"
    split_expansion = " + ".join(
        f"CAST(strpos('{digits}', substr(h, {j + 1}, 1)) - 1 AS BIGINT) * {16 ** (14 - j)}"
        for j in range(15)
    )

    def pos_expansion(col: str) -> str:
        return " + ".join(
            f"CAST(strpos('{digits}', substr({col}, {j + 1}, 1)) - 1 AS BIGINT) * {16 ** (14 - j)}"
            for j in range(15)
        )

    return f"""
WITH toks AS (
  SELECT doc_id,
         string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS t
  FROM documents WHERE text IS NOT NULL
),
spl AS (
  SELECT doc_id, ({split_expansion}) % 100 AS bucket
  FROM (SELECT doc_id, substr(md5(CAST(doc_id AS VARCHAR) || '|split-v1'), 1, 15) AS h
        FROM documents WHERE text IS NOT NULL)
),
masks AS (
  SELECT b, CASE WHEN b = 63 THEN CAST(-9223372036854775808 AS BIGINT)
                 ELSE CAST(1 AS BIGINT) << b END AS mask
  FROM (SELECT unnest(range(0, 64)) AS b)
),
grams AS (
  SELECT toks.doc_id, md5(array_to_string(t[i : i + 2], ' ')) AS ng
  FROM toks, LATERAL (SELECT unnest(range(1, greatest(len(t) - 1, 1))) AS i) u
),
evpos AS (
  SELECT DISTINCT
         ({pos_expansion("substr(md5(ng || '|' || CAST(j AS VARCHAR) || '|bloom-v1'), 1, 15)")}) % {m_bits} AS pos
  FROM (SELECT DISTINCT ng FROM grams JOIN spl USING (doc_id) WHERE bucket < 5),
       (SELECT unnest(range(0, {k})) AS j)
),
words AS (
  SELECT CAST(pos // 64 AS BIGINT) AS word_idx, bit_or(m.mask) AS word
  FROM evpos JOIN masks m ON m.b = pos % 64
  GROUP BY 1
),
cgrams AS (
  SELECT DISTINCT g.doc_id, g.ng
  FROM grams g JOIN spl USING (doc_id) WHERE bucket >= 5
),
cpos AS (
  SELECT doc_id, ng, j,
         ({pos_expansion("substr(md5(ng || '|' || CAST(j AS VARCHAR) || '|bloom-v1'), 1, 15)")}) % {m_bits} AS pos
  FROM cgrams, (SELECT unnest(range(0, {k})) AS j)
),
gram_hits AS (
  SELECT p.doc_id, p.ng,
         bool_and(COALESCE((w.word & m.mask) <> 0, FALSE)) AS hit
  FROM cpos p
  JOIN masks m ON m.b = p.pos % 64
  LEFT JOIN words w ON w.word_idx = p.pos // 64
  GROUP BY p.doc_id, p.ng
),
hits AS (
  SELECT doc_id, count(*) AS c FROM gram_hits WHERE hit GROUP BY doc_id
)
SELECT d.doc_id,
       COALESCE(h.c, 0) AS bloom_hits,
       CASE WHEN COALESCE(h.c, 0) > 0 THEN 1 ELSE 0 END AS maybe_contaminated
FROM (SELECT doc_id FROM spl WHERE bucket >= 5) d
LEFT JOIN hits h USING (doc_id)
"""


_BLOOM_DECONTAM_SQL = _bloom_decontam_sql()


def _dsir_scores_docs(spark, sf):
    """DSIR importance weights (ops/curation.dsir_scores): val split as
    the target sample, train split as corpus AND raw pool; hashed
    unigram+bigram buckets, integer-millinat log-ratio scores. The
    corpus pass is a literal-array JVM projection (no join/shuffle);
    the oracle recomputes the same integers via the join shape — same
    fixed-point values either way."""
    from kgspark.ops.curation import dsir_scores, split_assign

    d = _t(spark, sf, "documents").filter(F.col("text").isNotNull())
    d = d.withColumn("split", split_assign(F.col("doc_id")))
    target = d.filter(F.col("split") == "val").select("doc_id", "text")
    corpus = d.filter(F.col("split") != "val").select("doc_id", "text")
    return dsir_scores(corpus, target, n_buckets=4096).select(
        "doc_id", "n_features", "logweight_millinat"
    )


def _dsir_scores_sql(n_buckets: int = 4096) -> str:
    digits = "0123456789abcdef"
    split_expansion = " + ".join(
        f"CAST(strpos('{digits}', substr(h, {j + 1}, 1)) - 1 AS BIGINT) * {16 ** (14 - j)}"
        for j in range(15)
    )
    bucket_expansion = " + ".join(
        f"CAST(strpos('{digits}', substr(bh, {j + 1}, 1)) - 1 AS BIGINT) * {16 ** (14 - j)}"
        for j in range(15)
    )
    return f"""
WITH toks AS (
  SELECT doc_id,
         string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS t
  FROM documents WHERE text IS NOT NULL
),
spl AS (
  SELECT doc_id, ({split_expansion}) % 100 AS bucket
  FROM (SELECT doc_id, substr(md5(CAST(doc_id AS VARCHAR) || '|split-v1'), 1, 15) AS h
        FROM documents WHERE text IS NOT NULL)
),
feats AS (
  SELECT doc_id, ({bucket_expansion}) % {n_buckets} AS b
  FROM (
    SELECT doc_id,
           substr(md5(md5(array_to_string(t[i : i], ' ')) || '|dsir-v1'), 1, 15) AS bh
    FROM toks, LATERAL (SELECT unnest(range(1, greatest(len(t) + 1, 1))) AS i) u
    UNION ALL
    SELECT doc_id,
           substr(md5(md5(array_to_string(t[i : i + 1], ' ')) || '|dsir-v1'), 1, 15) AS bh
    FROM toks, LATERAL (SELECT unnest(range(1, greatest(len(t), 1))) AS i) u
  )
),
tcounts AS (
  SELECT b, count(*) AS c FROM feats JOIN spl USING (doc_id) WHERE bucket < 5 GROUP BY b
),
rcounts AS (
  SELECT b, count(*) AS c FROM feats JOIN spl USING (doc_id) WHERE bucket >= 5 GROUP BY b
),
llr AS (
  SELECT COALESCE(tc.b, rc.b) AS b,
         CAST(round(ln(COALESCE(tc.c, 0) + 1) * 1000) AS BIGINT)
         - CAST(round(ln(COALESCE(rc.c, 0) + 1) * 1000) AS BIGINT) AS v
  FROM tcounts tc FULL OUTER JOIN rcounts rc ON tc.b = rc.b
),
konst AS (
  SELECT CAST(round(ln((SELECT COALESCE(sum(c), 0) FROM rcounts) + {n_buckets}) * 1000) AS BIGINT)
       - CAST(round(ln((SELECT COALESCE(sum(c), 0) FROM tcounts) + {n_buckets}) * 1000) AS BIGINT) AS v
),
per_doc AS (
  SELECT f.doc_id, count(*) AS n_features,
         CAST(sum(COALESCE(l.v, 0)) AS BIGINT) AS s
  FROM feats f JOIN spl USING (doc_id)
  LEFT JOIN llr l ON l.b = f.b
  WHERE bucket >= 5
  GROUP BY f.doc_id
)
SELECT d.doc_id,
       COALESCE(p.n_features, 0) AS n_features,
       COALESCE(p.s + p.n_features * (SELECT v FROM konst), 0) AS logweight_millinat
FROM (SELECT doc_id FROM spl WHERE bucket >= 5) d
LEFT JOIN per_doc p USING (doc_id)
"""


_DSIR_SCORES_SQL = _dsir_scores_sql()


def _weighted_sample_docs(spark, sf):
    """A-ES weighted sampling (ops/sample.weighted_sample_keys /
    weighted_sample_per_group): per-language top-20 proportional to
    n_chars. Deterministic md5-derived u, integer-micronat ln(u)/w keys
    (one engine-local ln per row, pinned by round) — the oracle replays
    keys, ranks, and the sampled set exactly."""
    from kgspark.ops.sample import weighted_sample_per_group

    d = _t(spark, sf, "documents").select("doc_id", "lang", "n_chars")
    out = weighted_sample_per_group(
        d, "lang", "n_chars", "doc_id", k=20
    )
    return out.select(
        "doc_id", "lang", "wsample_key", F.col("is_sampled").cast("int").alias("is_sampled")
    )


def _weighted_sample_sql(k: int = 20) -> str:
    digits = "0123456789abcdef"
    expansion = " + ".join(
        f"CAST(strpos('{digits}', substr(h, {j + 1}, 1)) - 1 AS BIGINT) * {16 ** (14 - j)}"
        for j in range(15)
    )
    return f"""
WITH raw AS (
  SELECT doc_id, lang, CAST(n_chars AS DOUBLE) AS w,
         substr(md5(CAST(doc_id AS VARCHAR) || '|wsample-v1'), 1, 15) AS h
  FROM documents
),
wmax AS (
  SELECT max(CASE WHEN NOT isnan(w) AND w > 0 AND NOT isinf(w) THEN w END) AS m FROM raw
),
keyed AS (
  SELECT doc_id, lang,
         CASE WHEN w IS NOT NULL AND NOT isnan(w) AND w > 0 AND NOT isinf(w) THEN
           CAST(round(ln((CAST(({expansion}) % 1000000000000 AS DOUBLE) + 0.5)
                         / 1000000000000.0)
                      / greatest(w / (SELECT m FROM wmax), 1.0e-8)
                      * 1000000000.0) AS BIGINT)
         END AS wsample_key
  FROM raw
),
ranked AS (
  SELECT doc_id, lang, wsample_key,
         row_number() OVER (PARTITION BY lang ORDER BY wsample_key DESC NULLS LAST, doc_id) AS rn
  FROM keyed
)
SELECT doc_id, lang, wsample_key,
       CASE WHEN rn <= {k} AND wsample_key IS NOT NULL THEN 1 ELSE 0 END AS is_sampled
FROM ranked
"""


_WEIGHTED_SAMPLE_SQL = _weighted_sample_sql()


def _stupid_backoff_docs(spark, sf):
    """Stupid Backoff bigram LM scoring (textstats.stupid_backoff_logprob):
    val split as the model, train split scored — so the backoff branch
    (bigram missing from the model) actually fires, unknown terms hit the
    unseen-token floor, and the alpha path is exercised end to end.
    Integer millinats throughout (Brants et al. 2007); the oracle replays
    counts, the backoff CASE, and the fixed-point sums exactly."""
    from kgspark.ops.curation import split_assign
    from kgspark.ops.textstats import stupid_backoff_logprob

    d = _t(spark, sf, "documents").filter(F.col("text").isNotNull())
    d = d.withColumn("split", split_assign(F.col("doc_id")))
    model = d.filter(F.col("split") == "val").select("doc_id", "text")
    corpus = d.filter(F.col("split") != "val").select("doc_id", "text")
    return stupid_backoff_logprob(corpus, model_docs=model)


def _stupid_backoff_sql(alpha_milli: int = 400) -> str:
    import math

    digits = "0123456789abcdef"
    split_expansion = " + ".join(
        f"CAST(strpos('{digits}', substr(h, {j + 1}, 1)) - 1 AS BIGINT) * {16 ** (14 - j)}"
        for j in range(15)
    )
    ln_alpha = int(round(math.log(alpha_milli / 1000.0) * 1000))
    return f"""
WITH spl AS (
  SELECT doc_id, ({split_expansion}) % 100 AS bucket
  FROM (SELECT doc_id, substr(md5(CAST(doc_id AS VARCHAR) || '|split-v1'), 1, 15) AS h
        FROM documents WHERE text IS NOT NULL)
),
toks AS (
  SELECT doc_id,
         list_filter(string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' '),
                     x -> x <> '') AS t
  FROM documents WHERE text IS NOT NULL
),
rws_all AS (
  SELECT doc_id, i AS pos, t[i] AS term, CASE WHEN i > 1 THEN t[i - 1] END AS prev
  FROM toks, LATERAL (SELECT unnest(range(1, len(t) + 1)) AS i) u
),
mrows AS (SELECT r.* FROM rws_all r JOIN spl USING (doc_id) WHERE bucket < 5),
rws AS (SELECT r.* FROM rws_all r JOIN spl USING (doc_id) WHERE bucket >= 5),
uni AS (SELECT term, count(*) AS cu FROM mrows GROUP BY term),
tot AS (SELECT CAST(sum(cu) AS BIGINT) AS c FROM uni),
big AS (
  SELECT prev, term, count(*) AS cb FROM mrows WHERE prev IS NOT NULL GROUP BY prev, term
),
per AS (
  SELECT r.doc_id,
         CASE WHEN r.pos = 1 THEN CAST(round(ln(COALESCE(u.cu, 1)) * 1000) AS BIGINT)
              WHEN b.cb IS NOT NULL THEN CAST(round(ln(b.cb) * 1000) AS BIGINT)
                                         - CAST(round(ln(up.cu) * 1000) AS BIGINT)
              ELSE {ln_alpha} + CAST(round(ln(COALESCE(u.cu, 1)) * 1000) AS BIGINT) END AS s,
         CASE WHEN r.pos = 1 OR b.cb IS NULL THEN 1 ELSE 0 END AS needs_c,
         CASE WHEN r.pos > 1 AND b.cb IS NULL THEN 1 ELSE 0 END AS backoff
  FROM rws r
  LEFT JOIN uni u ON u.term = r.term
  LEFT JOIN uni up ON up.term = r.prev
  LEFT JOIN big b ON b.prev = r.prev AND b.term = r.term
)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_tokens,
       CAST(sum(backoff) AS BIGINT) AS backoff_tokens,
       CAST(sum(s) - sum(needs_c) * (SELECT CAST(round(ln(c) * 1000) AS BIGINT) FROM tot)
            AS BIGINT) AS logprob_millinat
FROM per GROUP BY doc_id
"""


_STUPID_BACKOFF_SQL = _stupid_backoff_sql()


def _split_sentences_docs(spark, sf):
    """Rule-based sentence segmentation (textstats.split_sentences):
    [.!?]+-run boundaries via a backreference sentinel replace (no
    lookbehind — RE2 has none; each engine spells its own backref), one
    split + posexplode. The synthetic corpus has NO punctuation, so the
    query deterministically punctuates first (a period after every
    'table'/'row' token — each engine's own backref syntax produces the
    same bytes) — otherwise every doc is one segment and the boundary
    rule goes untested. The oracle replays punctuation, segmentation,
    and 0-based sentence ids exactly."""
    from kgspark.ops.textstats import split_sentences

    d = _t(spark, sf, "documents").select(
        "doc_id",
        F.regexp_replace("text", r"\b(table|row)\b", "$1.").alias("text"),
    )
    return split_sentences(d)


_SPLIT_SENTENCES_SQL = """
WITH punct AS (
  SELECT doc_id, regexp_replace(text, '\\b(table|row)\\b', '\\1.', 'g') AS text
  FROM documents WHERE text IS NOT NULL
),
marked AS (
  SELECT doc_id,
         list_filter(
           string_split(
             regexp_replace(
               trim(regexp_replace(
                 regexp_replace(text, '[\\x00-\\x08\\x0e-\\x1f\\x7f]', '', 'g'),
                 '\\s+', ' ', 'g')),
               '([.!?]+) ', '\\1' || chr(1), 'g'),
             chr(1)),
           s -> trim(s) <> '') AS sents
  FROM punct
)
SELECT doc_id,
       generate_subscripts(sents, 1) - 1 AS sent_id,
       unnest(sents) AS sentence
FROM marked
"""


def _leakage_safe_split_docs(spark, sf):
    """Cluster-keyed train/val/test split (curation.leakage_safe_split)
    over the portable minhash clusters: near-duplicates can never
    straddle a split boundary. The oracle is the full portable-minhash
    replay (sigs -> banding -> pairs -> agreement -> recursive-CTE CC)
    with the split_assign bucket math applied to the CLUSTER key."""
    from kgspark.ops.curation import leakage_safe_split

    clusters = _minhash_dedup_portable(spark, sf)
    docs = (
        _t(spark, sf, "documents")
        .filter(F.col("text").isNotNull())
        .select("doc_id")
    )
    # the library returns cluster as STRING (mixed-type id safety); ids
    # here are bigint, so cast back for the BIGINT-typed oracle
    return leakage_safe_split(docs, clusters).select(
        "doc_id", F.col("cluster").cast("long").alias("cluster"), "split"
    )


def _leakage_safe_split_sql() -> str:
    digits = "0123456789abcdef"
    expansion = " + ".join(
        f"CAST(strpos('{digits}', substr(sh, {j + 1}, 1)) - 1 AS BIGINT) * {16 ** (14 - j)}"
        for j in range(15)
    )
    old_tail = """SELECT d.doc_id, CAST(coalesce(c.cluster, d.doc_id) AS BIGINT) AS cluster
FROM (SELECT DISTINCT doc_id FROM documents WHERE text IS NOT NULL) d
LEFT JOIN comp c ON c.id = d.doc_id
"""
    new_tail = f"""SELECT doc_id, cluster,
       CASE WHEN bucket < 5 THEN 'val'
            WHEN bucket < 10 THEN 'test'
            ELSE 'train' END AS split
FROM (
  SELECT doc_id, cluster, ({expansion}) % 100 AS bucket
  FROM (
    SELECT doc_id, cluster,
           substr(md5(CAST(cluster AS VARCHAR) || '|split-v1'), 1, 15) AS sh
    FROM (
      SELECT d.doc_id, CAST(coalesce(c.cluster, d.doc_id) AS BIGINT) AS cluster
      FROM (SELECT DISTINCT doc_id FROM documents WHERE text IS NOT NULL) d
      LEFT JOIN comp c ON c.id = d.doc_id
    )
  )
)
"""
    assert old_tail in _MINHASH_DEDUP_PORTABLE_SQL
    return _MINHASH_DEDUP_PORTABLE_SQL.replace(old_tail, new_tail)


# (_LEAKAGE_SAFE_SPLIT_SQL is assigned after _MINHASH_DEDUP_PORTABLE_SQL
# is defined, further down — the builder composes that SQL's text.)


def _readability_docs(spark, sf):
    """Flesch readability counts (textstats.readability_stats): exact
    integer word/sentence/vowel-group/silent-e counts over the
    whitespace-normalized form (the form both regex engines agree on —
    no lookahead, no newline-$ ambiguity), one pinned float expression
    for the milli-score."""
    from kgspark.ops.textstats import readability_stats

    return readability_stats(_t(spark, sf, "documents"))


_READABILITY_SQL = """
WITH base AS (
  SELECT doc_id,
         trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS norm
  FROM documents WHERE text IS NOT NULL
),
counts AS (
  SELECT doc_id,
         CASE WHEN norm = '' THEN 0
              ELSE CAST(len(string_split(norm, ' ')) AS BIGINT) END AS n_words,
         greatest(CAST(len(regexp_extract_all(norm, '[.!?]+')) AS BIGINT),
                  CAST(1 AS BIGINT)) AS n_sentences,
         CASE WHEN norm = '' THEN CAST(0 AS BIGINT)
              ELSE CAST(list_sum(list_transform(string_split(norm, ' '),
                     x -> greatest(
                            CAST(len(regexp_extract_all(x, '[aeiouy]+')) AS BIGINT)
                            - CASE WHEN regexp_matches(x, '[b-df-km-np-tv-z]e$')
                                   THEN 1 ELSE 0 END,
                            CAST(1 AS BIGINT)))) AS BIGINT) END AS n_syllables
  FROM base
)
SELECT doc_id, n_words, n_sentences, n_syllables,
       CASE WHEN n_words > 0 THEN
         CAST(round((206.835
                     - 1.015 * CAST(n_words AS DOUBLE) / CAST(n_sentences AS DOUBLE)
                     - 84.6 * CAST(n_syllables AS DOUBLE)
                           / CAST(n_words AS DOUBLE)) * 1000) AS BIGINT)
       END AS flesch_milli
FROM counts
"""


def _resample_temperature_docs(spark, sf):
    """Temperature-based domain rebalancing (ops/curation.
    resample_temperature): a skewed synthetic grouping (60/30/10% of
    doc_ids) is downsampled toward n_g**0.5 with deterministic md5-bucket
    acceptance. The oracle replays counts -> global min -> pow/round ->
    integer ppm threshold -> per-doc bucket compare, bit-for-bit."""
    from kgspark.ops.curation import resample_temperature

    d = _t(spark, sf, "documents").select("doc_id")
    grouped = d.withColumn(
        "grp",
        F.when(F.pmod(F.col("doc_id"), F.lit(10)) < 6, F.lit("big"))
        .when(F.pmod(F.col("doc_id"), F.lit(10)) < 9, F.lit("mid"))
        .otherwise(F.lit("small")),
    )
    out = resample_temperature(grouped, "grp", "doc_id", alpha=0.5)
    return out.select(
        "doc_id",
        "grp",
        F.col("group_n").cast("long").alias("group_n"),
        "accept_ppm",
        F.col("is_kept").cast("int").alias("is_kept"),
    )


def _resample_temperature_sql() -> str:
    digits = "0123456789abcdef"
    expansion = " + ".join(
        f"CAST(strpos('{digits}', substr(h, {j + 1}, 1)) - 1 AS BIGINT) * {16 ** (14 - j)}"
        for j in range(15)
    )
    return f"""
WITH g AS (
  SELECT doc_id,
         CASE WHEN doc_id % 10 < 6 THEN 'big'
              WHEN doc_id % 10 < 9 THEN 'mid'
              ELSE 'small' END AS grp
  FROM documents
),
c AS (SELECT grp, count(*) AS group_n FROM g GROUP BY grp),
m AS (SELECT min(group_n) AS n_min FROM c),
t AS (
  SELECT grp, group_n,
         CAST(least(1000000, floor(round(power(CAST(n_min AS DOUBLE) / group_n, 0.5), 6) * 1000000)) AS BIGINT) AS accept_ppm
  FROM c, m
)
SELECT gh.doc_id, gh.grp, t.group_n, t.accept_ppm,
       CASE WHEN ({expansion}) % 1000000 < t.accept_ppm THEN 1 ELSE 0 END AS is_kept
FROM (SELECT doc_id, grp, substr(md5(CAST(doc_id AS VARCHAR) || '|mix-v1'), 1, 15) AS h
      FROM g) gh
JOIN t USING (grp)
"""


_RESAMPLE_TEMPERATURE_SQL = _resample_temperature_sql()


def _minhash_dedup_portable(spark, sf):
    """The FULL near-dup pipeline — portable signatures -> LSH banding ->
    candidate pairs -> signature-agreement estimate -> connected components
    -> cluster labels — hash-verified end-to-end: the DuckDB oracle replays
    every stage including the CC fixpoint (recursive-CTE transitive closure
    + min-reachable-id). The production pipeline (ops/dedup.minhash_dedup)
    uses the same shapes with 64 xxhash64-domain perms and the bucketed
    pair generator; this 4-perm md5-domain variant is the bit-reproducible
    cross-engine witness."""
    sigs = _minhash_portable_sig(spark, sf)
    banded = sigs.select(
        "doc_id", F.lit(0).alias("band"), F.md5(F.concat_ws(",", "h0", "h1")).alias("bucket")
    ).union(
        sigs.select("doc_id", F.lit(1), F.md5(F.concat_ws(",", "h2", "h3")))
    )
    a = banded.select("band", "bucket", F.col("doc_id").alias("a"))
    b = banded.select("band", "bucket", F.col("doc_id").alias("b"))
    pairs = (
        a.join(b, ["band", "bucket"]).filter(F.col("a") < F.col("b"))
        .select("a", "b").distinct()
    )
    sa = sigs.select(F.col("doc_id").alias("a"), *[F.col(f"h{i}").alias(f"sa{i}") for i in range(4)])
    sb = sigs.select(F.col("doc_id").alias("b"), *[F.col(f"h{i}").alias(f"sb{i}") for i in range(4)])
    agree = sum((F.col(f"sa{i}") == F.col(f"sb{i}")).cast("int") for i in range(4))
    est = pairs.join(sa, "a").join(sb, "b").filter(agree >= 2).select("a", "b")

    from kgspark.extract.components import connected_components

    comp = connected_components(est, "a", "b")
    ids = _t(spark, sf, "documents").filter(F.col("text").isNotNull()).select("doc_id").distinct()
    return ids.join(comp.withColumnRenamed("id", "doc_id"), "doc_id", "left").select(
        "doc_id", F.coalesce("component", F.col("doc_id")).cast("long").alias("cluster")
    )


_MINHASH_DEDUP_PORTABLE_SQL = """
WITH RECURSIVE sigs AS (
  SELECT doc_id,
         list_min(list_transform(pos, i -> md5(substr(t, CAST(i AS INT), 5) || ':0'))) AS h0,
         list_min(list_transform(pos, i -> md5(substr(t, CAST(i AS INT), 5) || ':1'))) AS h1,
         list_min(list_transform(pos, i -> md5(substr(t, CAST(i AS INT), 5) || ':2'))) AS h2,
         list_min(list_transform(pos, i -> md5(substr(t, CAST(i AS INT), 5) || ':3'))) AS h3
  FROM (SELECT doc_id, t, range(1, greatest(length(t) - 4, 1) + 1) AS pos
        FROM (SELECT doc_id, lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))) AS t
              FROM documents WHERE text IS NOT NULL))
), banded AS (
  SELECT doc_id, 0 AS band, md5(h0 || ',' || h1) AS bucket FROM sigs
  UNION ALL
  SELECT doc_id, 1, md5(h2 || ',' || h3) FROM sigs
), pairs AS (
  SELECT DISTINCT a.doc_id AS a, b.doc_id AS b
  FROM banded a JOIN banded b
    ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
), est AS (
  SELECT p.a, p.b
  FROM pairs p JOIN sigs sa ON sa.doc_id = p.a JOIN sigs sb ON sb.doc_id = p.b
  WHERE CAST(sa.h0 = sb.h0 AS INT) + CAST(sa.h1 = sb.h1 AS INT)
      + CAST(sa.h2 = sb.h2 AS INT) + CAST(sa.h3 = sb.h3 AS INT) >= 2
), sym AS (
  SELECT a AS s, b AS d FROM est UNION SELECT b, a FROM est
), reach(id, r) AS (
  SELECT s, s FROM sym
  UNION
  SELECT e.s, t.r FROM sym e JOIN reach t ON e.d = t.id
), comp AS (
  SELECT id, min(r) AS cluster FROM reach GROUP BY id
)
SELECT d.doc_id, CAST(coalesce(c.cluster, d.doc_id) AS BIGINT) AS cluster
FROM (SELECT DISTINCT doc_id FROM documents WHERE text IS NOT NULL) d
LEFT JOIN comp c ON c.id = d.doc_id
"""


_LEAKAGE_SAFE_SPLIT_SQL = _leakage_safe_split_sql()


def _minhash_incremental_portable(spark, sf):
    """Incremental (batch-vs-store) near-dup semantics with the portable
    4-perm signatures: ODD doc_ids are the new batch, EVEN the signature
    store. The oracle replays banding, the new x (store ∪ larger-new)
    pairing rule (store x store never paired), the >=2/4 agreement
    estimate, the CC fixpoint, and store-anchored representative
    selection. The production path (ops/dedup.minhash_dedup_incremental /
    lsh_candidate_pairs_incremental) runs the same shapes with 64
    xxhash64-domain perms, the bounded-bucket single-shuffle aggregate,
    and the broadcast store-bucket prune."""
    from kgspark.extract.components import connected_components

    sigs = _minhash_portable_sig(spark, sf)
    banded = sigs.select(
        "doc_id", F.lit(0).alias("band"), F.md5(F.concat_ws(",", "h0", "h1")).alias("bucket")
    ).union(sigs.select("doc_id", F.lit(1), F.md5(F.concat_ws(",", "h2", "h3"))))
    n = banded.filter(F.pmod(F.col("doc_id"), F.lit(2)) == 1).select(
        "band", "bucket", F.col("doc_id").alias("a")
    )
    m = banded.select("band", "bucket", F.col("doc_id").alias("b"))
    pairs = (
        n.join(m, ["band", "bucket"])
        .filter(
            (F.col("b") != F.col("a"))
            & ((F.pmod(F.col("b"), F.lit(2)) == 0) | (F.col("b") > F.col("a")))
        )
        .select("a", "b")
        .distinct()
    )
    sa = sigs.select(F.col("doc_id").alias("a"), *[F.col(f"h{i}").alias(f"sa{i}") for i in range(4)])
    sb = sigs.select(F.col("doc_id").alias("b"), *[F.col(f"h{i}").alias(f"sb{i}") for i in range(4)])
    agree = sum((F.col(f"sa{i}") == F.col(f"sb{i}")).cast("int") for i in range(4))
    est = pairs.join(sa, "a").join(sb, "b").filter(agree >= 2).select("a", "b")
    comp = connected_components(est, "a", "b")
    reps = (
        comp.groupBy("component")
        .agg(
            F.min(F.when(F.pmod(F.col("id"), F.lit(2)) == 0, F.col("id"))).alias("_store"),
            F.min("id").alias("_any"),
        )
        .select("component", F.coalesce("_store", "_any").alias("rep"))
    )
    labels = comp.join(reps, "component").select(F.col("id").alias("doc_id"), "rep")
    newdocs = (
        _t(spark, sf, "documents")
        .filter(F.col("text").isNotNull() & (F.pmod(F.col("doc_id"), F.lit(2)) == 1))
        .select("doc_id")
    )
    return newdocs.join(labels, "doc_id", "left").select(
        "doc_id",
        F.coalesce("rep", F.col("doc_id")).cast("long").alias("cluster"),
        (F.coalesce("rep", F.col("doc_id")) != F.col("doc_id")).cast("int").alias("is_duplicate"),
    )


_MINHASH_INCREMENTAL_SQL = """
WITH RECURSIVE sigs AS (
  SELECT doc_id,
         list_min(list_transform(pos, i -> md5(substr(t, CAST(i AS INT), 5) || ':0'))) AS h0,
         list_min(list_transform(pos, i -> md5(substr(t, CAST(i AS INT), 5) || ':1'))) AS h1,
         list_min(list_transform(pos, i -> md5(substr(t, CAST(i AS INT), 5) || ':2'))) AS h2,
         list_min(list_transform(pos, i -> md5(substr(t, CAST(i AS INT), 5) || ':3'))) AS h3
  FROM (SELECT doc_id, t, range(1, greatest(length(t) - 4, 1) + 1) AS pos
        FROM (SELECT doc_id, lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))) AS t
              FROM documents WHERE text IS NOT NULL))
), banded AS (
  SELECT doc_id, 0 AS band, md5(h0 || ',' || h1) AS bucket FROM sigs
  UNION ALL
  SELECT doc_id, 1, md5(h2 || ',' || h3) FROM sigs
), pairs AS (
  SELECT DISTINCT n.doc_id AS a, m.doc_id AS b
  FROM banded n JOIN banded m
    ON n.band = m.band AND n.bucket = m.bucket
   AND n.doc_id % 2 = 1
   AND m.doc_id <> n.doc_id
   AND (m.doc_id % 2 = 0 OR m.doc_id > n.doc_id)
), est AS (
  SELECT p.a, p.b
  FROM pairs p JOIN sigs sa ON sa.doc_id = p.a JOIN sigs sb ON sb.doc_id = p.b
  WHERE CAST(sa.h0 = sb.h0 AS INT) + CAST(sa.h1 = sb.h1 AS INT)
      + CAST(sa.h2 = sb.h2 AS INT) + CAST(sa.h3 = sb.h3 AS INT) >= 2
), sym AS (
  SELECT a AS s, b AS d FROM est UNION SELECT b, a FROM est
), reach(id, r) AS (
  SELECT s, s FROM sym
  UNION
  SELECT e.s, t.r FROM sym e JOIN reach t ON e.d = t.id
), comp AS (
  SELECT id, min(r) AS comp_id FROM reach GROUP BY id
), reps AS (
  SELECT comp_id,
         coalesce(min(CASE WHEN id % 2 = 0 THEN id END), min(id)) AS rep
  FROM comp GROUP BY comp_id
)
SELECT d.doc_id,
       CAST(coalesce(r.rep, d.doc_id) AS BIGINT) AS cluster,
       CASE WHEN coalesce(r.rep, d.doc_id) <> d.doc_id THEN 1 ELSE 0 END AS is_duplicate
FROM (SELECT doc_id FROM documents WHERE text IS NOT NULL AND doc_id % 2 = 1) d
LEFT JOIN comp c ON c.id = d.doc_id
LEFT JOIN reps r ON r.comp_id = c.comp_id
"""


def _triangle_count_docs(spark, sf):
    """Per-node triangle counts (ops/graph_algs.triangle_count,
    degree-ordered node-iterator) over a deterministic synthetic graph on
    doc_id % 401 nodes with three modular edge generators — dense enough
    for thousands of triangles at sf0.01. The oracle counts each triangle
    once via the canonical a<b three-way self-join and re-aggregates
    per corner."""
    from kgspark.ops.graph_algs import triangle_count

    d = _t(spark, sf, "documents").select((F.col("doc_id") % 401).alias("u")).distinct()
    raw = (
        d.select(F.col("u").alias("x"), ((F.col("u") * 7 + 3) % 401).alias("y"))
        .unionAll(d.select(F.col("u"), (F.col("u") * 13 + 5) % 401))
        .unionAll(d.select(F.col("u"), (F.col("u") + 1) % 401))
    )
    return triangle_count(raw, "x", "y").select(
        F.col("node").cast("long").alias("node"), "triangles"
    )


_TRIANGLE_COUNT_SQL = """
WITH nodes AS (SELECT DISTINCT doc_id % 401 AS u FROM documents),
raw AS (
  SELECT u AS x, (u * 7 + 3) % 401 AS y FROM nodes
  UNION ALL SELECT u, (u * 13 + 5) % 401 FROM nodes
  UNION ALL SELECT u, (u + 1) % 401 FROM nodes
),
e AS (SELECT DISTINCT least(x, y) AS a, greatest(x, y) AS b FROM raw WHERE x <> y),
tri AS (
  SELECT e1.a AS x, e1.b AS y, e2.b AS z
  FROM e e1 JOIN e e2 ON e2.a = e1.b JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b
),
pern AS (
  SELECT n, count(*) AS c FROM (
    SELECT x AS n FROM tri UNION ALL SELECT y FROM tri UNION ALL SELECT z FROM tri
  ) GROUP BY n
)
SELECT CAST(nodes.u AS BIGINT) AS node, CAST(coalesce(p.c, 0) AS BIGINT) AS triangles
FROM nodes LEFT JOIN pern p ON p.n = nodes.u
"""


def _kcore_docs(spark, sf):
    """k-core decomposition (ops/graph_algs.kcore): iterative peeling to
    the maximal subgraph of min-degree >= 3, fixed 4 rounds so the
    unrolled-SQL oracle replays the exact same state (set semantics —
    deterministic under any partitioning). The synthetic graph mixes a
    dense generator with two sparse tails so peeling actually cascades."""
    from kgspark.ops.graph_algs import kcore

    d = _t(spark, sf, "documents").select((F.col("doc_id") % 401).alias("u")).distinct()
    raw = (
        d.select(F.col("u").alias("x"), ((F.col("u") * 7 + 3) % 401).alias("y"))
        .unionAll(
            d.filter(F.col("u") < 100).select(F.col("u"), (F.col("u") + 1) % 401)
        )
        .unionAll(
            d.filter(F.col("u") < 50).select(F.col("u"), (F.col("u") * 13 + 5) % 401)
        )
    )
    return kcore(raw, k=3, src="x", dst="y", max_iter=4, until_stable=False)


def _kcore_sql(k: int = 3, iters: int = 4) -> str:
    parts = [
        """
WITH nodes AS (SELECT DISTINCT doc_id % 401 AS u FROM documents),
raw AS (
  SELECT u AS x, (u * 7 + 3) % 401 AS y FROM nodes
  UNION ALL SELECT u, (u + 1) % 401 FROM nodes WHERE u < 100
  UNION ALL SELECT u, (u * 13 + 5) % 401 FROM nodes WHERE u < 50
),
e0 AS (SELECT DISTINCT least(x, y) AS a, greatest(x, y) AS b FROM raw WHERE x <> y)"""
    ]
    for i in range(1, iters + 1):
        p = i - 1
        parts.append(
            f""",
d{i} AS (SELECT node, count(*) AS c FROM (
          SELECT a AS node FROM e{p} UNION ALL SELECT b FROM e{p}) GROUP BY node),
k{i} AS (SELECT node FROM d{i} WHERE c >= {k}),
e{i} AS (SELECT a, b FROM e{p}
        WHERE a IN (SELECT node FROM k{i}) AND b IN (SELECT node FROM k{i}))"""
        )
    parts.append(
        f"""
SELECT node, CAST(count(*) AS BIGINT) AS degree FROM (
  SELECT a AS node FROM e{iters} UNION ALL SELECT b FROM e{iters}) GROUP BY node"""
    )
    return "".join(parts)


_KCORE_SQL = _kcore_sql()


def _label_propagation_docs(spark, sf):
    """Label-propagation communities (ops/graph_algs.label_propagation):
    synchronous rounds, most-frequent-neighbor label with SMALLEST-label
    tie-break — a total order, so 3 fixed rounds replay bit-for-bit in
    the unrolled-SQL oracle (plain LPA's random tie-break could never
    hash-match across engines)."""
    from kgspark.ops.graph_algs import label_propagation

    d = _t(spark, sf, "documents").select((F.col("doc_id") % 401).alias("u")).distinct()
    raw = (
        d.select(F.col("u").alias("x"), ((F.col("u") * 7 + 3) % 401).alias("y"))
        .unionAll(d.select(F.col("u"), (F.col("u") + 1) % 401))
    )
    return label_propagation(raw, src="x", dst="y", max_iter=3)


def _label_propagation_sql(iters: int = 3) -> str:
    parts = [
        """
WITH ns AS (SELECT DISTINCT doc_id % 401 AS u FROM documents),
raw AS (
  SELECT u AS x, (u * 7 + 3) % 401 AS y FROM ns
  UNION ALL SELECT u, (u + 1) % 401 FROM ns
),
e AS (SELECT DISTINCT x AS u, y AS v FROM raw WHERE x <> y),
und AS (SELECT DISTINCT u, v FROM (SELECT u, v FROM e UNION ALL SELECT v, u FROM e)),
nodes AS (SELECT DISTINCT u AS node FROM und),
l0 AS (SELECT node, node AS label FROM nodes)"""
    ]
    for i in range(1, iters + 1):
        p = i - 1
        parts.append(
            f""",
c{i} AS (SELECT und.u AS node, l.label, count(*) AS c
        FROM und JOIN l{p} l ON l.node = und.v GROUP BY und.u, l.label),
b{i} AS (SELECT node, label AS nl FROM (
          SELECT node, label,
                 row_number() OVER (PARTITION BY node ORDER BY c DESC, label ASC) AS rn
          FROM c{i}) WHERE rn = 1),
l{i} AS (SELECT l.node, COALESCE(b.nl, l.label) AS label
        FROM l{p} l LEFT JOIN b{i} b ON b.node = l.node)"""
        )
    parts.append(f"\nSELECT node, label FROM l{iters}")
    return "".join(parts)


_LABEL_PROPAGATION_SQL = _label_propagation_sql()


def _random_walks_docs(spark, sf):
    """Deterministic DeepWalk corpus (ops/graph_algs.random_walks): 2
    walks of 3 hops from every non-sink node, each hop a salted-md5 draw
    over row_number-ranked out-neighbors — rerun/partitioning-stable and
    engine-portable, so the unrolled-SQL oracle replays every hop
    (never rand(): the split_assign/cap_per_group determinism contract,
    extended to an iterative traversal)."""
    from kgspark.ops.graph_algs import random_walks

    d = _t(spark, sf, "documents").select((F.col("doc_id") % 401).alias("u")).distinct()
    raw = (
        d.select(F.col("u").alias("x"), ((F.col("u") * 7 + 3) % 401).alias("y"))
        .unionAll(d.select(F.col("u"), (F.col("u") * 13 + 5) % 401))
    ).filter(F.col("x") != F.col("y"))
    return random_walks(raw, walk_length=3, num_walks=2, src="x", dst="y")


def _random_walks_sql(steps: int = 3, num_walks: int = 2, salt: str = "walk-v1") -> str:
    digits = "0123456789abcdef"

    def expansion(h: str) -> str:
        return " + ".join(
            f"CAST(strpos('{digits}', substr({h}, {j + 1}, 1)) - 1 AS BIGINT) * {16 ** (14 - j)}"
            for j in range(15)
        )

    reps = ", ".join(str(r) for r in range(num_walks))
    parts = [
        f"""
WITH ns AS (SELECT DISTINCT doc_id % 401 AS u FROM documents),
raw AS (
  SELECT u AS x, (u * 7 + 3) % 401 AS y FROM ns
  UNION ALL SELECT u, (u * 13 + 5) % 401 FROM ns
),
e AS (SELECT DISTINCT x AS cur, y AS nxt FROM raw WHERE x <> y),
nbr AS (SELECT cur, nxt,
               row_number() OVER (PARTITION BY cur ORDER BY nxt) AS rnk FROM e),
degs AS (SELECT cur, count(*) AS deg FROM e GROUP BY cur),
f0 AS (SELECT CAST(cur AS VARCHAR) || '#' || CAST(rep AS VARCHAR) AS walk_id, cur
       FROM degs, (SELECT unnest([{reps}]) AS rep))"""
    ]
    for t in range(1, steps + 1):
        p = t - 1
        parts.append(
            f""",
h{t} AS (SELECT walk_id, cur,
               substr(md5(walk_id || '|{t}|{salt}'), 1, 15) AS h FROM f{p}),
f{t} AS (SELECT f.walk_id, n.nxt AS cur
        FROM h{t} f JOIN degs d ON d.cur = f.cur
        JOIN nbr n ON n.cur = f.cur
         AND n.rnk = ({expansion('f.h')}) % d.deg + 1)"""
        )
    sel = ["SELECT walk_id, 0 AS step, cur AS node FROM f0"]
    for t in range(1, steps + 1):
        sel.append(f"SELECT walk_id, {t}, cur FROM f{t}")
    parts.append("\n" + "\nUNION ALL ".join(sel))
    return "".join(parts)


_RANDOM_WALKS_SQL = _random_walks_sql()


def _bpe_pair_counts(spark, sf):
    """BPE training's inner quantity (ops/bpe.pair_counts): adjacent
    character-pair frequencies weighted by word frequency over the
    corpus vocab table — the first-iteration argmax input, fully
    replayed by the DuckDB oracle (substr pairs over the same
    lowercased whitespace tokenization)."""
    from kgspark.ops.bpe import char_symbols, pair_counts, word_freqs

    d = _t(spark, sf, "documents")
    w = word_freqs(d).select("word", "freq", char_symbols("word").alias("syms"))
    return pair_counts(w)


_BPE_PAIR_COUNTS_SQL = """
WITH toks AS (
  SELECT unnest(string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ')) AS word
  FROM documents WHERE text IS NOT NULL
),
freqs AS (SELECT word, count(*) AS f FROM toks WHERE word <> '' GROUP BY word),
pairs AS (
  SELECT substr(word, i, 1) AS a, substr(word, i + 1, 1) AS b, f
  FROM freqs, LATERAL (SELECT unnest(range(1, length(word))) AS i) u
  WHERE length(word) >= 2
)
SELECT a, b, CAST(sum(f) AS BIGINT) AS cnt FROM pairs GROUP BY a, b
"""


def _bpe_encode_docs(spark, sf):
    """End-to-end distributed BPE (ops/bpe): train 10 merges on the
    corpus vocab (per-merge argmax is tie-broken lexicographically —
    deterministic), then encode every document via the segmentation
    join with character fallback. The merge loop's sequential argmax
    isn't SQL-expressible, so the query is witness-pinned (the
    established no-oracle contract); pair counting itself is
    oracle-checked by `bpe_pair_counts`."""
    from kgspark.ops.bpe import bpe_encode, bpe_train, word_freqs

    d = _t(spark, sf, "documents")
    _, seg = bpe_train(word_freqs(d), num_merges=10)
    out = bpe_encode(d, seg).select(
        "doc_id",
        "n_tokens",
        F.concat_ws(" ", F.slice("tokens", 1, 8)).alias("head"),
    )
    return _witnessed(out, "bpe_encode_docs", sf)


def _transe_train_kg(spark, sf):
    """KG-embedding training (ops/transe.transe_train): 2 full-batch
    fixed-point TransE epochs over the nation->IN_REGION->region graph,
    dim 4 — init, corruption draw, scores, hinge, and gradient updates
    are ALL exact integer arithmetic, so the DuckDB oracle unrolls the
    entire training run in SQL and hash-matches the final embeddings
    bit-for-bit (the pagerank_tpch determinism contract, extended from
    one iterative aggregate to a full learning loop)."""
    from kgspark.ops.transe import transe_train

    n, r = _t(spark, sf, "nation"), _t(spark, sf, "region")
    edges = n.join(r, n.n_regionkey == r.r_regionkey).select(
        F.col("n_name").alias("src_id"),
        F.lit("IN_REGION").alias("rel"),
        F.col("r_name").alias("dst_id"),
    )
    ent, rel = transe_train(edges, dim=4, epochs=2)
    return ent.select(
        F.lit("e").alias("kind"), "id", F.posexplode("vec").alias("d", "v")
    ).unionAll(
        rel.select(F.lit("r").alias("kind"), "id", F.posexplode("vec").alias("d", "v"))
    )


def _transe_sql(
    dim: int = 4,
    epochs: int = 2,
    lr: int = 10_000,
    margin: int = 1_000_000,
    amp: int = 500_000,
    scale: int = 1_000_000,
    init_salt: str = "transe-init-v1",
    neg_salt: str = "transe-neg-v1",
    t_sql: str = (
        "SELECT DISTINCT n_name AS s, 'IN_REGION' AS r, r_name AS o\n"
        "  FROM nation JOIN region ON n_regionkey = r_regionkey"
    ),
    final: str | None = None,
) -> str:
    digits = "0123456789abcdef"

    def expansion(h: str) -> str:
        return " + ".join(
            f"CAST(strpos('{digits}', substr({h}, {j + 1}, 1)) - 1 AS BIGINT) * {16 ** (14 - j)}"
            for j in range(15)
        )

    def fdiv(x: str) -> str:
        return (
            f"CAST(({x} - ((({x}) % {scale}) + {scale}) % {scale}) / {scale} AS BIGINT)"
        )

    span = 2 * amp + 1
    parts = [
        f"""
WITH t AS MATERIALIZED (
  {t_sql}
),
ents AS MATERIALIZED (SELECT DISTINCT id FROM (SELECT s AS id FROM t UNION ALL SELECT o FROM t)),
rels AS (SELECT DISTINCT r AS id FROM t),
dims AS (SELECT CAST(u.i AS INT) AS d FROM unnest(range(0, {dim})) u(i)),
e0 AS MATERIALIZED (
  SELECT 'e' AS kind, id, d, (({expansion('h')}) % {span}) - {amp} AS v
  FROM (SELECT id, d, md5(concat_ws('|', '{init_salt}', id, CAST(d AS VARCHAR))) AS h
        FROM ents, dims)
  UNION ALL
  SELECT 'r', id, d, (({expansion('h')}) % {span}) - {amp}
  FROM (SELECT id, d, md5(concat_ws('|', '{init_salt}', id, CAST(d AS VARCHAR))) AS h
        FROM rels, dims)
),
idxn AS (SELECT id AS cand, row_number() OVER (ORDER BY id) - 1 AS idx FROM ents),
nn AS (SELECT count(*) AS n FROM ents),
pr AS (SELECT s, r, o, ({expansion('h')}) % (SELECT n FROM nn) AS idx
       FROM (SELECT s, r, o, md5(concat_ws('|', '{neg_salt}', s, r, o, '0')) AS h FROM t)),
pairs AS MATERIALIZED (
  SELECT p.s, p.r, p.o, i.cand AS oneg
  FROM pr p JOIN idxn i USING (idx)
  LEFT JOIN t t2 ON t2.s = p.s AND t2.r = p.r AND t2.o = i.cand
  WHERE t2.s IS NULL
)"""
    ]
    for t in range(1, epochs + 1):
        p = t - 1
        parts.append(
            f""",
pe{t} AS MATERIALIZED (
  SELECT p.s, p.r, p.o, p.oneg, es.d,
         es.v + rr.v - eo.v AS dp, es.v + rr.v - en.v AS dn
  FROM pairs p
  JOIN e{p} es ON es.kind = 'e' AND es.id = p.s
  JOIN e{p} eo ON eo.kind = 'e' AND eo.id = p.o AND eo.d = es.d
  JOIN e{p} en ON en.kind = 'e' AND en.id = p.oneg AND en.d = es.d
  JOIN e{p} rr ON rr.kind = 'r' AND rr.id = p.r AND rr.d = es.d
),
sc{t} AS (SELECT s, r, o, oneg,
                 CAST(sum({fdiv('(dp*dp)')}) AS BIGINT) AS fp,
                 CAST(sum({fdiv('(dn*dn)')}) AS BIGINT) AS fn
          FROM pe{t} GROUP BY s, r, o, oneg),
act{t} AS (SELECT s, r, o, oneg FROM sc{t} WHERE {margin} + fp - fn > 0),
g{t} AS (SELECT pe.s, pe.r, pe.o, pe.oneg, pe.d,
                {fdiv(f'(2*dp*{lr})')} AS gp, {fdiv(f'(2*dn*{lr})')} AS gn
         FROM pe{t} pe JOIN act{t} a
           ON a.s = pe.s AND a.r = pe.r AND a.o = pe.o AND a.oneg = pe.oneg),
c{t} AS (
  SELECT 'e' AS kind, s AS id, d, gp - gn AS g FROM g{t}
  UNION ALL SELECT 'e', o, d, -gp FROM g{t}
  UNION ALL SELECT 'e', oneg, d, gn FROM g{t}
  UNION ALL SELECT 'r', r, d, gp - gn FROM g{t}),
gr{t} AS (SELECT kind, id, d, CAST(sum(g) AS BIGINT) AS g FROM c{t} GROUP BY kind, id, d),
e{t} AS MATERIALIZED (SELECT e.kind, e.id, e.d, e.v - COALESCE(gr.g, 0) AS v
         FROM e{p} e LEFT JOIN gr{t} gr
           ON gr.kind = e.kind AND gr.id = e.id AND gr.d = e.d)"""
        )
    if final is None:
        final = f"\nSELECT kind, id, d, CAST(v AS BIGINT) AS v FROM e{epochs}"
    parts.append(final.format(E=f"e{epochs}", FDIV_X=fdiv("(X)")))
    return "".join(parts)


_TRANSE_TRAIN_SQL = _transe_sql()


def _kmeans_sql(
    k: int = 4,
    n_iter: int = 2,
    dim: int = 64,
    scale: int = 1000,
    salt: str = "kmeans-init-v1",
    src: str = "SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings",
    final: str = "SELECT cluster, CAST(count(*) AS BIGINT) AS size FROM afin GROUP BY cluster",
) -> str:
    """DuckDB replay of ops/kmeans.kmeans_assign — the Lloyd loop unrolled
    as one CTE per (assign, update) round, bit-for-bit against the Spark
    integer fixed-point implementation (floor quantization, portable md5
    init rank, smaller-cluster tie-break, floor-division centroid update,
    empty clusters carried). Same pattern as ``_transe_sql``."""
    digits = "0123456789abcdef"
    expansion = " + ".join(
        f"CAST(strpos('{digits}', substr(h, {j + 1}, 1)) - 1 AS BIGINT) * {16 ** (14 - j)}"
        for j in range(15)
    )
    parts = [
        f"""
WITH base AS MATERIALIZED (
  SELECT id, list_transform(emb, x -> CAST(floor(x * {scale}) AS BIGINT)) AS q
  FROM ({src})
),
dims AS (SELECT CAST(u.i AS INT) AS pos FROM unnest(range(0, {dim})) u(i)),
qd AS MATERIALIZED (
  SELECT id, pos, q[pos + 1] AS v FROM base, dims
),
init AS (
  SELECT id, row_number() OVER (ORDER BY ({expansion}), id) - 1 AS c
  FROM (SELECT id, md5(concat_ws('|', '{salt}', CAST(id AS VARCHAR))) AS h FROM base)
),
cd0 AS MATERIALIZED (
  SELECT i.c, qd.pos, qd.v FROM init i JOIN qd ON qd.id = i.id WHERE i.c < {k}
)"""
    ]
    for t in range(1, n_iter + 1):
        p = t - 1
        parts.append(
            f""",
d{t} AS (
  SELECT qd.id, cd.c, sum((qd.v - cd.v) * (qd.v - cd.v)) AS dist
  FROM qd JOIN cd{p} cd USING (pos) GROUP BY qd.id, cd.c
),
a{t} AS (
  SELECT id, c FROM (
    SELECT id, c, row_number() OVER (PARTITION BY id ORDER BY dist, c) AS rn FROM d{t}
  ) WHERE rn = 1
),
u{t} AS MATERIALIZED (
  SELECT a.c, qd.pos, sum(qd.v) AS s, count(*) AS n
  FROM a{t} a JOIN qd ON qd.id = a.id GROUP BY a.c, qd.pos
),
cd{t} AS MATERIALIZED (
  SELECT c, pos, CAST((s - (((s % n) + n) % n)) // n AS BIGINT) AS v FROM u{t}
  UNION ALL
  SELECT c, pos, v FROM cd{p} WHERE c NOT IN (SELECT DISTINCT c FROM u{t})
)"""
        )
    parts.append(
        f""",
dfin AS (
  SELECT qd.id, cd.c, sum((qd.v - cd.v) * (qd.v - cd.v)) AS dist
  FROM qd JOIN cd{n_iter} cd USING (pos) GROUP BY qd.id, cd.c
),
afin AS MATERIALIZED (
  SELECT id, c AS cluster FROM (
    SELECT id, c, row_number() OVER (PARTITION BY id ORDER BY dist, c) AS rn FROM dfin
  ) WHERE rn = 1
)
{final}"""
    )
    return "".join(parts)


_SEMDEDUP_SRC_SQL = """SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings
  UNION ALL
  SELECT vec_id + 100000, list_transform(CAST(embedding AS DOUBLE[]), x -> x * 0.9)
  FROM embeddings WHERE vec_id % 25 = 0"""

_SEMDEDUP_FINAL_SQL = """,
nrm AS (SELECT id, sum(v * v) AS n2 FROM qd GROUP BY id),
prs AS (
  SELECT x.id AS a, y.id AS b, x.cluster
  FROM afin x JOIN afin y ON x.cluster = y.cluster AND x.id < y.id
),
dots AS (
  SELECT p.a, p.b, p.cluster, sum(qa.v * qb.v) AS dot
  FROM prs p
  JOIN qd qa ON qa.id = p.a
  JOIN qd qb ON qb.id = p.b AND qb.pos = qa.pos
  GROUP BY p.a, p.b, p.cluster
)
SELECT d.a, d.b, d.cluster
FROM dots d JOIN nrm na ON na.id = d.a JOIN nrm nb ON nb.id = d.b
WHERE na.n2 > 0 AND nb.n2 > 0 AND d.dot > 0
  AND 1000000 * d.dot * d.dot >= {t2} * na.n2 * nb.n2"""

_KMEANS_CLUSTERS_SQL = _kmeans_sql()
_SEMDEDUP_SQL = _kmeans_sql(
    src=_SEMDEDUP_SRC_SQL, final=_SEMDEDUP_FINAL_SQL.format(t2=990 * 990)
)


def _kmeans_clusters_emb(spark, sf):
    """Integer fixed-point Lloyd k-means (ops/kmeans) over the embeddings
    table: cluster sizes under the final centroids. Deterministic by
    construction (portable md5 init, smaller-cluster tie-break, floor-
    division updates) — the DuckDB oracle unrolls both Lloyd rounds
    bit-for-bit, the same way the TransE oracle unrolls epochs."""
    from kgspark.ops.kmeans import kmeans_assign

    e = _t(spark, sf, "embeddings")
    a = kmeans_assign(e, k=4, n_iter=2)
    return a.groupBy("cluster").agg(F.count(F.lit(1)).alias("size"))


def _semdedup_emb(spark, sf):
    """SemDeDup (Abbas et al. 2023): k-means partitions the corpus, exact
    integer cosine finds near-dup pairs WITHIN clusters only — the cluster
    key bounds the self-join so pair volume is sum(cluster_size^2), never
    n^2. Planted near-dups: every 25th vector re-enters scaled by 0.9
    (same direction -> cosine ~1), which the threshold-990 gate must
    recover. Division- and sqrt-free predicate (1e6*dot^2 >= t^2*|a|^2*
    |b|^2), exact in int64 — the oracle replays it verbatim."""
    from kgspark.ops.kmeans import semdedup_pairs

    e = _t(spark, sf, "embeddings").select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("embedding"),
    )
    planted = e.filter(F.col("vec_id") % 25 == 0).select(
        (F.col("vec_id") + 100000).alias("vec_id"),
        F.transform("embedding", lambda x: x * F.lit(0.9)).alias("embedding"),
    )
    return semdedup_pairs(
        e.unionByName(planted), k=4, n_iter=2, threshold_milli=990
    )


def _lp_eval_sql(dim: int = 4, epochs: int = 2, scale: int = 1_000_000) -> str:
    def fdiv(x: str) -> str:
        return (
            f"CAST(({x} - ((({x}) % {scale}) + {scale}) % {scale}) / {scale} AS BIGINT)"
        )

    diff = "(es.v + rr.v - ec.v)"
    final = f""",
pairs2 AS (
  SELECT t.s, t.r, t.o, c.id AS cand
  FROM t, ents c
  WHERE NOT EXISTS (SELECT 1 FROM t k
                    WHERE k.s = t.s AND k.r = t.r AND k.o = c.id AND c.id <> t.o)
),
scq AS MATERIALIZED (
  SELECT p.s, p.r, p.o, p.cand,
         CAST(sum({fdiv(f'({diff}*{diff})')}) AS BIGINT) AS score
  FROM pairs2 p
  JOIN {{E}} es ON es.kind = 'e' AND es.id = p.s
  JOIN {{E}} ec ON ec.kind = 'e' AND ec.id = p.cand AND ec.d = es.d
  JOIN {{E}} rr ON rr.kind = 'r' AND rr.id = p.r AND rr.d = es.d
  GROUP BY p.s, p.r, p.o, p.cand
),
tru AS (SELECT s, r, o, score AS ts FROM scq WHERE cand = o)
SELECT q.s, q.r, q.o,
       CAST(1 + count(CASE WHEN q.score < tru.ts
                            OR (q.score = tru.ts AND q.cand < q.o)
                           THEN 1 END) AS BIGINT) AS rank
FROM scq q JOIN tru ON q.s = tru.s AND q.r = tru.r AND q.o = tru.o
GROUP BY q.s, q.r, q.o"""
    return _transe_sql(
        dim=dim,
        epochs=epochs,
        scale=scale,
        t_sql=(
            "SELECT DISTINCT r_name AS s, 'HAS_NATION' AS r, n_name AS o\n"
            "  FROM nation JOIN region ON n_regionkey = r_regionkey"
        ),
        final=final,
    )


_LP_EVAL_SQL = _lp_eval_sql()


def _lp_eval_kg(spark, sf):
    """Link-prediction evaluation (ops/transe.link_prediction_ranks,
    FILTERED setting): train 2 fixed-point TransE epochs on the
    region->HAS_NATION->nation graph (5 true destinations per source, so
    the filtered setting actually removes competitors), then rank every
    true destination among all entities with deterministic id
    tie-breaking. Scores are exact integers, so the DuckDB oracle
    replays training AND ranking end to end."""
    from kgspark.ops.transe import link_prediction_ranks, transe_train

    n, r = _t(spark, sf, "nation"), _t(spark, sf, "region")
    edges = n.join(r, n.n_regionkey == r.r_regionkey).select(
        F.col("r_name").alias("src_id"),
        F.lit("HAS_NATION").alias("rel"),
        F.col("n_name").alias("dst_id"),
    )
    ent, rel = transe_train(edges, dim=4, epochs=2)
    return link_prediction_ranks(edges, ent, rel, filter_triples=edges).select(
        F.col("s"), F.col("r"), F.col("o"), F.col("rank")
    )


def _bm25_docs(spark, sf):
    """BM25 sparse retrieval (ops/textstats.bm25_rank) for the query
    {hash, join, spark} over the documents corpus — the keyword tier of
    a hybrid RAG stack next to the dense ANN tier. The idf log is
    rounded once per TERM to millinats; every per-(doc, term)
    contribution is exact bigint `div` arithmetic, so per-doc sums
    commute and the oracle hash-matches (incl. the micro->double score
    division, exact below 2^53)."""
    from kgspark.ops.textstats import bm25_rank

    return bm25_rank(_t(spark, sf, "documents"), ["hash", "join", "spark"])


_BM25_DOCS_SQL = """
WITH toks AS (
  SELECT doc_id,
         unnest(string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ')) AS term
  FROM documents WHERE text IS NOT NULL
),
t2 AS (SELECT doc_id, term FROM toks WHERE term <> ''),
dl AS (SELECT doc_id, count(*) AS dl FROM t2 GROUP BY doc_id),
tot AS (SELECT count(*) AS n, CAST(sum(dl) AS BIGINT) AS t FROM dl),
qt AS (SELECT doc_id, term FROM t2 WHERE term IN ('hash', 'join', 'spark')),
tf AS (SELECT doc_id, term, count(*) AS tf FROM qt GROUP BY doc_id, term),
dfq AS (SELECT term, count(DISTINCT doc_id) AS df FROM qt GROUP BY term),
idf AS (SELECT term,
               CAST(round(ln(1 + ((SELECT n FROM tot) - df + 0.5) / (df + 0.5)) * 1000)
                    AS BIGINT) AS idf_milli
        FROM dfq),
sc AS (
  SELECT tf.doc_id, tf.term, tf.tf,
         (1000 * dl.dl * (SELECT n FROM tot)) // (SELECT t FROM tot) AS r1
  FROM tf JOIN dl ON tf.doc_id = dl.doc_id
),
sc2 AS (SELECT doc_id, term, tf, 250 + (750 * r1) // 1000 AS norm_milli FROM sc),
sc3 AS (SELECT doc_id, term, tf, 1000 * tf + (1200 * norm_milli) // 1000 AS denom_milli
        FROM sc2),
sc4 AS (SELECT doc_id,
               (idf.idf_milli * tf * 2200 * 1000) // denom_milli AS contrib_micro
        FROM sc3 JOIN idf ON sc3.term = idf.term)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_matched_terms,
       CAST(sum(contrib_micro) AS BIGINT) AS score_micro,
       CAST(sum(contrib_micro) AS BIGINT) / 1000000.0 AS score
FROM sc4 GROUP BY doc_id
"""


def _landmark_distance_docs(spark, sf):
    """Landmark shortest-path precompute (ops/graph_algs.
    landmark_distances): exact 3-hop multi-source BFS from 3 landmarks
    over the synthetic doc graph, fixed rounds with zero driver actions —
    min-over-set semantics make the result partitioning-invariant and the
    unrolled-SQL oracle replays every relaxation round."""
    from kgspark.ops.graph_algs import landmark_distances

    d = _t(spark, sf, "documents").select((F.col("doc_id") % 401).alias("u")).distinct()
    raw = d.select(F.col("u").alias("x"), ((F.col("u") * 7 + 3) % 401).alias("y")).unionAll(
        d.filter(F.col("u") < 100).select(F.col("u"), (F.col("u") + 1) % 401)
    )
    lms = d.filter(F.col("u").isin(0, 7, 13)).select(F.col("u").alias("landmark"))
    return landmark_distances(raw, lms, max_hops=3, src="x", dst="y")


def _landmark_sql(hops: int = 3) -> str:
    parts = [
        """
WITH ns AS (SELECT DISTINCT doc_id % 401 AS u FROM documents),
raw AS (
  SELECT u AS x, (u * 7 + 3) % 401 AS y FROM ns
  UNION ALL SELECT u, (u + 1) % 401 FROM ns WHERE u < 100
),
e AS (SELECT DISTINCT u, v FROM (
        SELECT x AS u, y AS v FROM raw UNION ALL SELECT y, x FROM raw)
      WHERE u <> v),
d0 AS (SELECT u AS landmark, u AS node, 0 AS dist FROM ns WHERE u IN (0, 7, 13))"""
    ]
    for t in range(1, hops + 1):
        p = t - 1
        parts.append(
            f""",
d{t} AS (SELECT landmark, node, min(dist) AS dist FROM (
          SELECT landmark, node, dist FROM d{p}
          UNION ALL SELECT d.landmark, e.v, d.dist + 1 FROM d{p} d JOIN e ON e.u = d.node)
        GROUP BY landmark, node)"""
        )
    parts.append(
        f"\nSELECT landmark, node, CAST(dist AS BIGINT) AS dist FROM d{hops}"
    )
    return "".join(parts)


_LANDMARK_DISTANCE_SQL = _landmark_sql()


def _node2vec_docs(spark, sf):
    """node2vec biased walks (ops/graph_algs.node2vec_walks): 3-hop
    second-order walks with return p=4.0 / in-out q=0.5 over a
    symmetrized synthetic doc graph. The cumulative-milli-weight draw is
    pure integer arithmetic over a salted md5, so the DuckDB oracle
    replays every biased hop — including the triangle test — hop for
    hop."""
    from kgspark.ops.graph_algs import node2vec_walks

    d = _t(spark, sf, "documents").select((F.col("doc_id") % 211).alias("u")).distinct()
    raw = d.select(F.col("u").alias("x"), ((F.col("u") * 7 + 3) % 211).alias("y")).unionAll(
        d.select(F.col("u"), (F.col("u") * 13 + 5) % 211)
    )
    sym = raw.unionAll(raw.select(F.col("y").alias("x"), F.col("x").alias("y")))
    return node2vec_walks(
        sym, walk_length=3, num_walks=1, p_milli=4000, q_milli=500, src="x", dst="y"
    )


def _node2vec_sql(
    steps: int = 3, p_milli: int = 4000, q_milli: int = 500, salt: str = "n2v-v1"
) -> str:
    digits = "0123456789abcdef"

    def expansion(h: str) -> str:
        return " + ".join(
            f"CAST(strpos('{digits}', substr({h}, {j + 1}, 1)) - 1 AS BIGINT) * {16 ** (14 - j)}"
            for j in range(15)
        )

    w_ret = (1000 * 1000) // p_milli
    w_com = 1000
    w_out = (1000 * 1000) // q_milli
    parts = [
        f"""
WITH ns AS (SELECT DISTINCT doc_id % 211 AS u FROM documents),
raw AS (
  SELECT u AS x, (u * 7 + 3) % 211 AS y FROM ns
  UNION ALL SELECT u, (u * 13 + 5) % 211 FROM ns
),
sym AS (SELECT x, y FROM raw UNION ALL SELECT y, x FROM raw),
e AS MATERIALIZED (SELECT DISTINCT x AS cur, y AS nxt FROM sym WHERE x <> y),
nbr AS (SELECT cur, nxt, row_number() OVER (PARTITION BY cur ORDER BY nxt) AS rnk FROM e),
degs AS (SELECT cur, count(*) AS deg FROM e GROUP BY cur),
s0 AS (SELECT CAST(cur AS VARCHAR) || '#0' AS walk_id, cur FROM degs),
h1 AS (SELECT walk_id, cur, substr(md5(walk_id || '|1|{salt}'), 1, 15) AS h FROM s0),
f1 AS (SELECT f.walk_id, f.cur AS prev, n.nxt AS cur
       FROM h1 f JOIN degs d ON d.cur = f.cur
       JOIN nbr n ON n.cur = f.cur AND n.rnk = ({expansion('f.h')}) % d.deg + 1)"""
    ]
    for t in range(2, steps + 1):
        p = t - 1
        parts.append(
            f""",
cd{t} AS (
  SELECT f.walk_id, f.prev, f.cur, n.nxt AS x,
         CASE WHEN n.nxt = f.prev THEN {w_ret}
              WHEN tri.cur IS NOT NULL THEN {w_com}
              ELSE {w_out} END AS wt
  FROM f{p} f
  JOIN e n ON n.cur = f.cur
  LEFT JOIN e tri ON tri.cur = f.prev AND tri.nxt = n.nxt
),
sc{t} AS (SELECT walk_id, cur, x, wt,
                 CAST(sum(wt) OVER (PARTITION BY walk_id ORDER BY x
                      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cumw,
                 CAST(sum(wt) OVER (PARTITION BY walk_id) AS BIGINT) AS tot,
                 substr(md5(walk_id || '|{t}|{salt}'), 1, 15) AS h
          FROM cd{t}),
f{t} AS (SELECT walk_id, cur AS prev, x AS cur FROM sc{t}
        WHERE ({expansion('h')}) % tot < cumw
          AND ({expansion('h')}) % tot >= cumw - wt)"""
        )
    sel = ["SELECT walk_id, 0 AS step, cur AS node FROM s0"]
    sel.append("SELECT walk_id, 1, cur FROM f1")
    for t in range(2, steps + 1):
        sel.append(f"SELECT walk_id, {t}, cur FROM f{t}")
    parts.append("\n" + "\nUNION ALL ".join(sel))
    return "".join(parts)


_NODE2VEC_SQL = _node2vec_sql()


def _harmonic_docs(spark, sf):
    """Landmark-sampled harmonic centrality (ops/graph_algs.
    harmonic_centrality): exact-integer floor(scale/dist) terms summed
    per node over the verified landmark-BFS table — one extra
    map-side-combinable aggregate, oracle replays the BFS rounds plus
    the fold."""
    from kgspark.ops.graph_algs import harmonic_centrality

    d = _t(spark, sf, "documents").select((F.col("doc_id") % 401).alias("u")).distinct()
    raw = d.select(F.col("u").alias("x"), ((F.col("u") * 7 + 3) % 401).alias("y")).unionAll(
        d.filter(F.col("u") < 100).select(F.col("u"), (F.col("u") + 1) % 401)
    )
    lms = d.filter(F.col("u").isin(0, 7, 13)).select(F.col("u").alias("landmark"))
    return harmonic_centrality(raw, lms, max_hops=3, src="x", dst="y")


_HARMONIC_DOCS_SQL = (
    _landmark_sql().replace(
        "\nSELECT landmark, node, CAST(dist AS BIGINT) AS dist FROM d3",
        """,
hc AS (SELECT node, 1000000 // dist AS h FROM d3 WHERE dist > 0)
SELECT node, CAST(sum(h) AS BIGINT) AS centrality_units FROM hc GROUP BY node""",
    )
)


def _link_scores_docs(spark, sf):
    """Neighborhood link-prediction heuristics (ops/graph_algs.
    link_prediction_scores): exact-integer common-neighbor / resource-
    allocation / Jaccard scores for every non-adjacent pair with a shared
    neighbor — the classic baselines next to transe_train_kg/lp_eval_kg.
    The oracle replays the wedge join, RA floor-div fold, existing-edge
    anti-join, and Jaccard floor-div bit for bit."""
    from kgspark.ops.graph_algs import link_prediction_scores

    d = _t(spark, sf, "documents").select((F.col("doc_id") % 401).alias("u")).distinct()
    raw = d.select(F.col("u").alias("x"), ((F.col("u") * 7 + 3) % 401).alias("y")).unionAll(
        d.select(F.col("u"), (F.col("u") + 1) % 401)
    )
    return link_prediction_scores(raw, "x", "y").select(
        F.col("x").cast("long").alias("x"),
        F.col("y").cast("long").alias("y"),
        F.col("cn").cast("long").alias("cn"),
        "ra_units",
        F.col("jacc_units").cast("long").alias("jacc_units"),
    )


_LINK_SCORES_SQL = """
WITH nodes AS (SELECT DISTINCT doc_id % 401 AS u FROM documents),
raw AS (
  SELECT u AS x, (u * 7 + 3) % 401 AS y FROM nodes
  UNION ALL SELECT u, (u + 1) % 401 FROM nodes
),
e AS (SELECT DISTINCT least(x, y) AS a, greatest(x, y) AS b FROM raw WHERE x <> y),
deg AS (
  SELECT n, count(*) AS d FROM (
    SELECT a AS n FROM e UNION ALL SELECT b FROM e
  ) GROUP BY n
),
cen AS (
  SELECT adj.z, deg.d AS dz, adj.n FROM (
    SELECT a AS z, b AS n FROM e UNION ALL SELECT b, a FROM e
  ) adj JOIN deg ON deg.n = adj.z
),
ps AS (
  SELECT s1.n AS x, s2.n AS y, count(*) AS cn,
         sum(1000000 // s1.dz) AS ra_units
  FROM cen s1 JOIN cen s2 ON s1.z = s2.z AND s1.n < s2.n
  GROUP BY s1.n, s2.n
),
op AS (
  SELECT * FROM ps WHERE NOT EXISTS (
    SELECT 1 FROM e WHERE e.a = ps.x AND e.b = ps.y
  )
)
SELECT CAST(op.x AS BIGINT) AS x, CAST(op.y AS BIGINT) AS y,
       CAST(op.cn AS BIGINT) AS cn, CAST(op.ra_units AS BIGINT) AS ra_units,
       CAST((1000000 * op.cn) // (dx.d + dy.d - op.cn) AS BIGINT) AS jacc_units
FROM op JOIN deg dx ON dx.n = op.x JOIN deg dy ON dy.n = op.y
"""


def _clustering_coeff_docs(spark, sf):
    """Local clustering coefficient (ops/graph_algs.clustering_coefficient):
    exact-integer floor(scale*2*tri/(deg*(deg-1))) riding on the verified
    degree-ordered triangle counter — same synthetic 401-node graph as
    triangle_count_docs, oracle recounts triangles per corner and replays
    the floor-div."""
    from kgspark.ops.graph_algs import clustering_coefficient

    d = _t(spark, sf, "documents").select((F.col("doc_id") % 401).alias("u")).distinct()
    raw = (
        d.select(F.col("u").alias("x"), ((F.col("u") * 7 + 3) % 401).alias("y"))
        .unionAll(d.select(F.col("u"), (F.col("u") * 13 + 5) % 401))
        .unionAll(d.select(F.col("u"), (F.col("u") + 1) % 401))
    )
    return clustering_coefficient(raw, "x", "y").select(
        F.col("node").cast("long").alias("node"),
        "triangles",
        F.col("deg").cast("long").alias("deg"),
        "cc_units",
    )


_CLUSTERING_COEFF_SQL = """
WITH nodes AS (SELECT DISTINCT doc_id % 401 AS u FROM documents),
raw AS (
  SELECT u AS x, (u * 7 + 3) % 401 AS y FROM nodes
  UNION ALL SELECT u, (u * 13 + 5) % 401 FROM nodes
  UNION ALL SELECT u, (u + 1) % 401 FROM nodes
),
e AS (SELECT DISTINCT least(x, y) AS a, greatest(x, y) AS b FROM raw WHERE x <> y),
deg AS (
  SELECT n, count(*) AS d FROM (
    SELECT a AS n FROM e UNION ALL SELECT b FROM e
  ) GROUP BY n
),
tri AS (
  SELECT e1.a AS x, e1.b AS y, e2.b AS z
  FROM e e1 JOIN e e2 ON e2.a = e1.b JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b
),
pern AS (
  SELECT n, count(*) AS c FROM (
    SELECT x AS n FROM tri UNION ALL SELECT y FROM tri UNION ALL SELECT z FROM tri
  ) GROUP BY n
)
SELECT CAST(deg.n AS BIGINT) AS node,
       CAST(coalesce(p.c, 0) AS BIGINT) AS triangles,
       CAST(deg.d AS BIGINT) AS deg,
       CAST(CASE WHEN deg.d >= 2
                 THEN (1000000 * 2 * coalesce(p.c, 0)) // (deg.d * (deg.d - 1))
                 ELSE 0 END AS BIGINT) AS cc_units
FROM deg LEFT JOIN pern p ON p.n = deg.n
"""


def _repeated_spans_docs(spark, sf):
    """Span-level duplicate-text detection (ops/curation.repeated_spans):
    maximal merged token intervals participating in corpus-repeated
    5-grams — the boilerplate/licence-block shape document-level near-dup
    cannot see. md5-portable hashing; the oracle replays gram positions,
    the corpus hot-count, and the gaps-and-islands merge window."""
    from kgspark.ops.curation import repeated_spans

    d = _t(spark, sf, "documents")
    return repeated_spans(d, n=5, min_count=2, hash="md5").select(
        "doc_id", "span_start", "span_end"
    )


_REPEATED_SPANS_SQL = """
WITH toks AS (
  SELECT doc_id,
         string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS t
  FROM documents WHERE text IS NOT NULL
),
grams AS (
  SELECT doc_id, i AS pos, md5(array_to_string(t[i : i + 4], ' ')) AS h
  FROM toks, LATERAL (SELECT unnest(range(1, greatest(len(t) - 3, 1))) AS i) u
),
hot AS (SELECT h FROM grams GROUP BY h HAVING count(*) >= 2),
hits AS (SELECT doc_id, pos FROM grams JOIN hot USING (h)),
flagged AS (
  SELECT doc_id, pos,
         CASE WHEN pos > coalesce(max(pos + 4) OVER (PARTITION BY doc_id ORDER BY pos
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) + 1
              THEN 1 ELSE 0 END AS ni
  FROM hits
),
islands AS (
  SELECT doc_id, pos,
         sum(ni) OVER (PARTITION BY doc_id ORDER BY pos
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
  FROM flagged
)
SELECT doc_id, CAST(min(pos) AS BIGINT) AS span_start,
       CAST(max(pos) + 4 AS BIGINT) AS span_end
FROM islands GROUP BY doc_id, island
"""


def _unigram_logprob_docs(spark, sf):
    """Corpus-as-unigram-LM quality proxy (ops/textstats.unigram_logprob):
    per-doc mean token log-probability under corpus term frequencies —
    the CCNet perplexity-bucket filter without an external LM. Exact
    fixed-point millinat sums keep the distributed aggregation integer;
    the oracle replays term counts, the bigint log sum, and the single
    final float expression."""
    from kgspark.ops.textstats import unigram_logprob

    return unigram_logprob(_t(spark, sf, "documents"))


_UNIGRAM_LOGPROB_SQL = """
WITH terms AS (
  SELECT doc_id, unnest(string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ')) AS term
  FROM documents WHERE text IS NOT NULL
),
nz AS (SELECT doc_id, term FROM terms WHERE term <> ''),
counts AS (SELECT term, count(*) AS c FROM nz GROUP BY term),
total AS (SELECT sum(c) AS tot FROM counts),
per_doc AS (
  SELECT doc_id, count(*) AS n_tokens,
         sum(CAST(round(ln(c) * 1000, 0) AS BIGINT)) AS s
  FROM nz JOIN counts USING (term)
  GROUP BY doc_id
)
SELECT doc_id, n_tokens,
       round(s / 1000.0 / n_tokens - ln(tot), 6) AS logprob
FROM per_doc, total
"""


def _host_stats_docs(spark, sf):
    """Host-level crawl statistics (ops/curation.url_host as the grouping
    key): deterministic synthetic URLs over documents (ports, userinfo,
    mixed case — the branches url_host strips), grouped per host with doc
    counts and exact char sums. The oracle replays the extraction and the
    aggregate."""
    from kgspark.ops.curation import url_host

    d = _t(spark, sf, "documents")
    url = F.concat(
        F.lit("HTTPS://user:pw@Site"),
        (F.col("doc_id") % 13).cast("string"),
        F.lit(".Example.com:443/p/"),
        F.col("doc_id").cast("string"),
        F.lit("?utm_source=x#f"),
    )
    return (
        d.select(url_host(url).alias("host"), "n_chars")
        .groupBy("host")
        .agg(
            F.count(F.lit(1)).alias("docs"),
            F.sum("n_chars").alias("chars"),
        )
    )


_HOST_STATS_SQL = """
SELECT lower('Site' || CAST(doc_id % 13 AS VARCHAR) || '.Example.com') AS host,
       count(*) AS docs, CAST(sum(n_chars) AS BIGINT) AS chars
FROM documents
GROUP BY 1
"""


def _gopher_flags_docs(spark, sf):
    """Gopher rule bundle (ops/textstats.gopher_quality_flags): every flag
    and the composite pass, replayed exactly by the oracle (token/char
    counts, ellipsis arithmetic, line ratios, stopword hits)."""
    from kgspark.ops.textstats import gopher_quality_flags

    out = gopher_quality_flags(_t(spark, sf, "documents"))
    return out.select(
        "doc_id",
        *[F.col(c).cast("int").alias(c) for c in out.columns if c != "doc_id"],
    )


_GOPHER_FLAGS_SQL = """
WITH base AS (
  SELECT doc_id, text,
         trim(regexp_replace(text, '\\s+', ' ', 'g')) AS norm
  FROM documents
),
feat AS (
  SELECT doc_id, text, norm,
         CASE WHEN norm = '' OR norm IS NULL THEN 0
              ELSE len(string_split(norm, ' ')) END AS n_tokens,
         len(replace(norm, ' ', '')) AS n_chars,
         len(text) - len(replace(text, '#', '')) AS n_hash,
         (len(text) - len(replace(text, '...', ''))) / 3 AS n_ellipsis,
         len(string_split(text, chr(10))) AS n_lines,
         len(list_filter(string_split(text, chr(10)), l -> rtrim(l) LIKE '%...')) AS n_ell_lines,
         len(list_filter(string_split(norm, ' '), w -> regexp_matches(w, '[A-Za-z]'))) AS n_alpha,
         (CASE WHEN ' ' || lower(norm) || ' ' LIKE '% the %' THEN 1 ELSE 0 END
        + CASE WHEN ' ' || lower(norm) || ' ' LIKE '% be %' THEN 1 ELSE 0 END
        + CASE WHEN ' ' || lower(norm) || ' ' LIKE '% to %' THEN 1 ELSE 0 END
        + CASE WHEN ' ' || lower(norm) || ' ' LIKE '% of %' THEN 1 ELSE 0 END
        + CASE WHEN ' ' || lower(norm) || ' ' LIKE '% and %' THEN 1 ELSE 0 END
        + CASE WHEN ' ' || lower(norm) || ' ' LIKE '% that %' THEN 1 ELSE 0 END
        + CASE WHEN ' ' || lower(norm) || ' ' LIKE '% have %' THEN 1 ELSE 0 END
        + CASE WHEN ' ' || lower(norm) || ' ' LIKE '% with %' THEN 1 ELSE 0 END) AS stop_hits
  FROM base
),
flags AS (
  SELECT doc_id,
         coalesce(n_tokens >= 50 AND n_tokens <= 100000, FALSE) AS flag_n_tokens,
         coalesce(n_chars * 1.0 / greatest(n_tokens, 1) >= 3
                  AND n_chars * 1.0 / greatest(n_tokens, 1) <= 10, FALSE) AS flag_mean_word_len,
         coalesce((n_hash + n_ellipsis) * 1.0 / greatest(n_tokens, 1) < 0.1, FALSE) AS flag_hash_ellipsis,
         coalesce(n_ell_lines * 1.0 / greatest(n_lines, 1) < 0.3, FALSE) AS flag_ellipsis_lines,
         coalesce(n_alpha * 1.0 / greatest(n_tokens, 1) >= 0.8, FALSE) AS flag_alpha_words,
         coalesce(stop_hits >= 2, FALSE) AS flag_stopwords
  FROM feat
)
SELECT doc_id,
       CAST(flag_n_tokens AS INT) AS flag_n_tokens,
       CAST(flag_mean_word_len AS INT) AS flag_mean_word_len,
       CAST(flag_hash_ellipsis AS INT) AS flag_hash_ellipsis,
       CAST(flag_ellipsis_lines AS INT) AS flag_ellipsis_lines,
       CAST(flag_alpha_words AS INT) AS flag_alpha_words,
       CAST(flag_stopwords AS INT) AS flag_stopwords,
       CAST(flag_n_tokens AND flag_mean_word_len AND flag_hash_ellipsis
            AND flag_ellipsis_lines AND flag_alpha_words AND flag_stopwords AS INT) AS gopher_pass
FROM flags
"""


def _cap_per_host_docs(spark, sf):
    """Deterministic per-group caps (ops/curation.cap_per_group) over the
    synthetic host grouping: at most 20 docs survive per host, selected by
    the salted md5 hash order the oracle replays digit-for-digit."""
    from kgspark.ops.curation import cap_per_group

    d = _t(spark, sf, "documents").select(
        "doc_id", (F.col("doc_id") % 13).cast("long").alias("host_id")
    )
    out = cap_per_group(d, "host_id", "doc_id", k=20)
    return out.select("doc_id", "host_id", F.col("is_kept").cast("int").alias("is_kept"))


_CAP_PER_HOST_SQL = """
SELECT doc_id, host_id,
       CASE WHEN row_number() OVER (
              PARTITION BY host_id
              ORDER BY md5(CAST(doc_id AS VARCHAR) || '|cap-v1'), doc_id
            ) <= 20 THEN 1 ELSE 0 END AS is_kept
FROM (SELECT doc_id, CAST(doc_id % 13 AS BIGINT) AS host_id FROM documents)
"""


def _line_dedup_docs(spark, sf):
    """Cross-document duplicated-line removal (ops/curation.dedup_lines):
    the C4/RefinedWeb boilerplate-line step, over a deterministic 8-token
    re-lining of the single-line fixture docs (regexp_replace inserts a
    newline after every 8th token — the oracle replays the same regex);
    lines with >=15 trimmed chars appearing verbatim in >=2 distinct docs
    are deleted from every doc, survivors rejoin in original order."""
    from kgspark.ops.curation import dedup_lines

    d = _t(spark, sf, "documents").select(
        "doc_id",
        F.regexp_replace(F.col("text"), r"((\S+ ){7}\S+) ", "$1\n").alias("text"),
    )
    return dedup_lines(d, min_chars=15, min_docs=2)


_LINE_DEDUP_SQL = r"""
WITH docs AS (
  SELECT doc_id,
         regexp_replace(text, '((\S+ ){7}\S+) ', '\1' || chr(10), 'g') AS text
  FROM documents
),
lines AS (
  SELECT doc_id,
         unnest(string_split(text, chr(10))) AS line,
         generate_subscripts(string_split(text, chr(10)), 1) - 1 AS pos
  FROM docs WHERE text IS NOT NULL
),
common AS (
  SELECT line FROM lines
  WHERE length(trim(line)) >= 15
  GROUP BY line HAVING count(DISTINCT doc_id) >= 2
),
kept AS (
  SELECT l.doc_id, l.pos, l.line
  FROM lines l LEFT JOIN common c ON l.line = c.line
  WHERE c.line IS NULL
),
rebuilt AS (
  SELECT doc_id, string_agg(line, chr(10) ORDER BY pos) AS text_deduped
  FROM kept GROUP BY doc_id
),
removed AS (
  SELECT l.doc_id, CAST(count(*) AS BIGINT) AS lines_removed
  FROM lines l JOIN common c ON l.line = c.line
  GROUP BY l.doc_id
)
SELECT d.doc_id,
       CASE WHEN d.text IS NULL THEN NULL
            ELSE coalesce(r.text_deduped, '') END AS text_deduped,
       CAST(coalesce(m.lines_removed, 0) AS BIGINT) AS lines_removed
FROM docs d
LEFT JOIN rebuilt r ON d.doc_id = r.doc_id
LEFT JOIN removed m ON d.doc_id = m.doc_id
"""


def _blocklist_docs(spark, sf):
    """Domain blocklist gate (ops/curation.blocklist_filter): subdomain-
    suffix matching over deterministic synthetic hosts (the host_stats
    pattern) — blocklisted registrable domains block every subdomain,
    plus one exact-subdomain entry and one no-match entry; the oracle
    replays the suffix expansion and the membership join."""
    from kgspark.ops.curation import blocklist_filter

    d = _t(spark, sf, "documents").select(
        "doc_id",
        F.concat(
            F.lit("sub"),
            (F.col("doc_id") % 5).cast("string"),
            F.lit(".site"),
            (F.col("doc_id") % 13).cast("string"),
            F.lit(".example.com"),
        ).alias("host"),
    )
    bl = spark.createDataFrame(
        [
            ("site3.example.com",),
            ("site7.example.com",),
            ("sub1.site2.example.com",),
            ("badhost.net",),
        ],
        "domain string",
    )
    out = blocklist_filter(d, bl)
    return out.select("doc_id", "host", F.col("is_blocked").cast("int").alias("is_blocked"))


_BLOCKLIST_SQL = """
WITH d AS (
  SELECT doc_id,
         'sub' || CAST(doc_id % 5 AS VARCHAR) || '.site'
               || CAST(doc_id % 13 AS VARCHAR) || '.example.com' AS host
  FROM documents
),
sfx AS (
  SELECT doc_id, array_to_string(ls[i:len(ls)], '.') AS suffix
  FROM (SELECT doc_id, string_split(host, '.') AS ls,
               unnest(generate_series(1, len(string_split(host, '.')))) AS i
        FROM d)
),
blocked AS (
  SELECT DISTINCT doc_id FROM sfx
  WHERE suffix IN ('site3.example.com', 'site7.example.com',
                   'sub1.site2.example.com', 'badhost.net')
)
SELECT d.doc_id, d.host,
       CAST(b.doc_id IS NOT NULL AS INT) AS is_blocked
FROM d LEFT JOIN blocked b USING (doc_id)
"""


def _winnow_docs(spark, sf):
    """Winnowing fingerprints (ops/textstats.winnow_fingerprints, the
    Schleimer-et-al MOSS scheme): per-window minimum of word-5-gram md5
    hashes with w=4, leftmost tie rule — the oracle replays gram hashing
    and the window min via the fixed-width hash||pos string trick."""
    from kgspark.ops.textstats import winnow_fingerprints

    return winnow_fingerprints(
        _t(spark, sf, "documents"), k=5, w=4, hash="md5"
    )


_WINNOW_SQL = """
WITH toks AS (
  SELECT doc_id,
         string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS t
  FROM documents WHERE text IS NOT NULL
),
grams AS (
  SELECT doc_id, i AS pos, md5(array_to_string(t[i : i + 4], ' ')) AS h
  FROM toks, LATERAL (SELECT unnest(range(1, greatest(len(t) - 3, 1))) AS i) u
),
win AS (
  SELECT doc_id, pos,
         count(*) OVER (PARTITION BY doc_id) AS n,
         min(h || ':' || lpad(CAST(pos AS VARCHAR), 10, '0'))
             OVER (PARTITION BY doc_id ORDER BY pos
                   ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS sel
  FROM grams
)
SELECT DISTINCT doc_id,
       CAST(substr(sel, 34) AS BIGINT) AS pos,
       substr(sel, 1, 32) AS fp
FROM win
WHERE pos <= greatest(n - 3, 1)
"""


def _winnow_containment_docs(spark, sf):
    """Containment near-dup pairs (ops/dedup.winnow_containment_pairs):
    shared winnowed fingerprints over the smaller side's total — the
    Broder containment axis (doc-inside-doc) that resemblance minhash
    misses; exact-integer ppm, oracle replays winnow + bucket pairing +
    the integer-division score."""
    from kgspark.ops.dedup import winnow_containment_pairs

    return winnow_containment_pairs(_t(spark, sf, "documents"))


_WINNOW_CONTAIN_SQL = """
WITH toks AS (
  SELECT doc_id,
         string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS t
  FROM documents WHERE text IS NOT NULL
),
grams AS (
  SELECT doc_id, i AS pos, md5(array_to_string(t[i : i + 4], ' ')) AS h
  FROM toks, LATERAL (SELECT unnest(range(1, greatest(len(t) - 3, 1))) AS i) u
),
win AS (
  SELECT doc_id, pos, count(*) OVER (PARTITION BY doc_id) AS n,
         min(h || ':' || lpad(CAST(pos AS VARCHAR), 10, '0'))
             OVER (PARTITION BY doc_id ORDER BY pos
                   ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS sel
  FROM grams
),
fps AS (
  SELECT DISTINCT doc_id, substr(sel, 1, 32) AS fp
  FROM win WHERE pos <= greatest(n - 3, 1)
),
sizes AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_fp FROM fps GROUP BY doc_id),
bucket AS (SELECT fp FROM fps GROUP BY fp HAVING count(*) BETWEEN 2 AND 256),
pairs AS (
  SELECT f1.doc_id AS a, f2.doc_id AS b, CAST(count(*) AS BIGINT) AS shared
  FROM fps f1 JOIN fps f2 USING (fp) JOIN bucket USING (fp)
  WHERE f1.doc_id < f2.doc_id GROUP BY 1, 2
)
SELECT a, b, shared, sa.n_fp AS n_a, sb.n_fp AS n_b,
       shared * 1000000 // least(sa.n_fp, sb.n_fp) AS containment_ppm
FROM pairs JOIN sizes sa ON a = sa.doc_id JOIN sizes sb ON b = sb.doc_id
WHERE shared * 1000000 // least(sa.n_fp, sb.n_fp) >= 500000
"""


def _span_alignment_docs(spark, sf):
    """Shared-span forensics (ops/dedup.shared_span_alignment) over the
    confirmed containment pairs: shared winnowed fingerprints on the
    same diagonal (pos_b - pos_a) merge into aligned token spans via
    gaps-and-islands — the oracle replays winnow, the containment
    pairing, the diagonal join, and the islands window."""
    from kgspark.ops.dedup import shared_span_alignment, winnow_containment_pairs

    d = _t(spark, sf, "documents")
    return shared_span_alignment(d, winnow_containment_pairs(d))


_SPAN_ALIGN_SQL = """
WITH toks AS (
  SELECT doc_id,
         string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS t
  FROM documents WHERE text IS NOT NULL
),
grams AS (
  SELECT doc_id, i AS pos, md5(array_to_string(t[i : i + 4], ' ')) AS h
  FROM toks, LATERAL (SELECT unnest(range(1, greatest(len(t) - 3, 1))) AS i) u
),
win AS (
  SELECT doc_id, pos, count(*) OVER (PARTITION BY doc_id) AS n,
         min(h || ':' || lpad(CAST(pos AS VARCHAR), 10, '0'))
             OVER (PARTITION BY doc_id ORDER BY pos
                   ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS sel
  FROM grams
),
fpp AS (
  SELECT DISTINCT doc_id, CAST(substr(sel, 34) AS BIGINT) AS fpos,
         substr(sel, 1, 32) AS fp
  FROM win WHERE pos <= greatest(n - 3, 1)
),
fpd AS (SELECT DISTINCT doc_id, fp FROM fpp),
sizes AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_fp FROM fpd GROUP BY doc_id),
bucket AS (SELECT fp FROM fpd GROUP BY fp HAVING count(*) BETWEEN 2 AND 256),
cand AS (
  SELECT f1.doc_id AS a, f2.doc_id AS b, CAST(count(*) AS BIGINT) AS shared
  FROM fpd f1 JOIN fpd f2 USING (fp) JOIN bucket USING (fp)
  WHERE f1.doc_id < f2.doc_id GROUP BY 1, 2
),
scored AS (
  SELECT a, b FROM cand
  JOIN sizes sa ON a = sa.doc_id JOIN sizes sb ON b = sb.doc_id
  WHERE shared * 1000000 // least(sa.n_fp, sb.n_fp) >= 500000
),
hits AS (
  SELECT s.a, s.b, fa.fpos AS pos_a, fb.fpos - fa.fpos AS diag
  FROM scored s
  JOIN fpp fa ON fa.doc_id = s.a
  JOIN fpp fb ON fb.doc_id = s.b AND fb.fp = fa.fp
),
isl AS (
  SELECT a, b, diag, pos_a,
         CASE WHEN lag(pos_a) OVER w IS NULL
                   OR pos_a - lag(pos_a) OVER w > 8 THEN 1 ELSE 0 END AS ni
  FROM hits
  WINDOW w AS (PARTITION BY a, b, diag ORDER BY pos_a)
),
isl2 AS (
  SELECT a, b, diag, pos_a,
         sum(ni) OVER (PARTITION BY a, b, diag ORDER BY pos_a
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS g
  FROM isl
)
SELECT a, b, min(pos_a) AS a_start, max(pos_a) + 4 AS a_end,
       min(pos_a) + diag AS b_start, max(pos_a) + 4 + diag AS b_end,
       CAST(count(*) AS BIGINT) AS n_fps
FROM isl2 GROUP BY a, b, diag, g
"""


def _script_profile_docs(spark, sf):
    """Unicode-script composition (ops/textstats.script_profile) over a
    deterministic multilingual augmentation of the ASCII fixture docs
    (doc_id%4 picks a 1000-char Cyrillic/Han/Arabic suffix, flipping
    dominance for those docs); the oracle replays the augmentation and
    RE2's identical script classes."""
    from kgspark.ops.textstats import script_profile

    d = _t(spark, sf, "documents").select(
        "doc_id",
        F.concat(
            F.coalesce(F.col("text"), F.lit("")),
            F.when(F.col("doc_id") % 4 == 1, F.repeat(F.lit("м"), 1000))
            .when(F.col("doc_id") % 4 == 2, F.repeat(F.lit("世"), 1000))
            .when(F.col("doc_id") % 4 == 3, F.repeat(F.lit("س"), 1000))
            .otherwise(F.lit("")),
        ).alias("text"),
    )
    return script_profile(d)


_SCRIPT_PROFILE_SQL = r"""
WITH d AS (
  SELECT doc_id,
         coalesce(text, '') || CASE doc_id % 4
                   WHEN 1 THEN repeat('м', 1000)
                   WHEN 2 THEN repeat('世', 1000)
                   WHEN 3 THEN repeat('س', 1000)
                   ELSE '' END AS text
  FROM documents
),
c AS (
  SELECT doc_id,
         CAST(len(regexp_extract_all(text, '\p{Latin}')) AS BIGINT) AS n_latin,
         CAST(len(regexp_extract_all(text, '\p{Cyrillic}')) AS BIGINT) AS n_cyrillic,
         CAST(len(regexp_extract_all(text, '\p{Han}')) AS BIGINT) AS n_han,
         CAST(len(regexp_extract_all(text, '\p{Arabic}')) AS BIGINT) AS n_arabic,
         CAST(length(text) AS BIGINT) AS n_chars
  FROM d
)
SELECT *,
       CASE WHEN greatest(n_latin, n_cyrillic, n_han, n_arabic) = 0 THEN 'none'
            WHEN n_latin = greatest(n_latin, n_cyrillic, n_han, n_arabic) THEN 'latin'
            WHEN n_cyrillic = greatest(n_latin, n_cyrillic, n_han, n_arabic) THEN 'cyrillic'
            WHEN n_han = greatest(n_latin, n_cyrillic, n_han, n_arabic) THEN 'han'
            ELSE 'arabic' END AS dominant_script
FROM c
"""


def _encoding_quality_docs(spark, sf):
    """Mojibake / encoding-error gate (ops/textstats.encoding_quality):
    deterministic corruption of the clean fixture docs (doc_id%9==0 gets
    a dense mojibake suffix, doc_id%9==1 a single benign marker) so both
    flag branches fire; the oracle replays the corruption, both literal-
    alternation counts, and the integer ppm."""
    from kgspark.ops.textstats import encoding_quality

    d = _t(spark, sf, "documents").select(
        "doc_id",
        F.concat(
            F.coalesce(F.col("text"), F.lit("")),
            F.when(F.col("doc_id") % 9 == 0, F.repeat(F.lit(" cafÃ© â€™ 25Â°"), 20))
            .when(F.col("doc_id") % 9 == 1, F.lit(" cafÃ©"))
            .otherwise(F.lit("")),
        ).alias("text"),
    )
    return encoding_quality(d)


_ENCODING_QUALITY_SQL = """
WITH d AS (
  SELECT doc_id,
         coalesce(text, '') || CASE doc_id % 9
                   WHEN 0 THEN repeat(' cafÃ© â€™ 25Â°', 20)
                   WHEN 1 THEN ' cafÃ©'
                   ELSE '' END AS text
  FROM documents
),
c AS (
  SELECT doc_id,
         CAST(len(regexp_extract_all(text, '�')) AS BIGINT) AS n_replacement,
         CAST(len(regexp_extract_all(text,
           'Ã©|Ã¨|Ã¡|Ã³|Ãº|Ã±|Ã¤|Ã¶|Ã¼|â€™|â€œ|â€“|â€”|Â°|Â»|Â«|Â·')) AS BIGINT) AS n_mojibake,
         CAST(length(text) AS BIGINT) AS n_chars
  FROM d
)
SELECT doc_id, n_replacement, n_mojibake, n_chars,
       (n_replacement + n_mojibake) * 1000000 // greatest(n_chars, 1) AS mojibake_ppm,
       CAST((n_replacement + n_mojibake) * 1000000 // greatest(n_chars, 1) >= 1000 AS INT)
         AS flag_encoding_bad
FROM c
"""


def _cc_components_tpch(spark, sf):
    """Connected components over a long-id TPC-H graph (customer -> nation
    -> region chains; components == regions), hash-verified against a
    recursive-CTE transitive-closure + min-reachable-id oracle — the
    independent cross-engine witness for the CC operator itself."""
    cust = _t(spark, sf, "customer")
    nat = _t(spark, sf, "nation")
    e1 = cust.select(
        F.col("c_custkey").cast("long").alias("src"),
        (F.col("c_nationkey").cast("long") + F.lit(1_000_000)).alias("dst"),
    )
    e2 = nat.select(
        (F.col("n_nationkey").cast("long") + F.lit(1_000_000)).alias("src"),
        (F.col("n_regionkey").cast("long") + F.lit(2_000_000)).alias("dst"),
    )
    from kgspark.extract.components import connected_components

    return connected_components(e1.union(e2)).select(
        "id", F.col("component").cast("long").alias("component")
    )


_CC_COMPONENTS_SQL = """
WITH RECURSIVE edges AS (
  SELECT CAST(c_custkey AS BIGINT) AS s, CAST(c_nationkey AS BIGINT) + 1000000 AS d
  FROM customer
  UNION ALL
  SELECT CAST(n_nationkey AS BIGINT) + 1000000, CAST(n_regionkey AS BIGINT) + 2000000
  FROM nation
), sym AS (
  SELECT s, d FROM edges UNION SELECT d, s FROM edges
), reach(id, r) AS (
  SELECT s, s FROM sym
  UNION
  SELECT e.s, t.r FROM sym e JOIN reach t ON e.d = t.id
)
SELECT id, CAST(min(r) AS BIGINT) AS component FROM reach GROUP BY id
"""


def _having_agg(spark, sf):
    """GROUP BY ... HAVING on an aggregate (filter over grouped plan)."""
    li = _t(spark, sf, "lineitem")
    return (
        li.groupBy("l_orderkey")
        .agg(F.round(F.sum(_dec("l_quantity")).cast("double"), 2).alias("sum_qty"))
        .filter(F.col("sum_qty") > 150)
    )


_HAVING_SQL = """
SELECT l_orderkey,
       round(CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE), 2) AS sum_qty
FROM lineitem GROUP BY l_orderkey
HAVING round(CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE), 2) > 150
"""


def _pivot_events(spark, sf):
    """Pivot (wide aggregation): per-user event counts by type."""
    ev = _t(spark, sf, "events")
    types = ["click", "error", "purchase", "signup", "view"]
    wide = ev.groupBy("user_id").pivot("event_type", types).count()
    return wide.select(
        "user_id", *[F.coalesce(F.col(t), F.lit(0)).cast("long").alias(t) for t in types]
    )


_PIVOT_SQL = """
SELECT user_id,
       count(*) FILTER (WHERE event_type = 'click')    AS click,
       count(*) FILTER (WHERE event_type = 'error')    AS error,
       count(*) FILTER (WHERE event_type = 'purchase') AS purchase,
       count(*) FILTER (WHERE event_type = 'signup')   AS signup,
       count(*) FILTER (WHERE event_type = 'view')     AS view
FROM events GROUP BY user_id
"""


def _unpivot_part(spark, sf):
    """Unpivot / melt: wide numeric columns -> (attr, val) long format."""
    p = _t(spark, sf, "part").withColumn("p_size_d", F.col("p_size").cast("double"))
    return p.unpivot(
        ["p_partkey"], ["p_size_d", "p_retailprice"], "attr", "val"
    ).withColumn(
        "attr", F.when(F.col("attr") == "p_size_d", "p_size").otherwise(F.col("attr"))
    )


_UNPIVOT_SQL = """
SELECT p_partkey, 'p_size' AS attr, CAST(p_size AS DOUBLE) AS val FROM part
UNION ALL
SELECT p_partkey, 'p_retailprice' AS attr, p_retailprice AS val FROM part
"""


def _posexplode_tokens(spark, sf):
    """posexplode: token with its position (UNNEST WITH ORDINALITY)."""
    d = _t(spark, sf, "documents").filter(F.col("text").isNotNull())
    norm = F.trim(F.regexp_replace(F.col("text"), r"\s+", " "))
    return d.select(
        "doc_id", F.posexplode(F.split(norm, " ")).alias("pos", "tok")
    ).withColumn("pos", F.col("pos") + 1)


_POSEXPLODE_SQL = """
SELECT doc_id, unnest(toks) AS tok, generate_subscripts(toks, 1) AS pos
FROM (SELECT doc_id, string_split(trim(regexp_replace(text, '\\s+', ' ', 'g')), ' ') AS toks
      FROM documents WHERE text IS NOT NULL)
"""


def _f_string_funcs2(spark, sf):
    """Extended string functions: levenshtein, lpad, translate, repeat,
    reverse, split_part."""
    d = _t(spark, sf, "documents").filter(F.col("text").isNotNull())
    head = F.substring(F.col("text"), 1, 12)
    return d.select(
        "doc_id",
        F.levenshtein(head, F.lit("batch window")).alias("lev"),
        F.lpad(F.col("doc_id").cast("string"), 8, "0").alias("padded"),
        F.translate(head, "的是", "__").alias("translated"),
        F.repeat(F.lit("ab"), 3).alias("rep"),
        F.reverse(head).alias("rev"),
        F.split_part(F.col("source"), F.lit("-"), F.lit(1)).alias("src_head"),
    )


_F_STRING2_SQL = """
SELECT doc_id,
       levenshtein(substr(text, 1, 12), 'batch window') AS lev,
       lpad(CAST(doc_id AS VARCHAR), 8, '0') AS padded,
       translate(substr(text, 1, 12), '的是', '__') AS translated,
       repeat('ab', 3) AS rep,
       reverse(substr(text, 1, 12)) AS rev,
       split_part(source, '-', 1) AS src_head
FROM documents WHERE text IS NOT NULL
"""


def _bitwise_ops(spark, sf):
    """Bitwise functions over event ids."""
    ev = _t(spark, sf, "events")
    eid = F.col("event_id")
    return ev.select(
        "event_id",
        F.bit_count(eid).alias("bits"),
        F.shiftleft(eid, 2).alias("shl"),
        F.shiftright(eid, 2).alias("shr"),
        eid.bitwiseAND(F.lit(255)).alias("band"),
        eid.bitwiseOR(F.lit(16)).alias("bor"),
        eid.bitwiseXOR(F.lit(85)).alias("bxor"),
    )


_BITWISE_SQL = """
SELECT event_id,
       bit_count(event_id) AS bits,
       event_id << 2 AS shl,
       event_id >> 2 AS shr,
       event_id & 255 AS band,
       event_id | 16 AS bor,
       xor(event_id, 85) AS bxor
FROM events
"""


def _scalar_subquery(spark, sf):
    """Correlated scalar subquery — Catalyst decorrelates it into a join."""
    _t(spark, sf, "orders").createOrReplaceTempView("v_orders_sq")
    _t(spark, sf, "lineitem").createOrReplaceTempView("v_lineitem_sq")
    return spark.sql(
        """
        SELECT o_orderkey,
               (SELECT count(*) FROM v_lineitem_sq l
                WHERE l.l_orderkey = o.o_orderkey) AS n_items
        FROM v_orders_sq o
        """
    )


_SCALAR_SUBQUERY_SQL = """
SELECT o_orderkey,
       (SELECT count(*) FROM lineitem l WHERE l.l_orderkey = o.o_orderkey) AS n_items
FROM orders o
"""


def _null_safe_eq(spark, sf):
    """Null-safe equality (<=> / IS NOT DISTINCT FROM) + null-aware counts."""
    d = _t(spark, sf, "documents")
    probe = F.when(F.col("doc_id") % 3 == 0, F.col("lang"))  # null every 3rd
    return d.select(
        "doc_id",
        probe.alias("probe"),
        F.col("lang").eqNullSafe(probe).alias("nse_same"),
        probe.eqNullSafe(F.lit(None).cast("string")).alias("nse_null"),
        F.isnull(probe).alias("is_null"),
        F.coalesce(probe, F.lit("??")).alias("filled"),
    )


_NULL_SAFE_SQL = """
SELECT doc_id,
       CASE WHEN doc_id % 3 = 0 THEN lang END AS probe,
       lang IS NOT DISTINCT FROM (CASE WHEN doc_id % 3 = 0 THEN lang END) AS nse_same,
       (CASE WHEN doc_id % 3 = 0 THEN lang END) IS NOT DISTINCT FROM NULL AS nse_null,
       (CASE WHEN doc_id % 3 = 0 THEN lang END) IS NULL AS is_null,
       coalesce(CASE WHEN doc_id % 3 = 0 THEN lang END, '??') AS filled
FROM documents
"""


def _string_agg_groups(spark, sf):
    """Ordered string aggregation per group (string_agg / listagg shape)."""
    d = _t(spark, sf, "documents")
    return d.groupBy("lang").agg(
        F.array_join(
            F.array_sort(F.collect_list(F.col("doc_id").cast("string"))), ","
        ).alias("ids"),
        F.count("*").alias("n"),
    )


_STRING_AGG_SQL = """
SELECT lang,
       string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY CAST(doc_id AS VARCHAR)) AS ids,
       count(*) AS n
FROM documents GROUP BY lang
"""


def _repetition_stats(spark, sf):
    """Boilerplate detector: repeated-5-gram ratio per document."""
    from kgspark.ops.textstats import repetition_ratio

    d = _t(spark, sf, "documents").filter(F.col("text").isNotNull())
    return d.select("doc_id", repetition_ratio(F.col("text")).alias("rep_ratio"))


_REPETITION_SQL = """
SELECT doc_id,
       round(1 - CAST(len(list_distinct(list_transform(pos, i -> substr(t, CAST(i AS INT), 5)))) AS DOUBLE)
               / len(pos), 6) AS rep_ratio
FROM (SELECT doc_id, t, range(1, greatest(length(t) - 4, 1) + 1) AS pos
      FROM (SELECT doc_id, lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))) AS t
            FROM documents WHERE text IS NOT NULL))
"""


def _stratified_sample_docs(spark, sf):
    """Deterministic per-language quota sample (ops/sample.py) with an
    md5-derived order so the oracle reproduces the exact selection."""
    from kgspark.ops.sample import stratified_sample

    d = _t(spark, sf, "documents")
    order = F.md5(F.col("doc_id").cast("string"))
    return stratified_sample(
        d, stratum_col="lang", key_col="doc_id", k=5, hash_expr=order
    ).select("doc_id", "lang")


_STRATIFIED_SQL = """
SELECT doc_id, lang FROM (
  SELECT doc_id, lang,
         row_number() OVER (PARTITION BY lang
                            ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
  FROM documents
) WHERE rk <= 5
"""


def _hash_sample_rate(spark, sf):
    """Deterministic ~10% Bernoulli sample via a portable md5 bucket."""
    from kgspark.ops.sample import hash_sample

    d = _t(spark, sf, "documents")
    bucket = F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 5), 16, 10).cast(
        "long"
    ) % 1_000_000
    return hash_sample(d, key_col="doc_id", rate=0.1, hash_expr=bucket).select(
        "doc_id", "lang"
    )


_HASH_SAMPLE_SQL = """
SELECT doc_id, lang FROM documents
WHERE CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 5)) AS BIGINT)
      % 1000000 < 100000
"""


def _session_window_batch(spark, sf):
    """Native session_window (30-min inactivity gap) vs the classic
    gaps-and-islands SQL formulation."""
    ev = _t(spark, sf, "events")
    return (
        ev.groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum(F.col("value").cast("decimal(18,6)")).cast("double"), 4).alias("total"),
        )
        .select("user_id", F.col("w.start").alias("session_start"), "n", "total")
    )


_SESSION_WINDOW_SQL = """
WITH marked AS (
  SELECT user_id, ts, value,
         CASE WHEN lag(ts) OVER w IS NULL
                   OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE
              THEN 1 ELSE 0 END AS new_sess
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts)
), numbered AS (
  SELECT *, sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts
                                ROWS UNBOUNDED PRECEDING) AS sid
  FROM marked
)
SELECT user_id, min(ts) AS session_start, count(*) AS n,
       round(CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE), 4) AS total
FROM numbered GROUP BY user_id, sid
"""


def _simhash_portable(spark, sf):
    """Engine-portable 16-bit SimHash: per-shingle md5 -> first 4 hex chars
    -> bitwise majority vote. The production 64-bit numpy signature stays
    rows-only; this proves the simhash *semantics* (shingle hashing, bit
    votes, majority) value-for-value against ANSI SQL."""
    d = _t(spark, sf, "documents").filter(F.col("text").isNotNull())
    norm = F.lower(F.regexp_replace(F.trim(F.col("text")), r"\s+", " "))
    positions = F.sequence(F.lit(1), F.greatest(F.length(norm) - 4, F.lit(1)))
    shingles = F.transform(positions, lambda i: norm.substr(i, F.lit(5)))
    ex = d.select("doc_id", F.explode(shingles).alias("s")).withColumn(
        "h", F.md5(F.col("s"))
    )
    hexv = lambda i: F.instr(F.lit("0123456789abcdef"), F.substring("h", i, 1)) - 1
    vals = ex.select(
        "doc_id", *[hexv(i + 1).alias(f"v{i}") for i in range(4)]
    )
    ones = [
        F.sum(((F.col(f"v{i}") / (2 ** b)).cast("int") % 2)).alias(f"o_{i}_{b}")
        for i in range(4)
        for b in range(4)
    ]
    agg = vals.groupBy("doc_id").agg(F.count("*").alias("n"), *ones)
    bit_terms = [
        F.when(2 * F.col(f"o_{i}_{b}") > F.col("n"), F.lit(1 << (i * 4 + b))).otherwise(0)
        for i in range(4)
        for b in range(4)
    ]
    simhash = bit_terms[0]
    for t in bit_terms[1:]:
        simhash = simhash + t
    return agg.select("doc_id", simhash.cast("long").alias("simhash16"))


def _simhash_portable_sql() -> str:
    ones = ", ".join(
        f"sum((v{i} // {2 ** b}) % 2) AS o_{i}_{b}"
        for i in range(4)
        for b in range(4)
    )
    terms = " + ".join(
        f"CASE WHEN 2 * o_{i}_{b} > n THEN {1 << (i * 4 + b)} ELSE 0 END"
        for i in range(4)
        for b in range(4)
    )
    vs = ", ".join(
        f"strpos('0123456789abcdef', substr(h, {i + 1}, 1)) - 1 AS v{i}"
        for i in range(4)
    )
    return f"""
WITH sh AS (
  SELECT doc_id, md5(unnest(list_transform(pos, i -> substr(t, CAST(i AS INT), 5)))) AS h
  FROM (SELECT doc_id, t, range(1, greatest(length(t) - 4, 1) + 1) AS pos
        FROM (SELECT doc_id, lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))) AS t
              FROM documents WHERE text IS NOT NULL))
), vals AS (SELECT doc_id, {vs} FROM sh),
agg AS (SELECT doc_id, count(*) AS n, {ones} FROM vals GROUP BY doc_id)
SELECT doc_id, CAST({terms} AS BIGINT) AS simhash16 FROM agg
"""


def _grouping_sets_id(spark, sf):
    """Explicit GROUPING SETS with a grouping() indicator per dimension."""
    _t(spark, sf, "orders").createOrReplaceTempView("v_orders_gs")
    return spark.sql(
        """
        SELECT o_orderstatus, o_orderpriority,
               grouping(o_orderstatus) AS g_status,
               grouping(o_orderpriority) AS g_prio,
               count(*) AS n
        FROM v_orders_gs
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority),
                                (o_orderstatus, o_orderpriority), ())
        """
    )


_GROUPING_SETS_SQL = """
SELECT o_orderstatus, o_orderpriority,
       grouping(o_orderstatus) AS g_status,
       grouping(o_orderpriority) AS g_prio,
       count(*) AS n
FROM orders
GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority),
                        (o_orderstatus, o_orderpriority), ())
"""


def _stats_moments(spark, sf):
    """Correlation / stddev via exact decimal power sums, so the float math
    happens once on identical inputs in both engines (a distributed
    float-sum would differ in final ulps by partition order)."""
    li = _t(spark, sf, "lineitem")
    x = F.col("l_quantity").cast("decimal(18,2)")
    y = F.col("l_extendedprice").cast("decimal(18,2)")
    agg = li.groupBy("l_returnflag").agg(
        F.count("*").alias("n"),
        F.sum(x).alias("sx"),
        F.sum(y).alias("sy"),
        F.sum(x * x).alias("sxx"),
        F.sum(y * y).alias("syy"),
        F.sum(x * y).alias("sxy"),
    )
    n = F.col("n").cast("double")
    sx, sy = F.col("sx").cast("double"), F.col("sy").cast("double")
    sxx, syy, sxy = (
        F.col("sxx").cast("double"),
        F.col("syy").cast("double"),
        F.col("sxy").cast("double"),
    )
    corr = (n * sxy - sx * sy) / F.sqrt((n * sxx - sx * sx) * (n * syy - sy * sy))
    sd_x = F.sqrt((sxx - sx * sx / n) / (n - 1))
    return agg.select(
        "l_returnflag",
        "n",
        F.round(corr, 6).alias("corr_qty_price"),
        F.round(sd_x, 4).alias("sd_qty"),
    )


_STATS_MOMENTS_SQL = """
WITH a AS (
  SELECT l_returnflag, count(*) AS n,
         sum(CAST(l_quantity AS DECIMAL(18,2))) AS sx,
         sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS sy,
         sum(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_quantity AS DECIMAL(18,2))) AS sxx,
         sum(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_extendedprice AS DECIMAL(18,2))) AS syy,
         sum(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_extendedprice AS DECIMAL(18,2))) AS sxy
  FROM lineitem GROUP BY l_returnflag
)
SELECT l_returnflag, n,
       round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
             / sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                    * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 6)
         AS corr_qty_price,
       round(sqrt((CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))
                  / (CAST(n AS DOUBLE) - 1)), 4) AS sd_qty
FROM a
"""


def _kmv_distinct(spark, sf):
    """KMV (k-minimum-values) distinct-count sketch, engine-portable: md5
    hex-domain minima + a 52-bit estimator whose float ops are bit-identical
    in both engines (ops/sketch.py). 150 distinct users per event_type at
    sf0.01 > k=64, so this exercises the estimator path, not the exact one."""
    from kgspark.ops.sketch import kmv_distinct

    return kmv_distinct(_t(spark, sf, "events"), "user_id", ["event_type"], k=64)


def _kmv_sql() -> str:
    digits = "0123456789abcdef"
    terms = " + ".join(
        f"(strpos('{digits}', substr(hk, {j + 1}, 1)) - 1) * {float(16 ** (12 - j))!r}"
        for j in range(13)
    )
    return f"""
WITH dist AS (
  SELECT DISTINCT event_type, md5(CAST(user_id AS VARCHAR)) AS h
  FROM events WHERE user_id IS NOT NULL
), ranked AS (
  SELECT event_type, h,
         row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn
  FROM dist
), kept AS (
  SELECT event_type, count(*) AS n_kept,
         max(CASE WHEN rn = 64 THEN h END) AS hk
  FROM ranked WHERE rn <= 64 GROUP BY event_type
)
SELECT event_type,
       CASE WHEN n_kept < 64 THEN n_kept
            ELSE CAST(FLOOR(63.0 / (({terms}) / 4503599627370496.0)) AS BIGINT)
       END AS est_distinct
FROM kept
"""


_KMV_DISTINCT_SQL = _kmv_sql()


def _negative_samples_kg(spark, sf):
    """Deterministic negative sampling (ops/kg_sampling.py) over a
    name-keyed nation->IN_REGION->region graph: candidate destination =
    node at dense index md5(salt|edge|trial) mod |V|, true edges
    anti-joined away. Name keys (not xxhash64 ids) so the DuckDB oracle
    replays the draw bit-for-bit via a bigint strpos digit expansion."""
    from kgspark.ops.kg_sampling import negative_samples

    n, r = _t(spark, sf, "nation"), _t(spark, sf, "region")
    edges = n.join(r, n.n_regionkey == r.r_regionkey).select(
        F.col("n_name").alias("src_id"),
        F.lit("IN_REGION").alias("rel"),
        F.col("r_name").alias("dst_id"),
    )
    nodes = (
        edges.select(F.col("src_id").alias("entity_id"))
        .union(edges.select("dst_id"))
        .distinct()
    )
    return negative_samples(edges, nodes, n_per_positive=2)


def _neg_samples_sql() -> str:
    digits = "0123456789abcdef"
    expansion = " + ".join(
        f"CAST(strpos('{digits}', substr(h, {j + 1}, 1)) - 1 AS BIGINT) * {16 ** (14 - j)}"
        for j in range(15)
    )
    return f"""
WITH edges AS (
  SELECT n_name AS src_id, 'IN_REGION' AS rel, r_name AS dst_id
  FROM nation JOIN region ON n_regionkey = r_regionkey
),
nodes AS (SELECT src_id AS cand FROM edges UNION SELECT dst_id FROM edges),
idx AS (SELECT cand, row_number() OVER (ORDER BY cand) - 1 AS idx FROM nodes),
nn AS (SELECT count(*) AS n FROM nodes),
trials AS (
  SELECT src_id, rel, dst_id, t.i AS trial,
         md5(concat_ws('|', 'neg-v1', src_id, rel, dst_id, CAST(t.i AS VARCHAR))) AS h
  FROM edges, unnest(range(0, 2)) AS t(i)
),
hashed AS (SELECT src_id, rel, dst_id, trial,
                  ({expansion}) % (SELECT n FROM nn) AS idx
           FROM trials),
neg AS (SELECT h.src_id, h.rel, i.cand AS neg_dst_id, h.trial
        FROM hashed h JOIN idx i USING (idx))
SELECT n.src_id, n.rel, n.neg_dst_id, n.trial
FROM neg n LEFT JOIN edges e
  ON n.src_id = e.src_id AND n.rel = e.rel AND n.neg_dst_id = e.dst_id
WHERE e.src_id IS NULL
"""


_NEG_SAMPLES_SQL = _neg_samples_sql()


def _collocations_docs(spark, sf):
    """Bigram collocation mining (ops/textstats.collocations): lift =
    rational PMI core, bit-identical across engines (exact integer
    products, one double division)."""
    from kgspark.ops.textstats import collocations

    return collocations(_t(spark, sf, "documents"), min_count=5)


_COLLOCATIONS_SQL = """
WITH t AS (
  SELECT list_filter(string_split_regex(lower(text), '[^a-z]+'),
                     x -> length(x) >= 2) AS ts
  FROM documents WHERE text IS NOT NULL
),
uni AS (SELECT u.x AS w, count(*) AS n FROM t, unnest(ts) AS u(x) GROUP BY 1),
tot AS (SELECT sum(n) AS n_total FROM uni),
bi AS (
  SELECT ts[CAST(r.i AS INT)] AS w1, ts[CAST(r.i AS INT) + 1] AS w2, count(*) AS n_ab
  FROM t, unnest(range(1, len(ts))) AS r(i)
  GROUP BY 1, 2 HAVING count(*) >= 5
)
SELECT w1, w2, n_ab,
       CAST(n_ab * (SELECT n_total FROM tot) AS DOUBLE) / (a.n * b.n) AS lift
FROM bi JOIN uni a ON bi.w1 = a.w JOIN uni b ON bi.w2 = b.w
"""


def _chunk_docs(spark, sf):
    """Sliding-window chunking (ops/textstats.chunk_documents): map-only
    JVM expression, one row per 200-char window advancing by 150."""
    from kgspark.ops.textstats import chunk_documents

    return chunk_documents(_t(spark, sf, "documents"), size=200, overlap=50)


_CHUNK_DOCS_SQL = """
WITH d AS (SELECT doc_id, text FROM documents WHERE text IS NOT NULL AND length(text) > 0),
c AS (
  SELECT doc_id, CAST(t.i AS INT) AS chunk_id,
         substr(text, CAST(t.i * 150 + 1 AS INT), 200) AS chunk_text
  FROM d, unnest(range(0, CAST(greatest(ceil((length(text) - 200) / 150.0), 0) AS BIGINT) + 1)) AS t(i)
)
SELECT doc_id, chunk_id, chunk_text FROM c WHERE length(chunk_text) > 0
"""


def _redact_pii_docs(spark, sf):
    """PII redaction (ops/textstats.redact_pii) over text with synthetic
    deterministic emails/phones spliced in (the corpus itself carries no
    PII): both engines build the same string, then redact."""
    from kgspark.ops.textstats import redact_pii

    d = _t(spark, sf, "documents").filter(F.col("text").isNotNull())
    synth = F.concat(
        F.lit("contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@example.com tel +1415555"),
        F.lpad(F.col("doc_id").cast("string"), 4, "0"),
        F.lit(" "),
        F.substring(F.col("text"), 1, 50),
    )
    return d.select("doc_id", redact_pii(synth).alias("redacted"))


_REDACT_PII_SQL = r"""
SELECT doc_id,
       regexp_replace(
         regexp_replace(
           'contact user' || CAST(doc_id AS VARCHAR) || '@example.com tel +1415555'
             || lpad(CAST(doc_id AS VARCHAR), 4, '0') || ' ' || substr(text, 1, 50),
           '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
         '\+?[0-9][0-9 ()-]{7,}[0-9]', '<PHONE>', 'g') AS redacted
FROM documents WHERE text IS NOT NULL
"""


def _approx_quantile_sampled(spark, sf):
    """Sketch-by-sampling quantiles: exact interpolated percentiles over a
    deterministic 1/4 hash sample of lineitem. At 100 TB this is the cheap
    tier between nothing and a full percentile pass — the sample predicate
    is stage-local (evaluated right after the columnar read — a hash of a
    column can't push into the parquet reader — and adds no shuffle), the
    percentile runs on 1/4 of the rows, and determinism (md5, no RNG) makes the
    estimate reproducible across runs and engines — hence oracle-able,
    unlike t-digest/KLL whose merge order is engine-specific."""
    li = _t(spark, sf, "lineitem")
    sampled = li.filter(
        F.substring(F.md5(F.col("l_orderkey").cast("string")), 1, 1).isin(
            "0", "1", "2", "3"
        )
    )
    return sampled.groupBy("l_returnflag").agg(
        F.round(F.expr("percentile(l_extendedprice, 0.5)"), 4).alias("p50_est"),
        F.round(F.expr("percentile(l_extendedprice, 0.99)"), 4).alias("p99_est"),
        F.count("*").alias("n_sampled"),
    )


_APPROX_QUANTILE_SQL = """
SELECT l_returnflag,
       round(quantile_cont(l_extendedprice, 0.5), 4) AS p50_est,
       round(quantile_cont(l_extendedprice, 0.99), 4) AS p99_est,
       count(*) AS n_sampled
FROM lineitem
WHERE substring(md5(CAST(l_orderkey AS VARCHAR)), 1, 1) IN ('0','1','2','3')
GROUP BY l_returnflag
"""


def _degree_histogram(spark, sf):
    """Out-degree histogram over the TPC-H KG (query/stats.py) — the skew
    diagnostic that justifies salting decisions, as a two-phase aggregate."""
    from kgspark.query.stats import degree_histogram
    from kgspark.tpch_graph import build_tpch_graph

    _nodes, edges = build_tpch_graph(spark, sf)
    return degree_histogram(edges, "out")


_DEGREE_HIST_SQL = """
WITH edges AS (
  SELECT c_name AS src, n_name AS dst FROM customer JOIN nation ON c_nationkey = n_nationkey
  UNION ALL SELECT s_name, n_name FROM supplier JOIN nation ON s_nationkey = n_nationkey
  UNION ALL SELECT n_name, r_name FROM nation JOIN region ON n_regionkey = r_regionkey
),
deg AS (SELECT src, count(*) AS degree FROM edges GROUP BY src)
SELECT degree, count(*) AS n_nodes FROM deg GROUP BY degree
"""


def _motif_2hop(spark, sf):
    """Fixed-relation path motif (query/motif.py): n0 -IN_NATION-> n1
    -IN_REGION-> n2 over the TPC-H KG, resolved to names. The chain
    compiles to two rel-filtered equi-joins — the DataFrame shape of the
    reference's Cypher patterns (graph_retriever.py:78-82)."""
    from kgspark.query.motif import paths, paths_with_names
    from kgspark.tpch_graph import build_tpch_graph

    nodes, edges = build_tpch_graph(spark, sf)
    return paths_with_names(nodes, paths(edges, ["IN_NATION", "IN_REGION"]))


_MOTIF_2HOP_SQL = """
SELECT c_name AS n0, n_name AS n1, r_name AS n2
FROM customer
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
UNION ALL
SELECT s_name, n_name, r_name
FROM supplier
JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
"""


def _top_terms(spark, sf):
    """Keyword extraction: top-3 terms per document by a TF-IDF-style
    weight. The score is the exact rational tf * (N+1) / (df+1) — the
    classic log(idf) is a monotone transform of df whose libm ulps differ
    between engines, while integer-product-over-integer division is one
    correctly-rounded double op, bit-identical everywhere. Ties broken by
    term for determinism."""
    d = _t(spark, sf, "documents").filter(F.col("text").isNotNull())
    n_docs = d.count()
    toks = d.select(
        "doc_id", F.explode(F.split(F.lower(F.col("text")), "[^a-z]+")).alias("term")
    ).filter(F.length("term") >= 3)
    tf = toks.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count("*").alias("df"))
    scored = tf.join(dfreq, "term").select(
        "doc_id",
        "term",
        ((F.col("tf") * F.lit(float(n_docs + 1))) / (F.col("df") + 1)).alias("score"),
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("score"), F.col("term"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select("doc_id", "term", "score", "rank")
    )


_TOP_TERMS_SQL = """
WITH docs AS (SELECT doc_id, text FROM documents WHERE text IS NOT NULL),
toks AS (
  SELECT doc_id, t.term
  FROM docs, unnest(regexp_split_to_array(lower(text), '[^a-z]+')) AS t(term)
  WHERE length(t.term) >= 3
),
tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY doc_id, term),
dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
scored AS (
  SELECT tf.doc_id, tf.term,
         (tf.tf * CAST((SELECT count(*) + 1 FROM docs) AS DOUBLE)) / (dfreq.df + 1) AS score
  FROM tf JOIN dfreq USING (term)
)
SELECT doc_id, term, score, rank FROM (
  SELECT doc_id, term, score,
         row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, term) AS rank
  FROM scored
) WHERE rank <= 3
"""


def _window_frames(spark, sf):
    """Window-frame breadth: ntile, percent_rank, cume_dist, a RANGE frame
    (peer rows included — deterministic under ties, unlike a ROWS frame on a
    non-unique ordering), and first/last over the full-partition frame."""
    o = _t(spark, sf, "orders").filter(F.col("o_custkey") <= 300)
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    wrange = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate")
        .rangeBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wfull = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.ntile(4).over(w).alias("quartile"),
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 6).alias("cdist"),
        F.round(F.sum(_dec("o_totalprice")).over(wrange).cast("double"), 2).alias("range_total"),
        F.first("o_orderkey").over(wfull).alias("first_key"),
        F.last("o_orderkey").over(wfull).alias("last_key"),
    )


_WINDOW_FRAMES_SQL = """
SELECT o_custkey, o_orderkey,
       ntile(4) OVER w AS quartile,
       round(percent_rank() OVER w, 6) AS pct_rank,
       round(cume_dist() OVER w, 6) AS cdist,
       round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) OVER
             (PARTITION BY o_custkey ORDER BY o_orderdate
              RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE), 2) AS range_total,
       first_value(o_orderkey) OVER wf AS first_key,
       last_value(o_orderkey) OVER wf AS last_key
FROM orders
WHERE o_custkey <= 300
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey),
       wf AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
              ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
"""


def _pagerank_tpch(spark, sf):
    """Deterministic integer-mode PageRank (ops/graph_algs.py) over a TPC-H
    entity graph: customer->nation, customer->mktsegment, supplier->nation,
    nation->region. Fixed 3 iterations, rank in 10^-12 fixed-point units —
    every operation is integer add/mul/floor-div, so the unrolled SQL oracle
    reproduces ranks bit-for-bit (float PageRank could never hash-match:
    distributed float sums are partition-order dependent)."""
    from kgspark.ops.graph_algs import pagerank

    c, n = _t(spark, sf, "customer"), _t(spark, sf, "nation")
    s, r = _t(spark, sf, "supplier"), _t(spark, sf, "region")
    edges = (
        c.join(n, c.c_nationkey == n.n_nationkey)
        .select(F.col("c_name").alias("src"), F.col("n_name").alias("dst"))
        .unionByName(c.select(F.col("c_name").alias("src"), F.col("c_mktsegment").alias("dst")))
        .unionByName(
            s.join(n, s.s_nationkey == n.n_nationkey)
            .select(F.col("s_name").alias("src"), F.col("n_name").alias("dst"))
        )
        .unionByName(
            n.join(r, n.n_regionkey == r.r_regionkey)
            .select(F.col("n_name").alias("src"), F.col("r_name").alias("dst"))
        )
    )
    return pagerank(edges, max_iter=3, scale=10**12).withColumnRenamed("name", "node")


def _ppr_tpch(spark, sf):
    """Personalized PageRank (ops/graph_algs.pagerank with ``seeds``):
    teleport + dangling mass concentrated on the 5 region nodes of the
    TPC-H entity graph — rank becomes proximity to the seed set, the
    GraphRAG retrieval ranker. Same integer fixed-point contract as
    pagerank_tpch: 3 fixed iterations, bit-identical under any
    partitioning, the unrolled-SQL oracle replays it exactly."""
    from kgspark.ops.graph_algs import pagerank

    c, n = _t(spark, sf, "customer"), _t(spark, sf, "nation")
    s, r = _t(spark, sf, "supplier"), _t(spark, sf, "region")
    edges = (
        c.join(n, c.c_nationkey == n.n_nationkey)
        .select(F.col("c_name").alias("src"), F.col("n_name").alias("dst"))
        .unionByName(c.select(F.col("c_name").alias("src"), F.col("c_mktsegment").alias("dst")))
        .unionByName(
            s.join(n, s.s_nationkey == n.n_nationkey)
            .select(F.col("s_name").alias("src"), F.col("n_name").alias("dst"))
        )
        .unionByName(
            n.join(r, n.n_regionkey == r.r_regionkey)
            .select(F.col("n_name").alias("src"), F.col("r_name").alias("dst"))
        )
    )
    seeds = r.select(F.col("r_name").alias("name"))
    return pagerank(edges, max_iter=3, scale=10**12, seeds=seeds).withColumnRenamed(
        "name", "node"
    )


def _ppr_sql(iters: int = 3, scale: int = 10**12, d_pct: int = 85) -> str:
    parts = [
        f"""
WITH edges AS MATERIALIZED (
  SELECT c_name AS src, n_name AS dst FROM customer JOIN nation ON c_nationkey = n_nationkey
  UNION ALL SELECT c_name, c_mktsegment FROM customer
  UNION ALL SELECT s_name, n_name FROM supplier JOIN nation ON s_nationkey = n_nationkey
  UNION ALL SELECT n_name, r_name FROM nation JOIN region ON n_regionkey = r_regionkey
),
nodes AS MATERIALIZED (
  SELECT name, name IN (SELECT r_name FROM region) AS sd
  FROM (SELECT src AS name FROM edges UNION SELECT dst FROM edges)),
deg AS (SELECT src, count(*) AS deg FROM edges GROUP BY src),
params AS (SELECT CAST(count(*) AS BIGINT) AS ns FROM nodes WHERE sd),
r0 AS (SELECT name, sd,
              CAST(CASE WHEN sd THEN (SELECT {scale} // ns FROM params) ELSE 0 END
                   AS BIGINT) AS r
       FROM nodes)"""
    ]
    for i in range(1, iters + 1):
        p = i - 1
        parts.append(
            f""",
c{i} AS (SELECT e.dst AS name, SUM(r.r // d.deg) AS s
        FROM edges e JOIN r{p} r ON e.src = r.name JOIN deg d ON e.src = d.src
        GROUP BY e.dst),
dg{i} AS (SELECT COALESCE(SUM(r.r), 0) AS m
         FROM r{p} r LEFT JOIN deg d ON r.name = d.src WHERE d.src IS NULL),
r{i} AS (SELECT nd.name, nd.sd,
        CAST(CASE WHEN nd.sd
              THEN (SELECT ({100 - d_pct} * {scale}) // (100 * ns) FROM params)
              ELSE 0 END
        + ({d_pct} * (COALESCE(c.s, 0)
            + CASE WHEN nd.sd
               THEN (SELECT m FROM dg{i}) // (SELECT ns FROM params)
               ELSE 0 END)) // 100
        AS BIGINT) AS r
       FROM nodes nd LEFT JOIN c{i} c ON nd.name = c.name)"""
        )
    parts.append(f"\nSELECT name AS node, r AS rank_units FROM r{iters}")
    return "".join(parts)


_PPR_TPCH_SQL = _ppr_sql()


def _pagerank_sql(iters: int = 3, scale: int = 10**12, d_pct: int = 85) -> str:
    parts = [
        f"""
WITH edges AS (
  SELECT c_name AS src, n_name AS dst FROM customer JOIN nation ON c_nationkey = n_nationkey
  UNION ALL SELECT c_name, c_mktsegment FROM customer
  UNION ALL SELECT s_name, n_name FROM supplier JOIN nation ON s_nationkey = n_nationkey
  UNION ALL SELECT n_name, r_name FROM nation JOIN region ON n_regionkey = r_regionkey
),
nodes AS (SELECT src AS name FROM edges UNION SELECT dst FROM edges),
deg AS (SELECT src, count(*) AS deg FROM edges GROUP BY src),
params AS (SELECT CAST(count(*) AS BIGINT) AS n FROM nodes),
r0 AS (SELECT name, CAST((SELECT {scale} // n FROM params) AS BIGINT) AS r FROM nodes)"""
    ]
    for i in range(1, iters + 1):
        p = i - 1
        parts.append(
            f""",
c{i} AS (SELECT e.dst AS name, SUM(r.r // d.deg) AS s
        FROM edges e JOIN r{p} r ON e.src = r.name JOIN deg d ON e.src = d.src
        GROUP BY e.dst),
dg{i} AS (SELECT COALESCE(SUM(r.r), 0) AS m
         FROM r{p} r LEFT JOIN deg d ON r.name = d.src WHERE d.src IS NULL),
r{i} AS (SELECT nd.name,
        CAST((SELECT ({100 - d_pct} * {scale}) // (100 * n) FROM params)
        + ({d_pct} * (COALESCE(c.s, 0)
                      + (SELECT m FROM dg{i}) // (SELECT n FROM params))) // 100
        AS BIGINT) AS r
       FROM nodes nd LEFT JOIN c{i} c ON nd.name = c.name)"""
        )
    parts.append(f"\nSELECT name AS node, r AS rank_units FROM r{iters}")
    return "".join(parts)


_PAGERANK_TPCH_SQL = _pagerank_sql()


def _hits_tpch(spark, sf):
    """HITS hubs/authorities (ops/graph_algs.hits) over the directed TPC-H
    entity graph — the web-graph companion to pagerank_tpch: authority =
    pointed-at by good hubs, hub = points at good authorities. Integer
    fixed-point with L-infinity normalization: 3 fixed iterations,
    bit-identical under any partitioning, the unrolled-SQL oracle replays
    every floor-division exactly."""
    from kgspark.ops.graph_algs import hits

    c, n = _t(spark, sf, "customer"), _t(spark, sf, "nation")
    s, r = _t(spark, sf, "supplier"), _t(spark, sf, "region")
    edges = (
        c.join(n, c.c_nationkey == n.n_nationkey)
        .select(F.col("c_name").alias("src"), F.col("n_name").alias("dst"))
        .unionByName(c.select(F.col("c_name").alias("src"), F.col("c_mktsegment").alias("dst")))
        .unionByName(
            s.join(n, s.s_nationkey == n.n_nationkey)
            .select(F.col("s_name").alias("src"), F.col("n_name").alias("dst"))
        )
        .unionByName(
            n.join(r, n.n_regionkey == r.r_regionkey)
            .select(F.col("n_name").alias("src"), F.col("r_name").alias("dst"))
        )
    )
    return hits(edges, max_iter=3, scale=10**6).withColumnRenamed("name", "node")


def _hits_sql(iters: int = 3, scale: int = 10**6) -> str:
    parts = [
        f"""
WITH edges AS MATERIALIZED (
  SELECT c_name AS src, n_name AS dst FROM customer JOIN nation ON c_nationkey = n_nationkey
  UNION ALL SELECT c_name, c_mktsegment FROM customer
  UNION ALL SELECT s_name, n_name FROM supplier JOIN nation ON s_nationkey = n_nationkey
  UNION ALL SELECT n_name, r_name FROM nation JOIN region ON n_regionkey = r_regionkey
),
nodes AS MATERIALIZED (SELECT src AS name FROM edges UNION SELECT dst FROM edges),
s0 AS (SELECT name, CAST({scale} AS BIGINT) AS a, CAST({scale} AS BIGINT) AS h FROM nodes)"""
    ]
    for i in range(1, iters + 1):
        p = i - 1
        parts.append(
            f""",
ar{i} AS (SELECT e.dst AS name, SUM(s.h) AS v
          FROM edges e JOIN s{p} s ON e.src = s.name GROUP BY e.dst),
an{i} AS (SELECT nd.name,
                 CAST((COALESCE(a.v, 0) * {scale}) // (SELECT MAX(v) FROM ar{i})
                      AS BIGINT) AS a
          FROM nodes nd LEFT JOIN ar{i} a ON nd.name = a.name),
hr{i} AS (SELECT e.src AS name, SUM(an.a) AS v
          FROM edges e JOIN an{i} an ON e.dst = an.name GROUP BY e.src),
s{i} AS (SELECT an.name, an.a,
                CAST((COALESCE(h.v, 0) * {scale}) // (SELECT MAX(v) FROM hr{i})
                     AS BIGINT) AS h
         FROM an{i} an LEFT JOIN hr{i} h ON an.name = h.name)"""
        )
    parts.append(
        f"\nSELECT name AS node, a AS auth_units, h AS hub_units FROM s{iters}"
    )
    return "".join(parts)


_HITS_TPCH_SQL = _hits_sql()


def _tpch_name_graph(spark, sf):
    """Name-keyed (nodes, edges) view of the TPC-H entity graph — the
    oracle-portable form (entity_id hashes are not DuckDB-computable)."""
    c, n = _t(spark, sf, "customer"), _t(spark, sf, "nation")
    s, r = _t(spark, sf, "supplier"), _t(spark, sf, "region")
    nodes = (
        c.select(F.lit("Customer").alias("label"), F.col("c_name").alias("name"))
        .unionByName(s.select(F.lit("Supplier").alias("label"), F.col("s_name").alias("name")))
        .unionByName(n.select(F.lit("Nation").alias("label"), F.col("n_name").alias("name")))
        .unionByName(r.select(F.lit("Region").alias("label"), F.col("r_name").alias("name")))
    )
    edges = (
        c.join(n, c.c_nationkey == n.n_nationkey)
        .select(
            F.col("c_name").alias("src"),
            F.lit("IN_NATION").alias("rel"),
            F.col("n_name").alias("dst"),
        )
        .unionByName(
            s.join(n, s.s_nationkey == n.n_nationkey).select(
                F.col("s_name").alias("src"),
                F.lit("IN_NATION").alias("rel"),
                F.col("n_name").alias("dst"),
            )
        )
        .unionByName(
            n.join(r, n.n_regionkey == r.r_regionkey).select(
                F.col("n_name").alias("src"),
                F.lit("IN_REGION").alias("rel"),
                F.col("r_name").alias("dst"),
            )
        )
    )
    return nodes, edges


def _edge_type_check_kg(spark, sf):
    """Ontology domain/range validation (construct/typecheck
    .check_edge_types): the spec deliberately covers only
    (IN_NATION, Customer, Nation) and the node table deliberately drops
    even-suppkey suppliers, so odd-suppkey Supplier IN_NATION edges
    surface as 'signature' violations, even-suppkey ones as
    'unlabeled_endpoint' (dangling src — NULL src_label), and every
    IN_REGION edge as 'unknown_rel' — all three violation categories
    exercised, deterministic, non-empty. Broadcast spec joins; the edge
    table never shuffles for the spec."""
    from kgspark.construct.typecheck import check_edge_types

    nodes, edges = _tpch_name_graph(spark, sf)
    sup = _t(spark, sf, "supplier").filter(F.col("s_suppkey") % 2 == 0).select(
        F.col("s_name").alias("name")
    )
    nodes = nodes.join(sup, "name", "left_anti")
    spec = [("IN_NATION", "Customer", "Nation")]
    return check_edge_types(
        nodes, edges, spec, node_id="name", label="label", src="src", rel="rel", dst="dst"
    )


_EDGE_TYPE_CHECK_SQL = """
WITH nodes AS (
  SELECT 'Customer' AS label, c_name AS name FROM customer
  UNION ALL SELECT 'Supplier', s_name FROM supplier WHERE s_suppkey % 2 <> 0
  UNION ALL SELECT 'Nation', n_name FROM nation
  UNION ALL SELECT 'Region', r_name FROM region
),
edges AS (
  SELECT c_name AS src, 'IN_NATION' AS rel, n_name AS dst
  FROM customer JOIN nation ON c_nationkey = n_nationkey
  UNION ALL SELECT s_name, 'IN_NATION', n_name
  FROM supplier JOIN nation ON s_nationkey = n_nationkey
  UNION ALL SELECT n_name, 'IN_REGION', r_name
  FROM nation JOIN region ON n_regionkey = r_regionkey
),
typed AS (
  SELECT e.src, e.rel, e.dst, ns.label AS src_label, nd.label AS dst_label
  FROM edges e
  LEFT JOIN nodes ns ON e.src = ns.name
  LEFT JOIN nodes nd ON e.dst = nd.name
),
spec AS (SELECT 'IN_NATION' AS rel, 'Customer' AS dom, 'Nation' AS rng)
SELECT src, rel, dst, src_label, dst_label,
       CASE WHEN src_label IS NULL OR dst_label IS NULL THEN 'unlabeled_endpoint'
            WHEN rel NOT IN (SELECT rel FROM spec) THEN 'unknown_rel'
            ELSE 'signature' END AS violation
FROM typed t
WHERE NOT EXISTS (
  SELECT 1 FROM spec s
  WHERE s.rel = t.rel AND s.dom = t.src_label AND s.rng = t.dst_label
)
"""


def _infer_types_kg(spark, sf):
    """Predicate-signature type inference (construct/typecheck
    .infer_types): IN_NATION's two domain signatures (Customer, Supplier)
    make every subject vote ambiguous (a 1-1 tie resolved
    lexicographically, n_values = 2) while Nation/Region entities
    accumulate unambiguous range votes — ambiguity is visible in the
    audit columns, not hidden. Votes aggregate with map-side combine and
    resolve through fuse_attributes' bigint tie-break."""
    from kgspark.construct.typecheck import infer_types

    _, edges = _tpch_name_graph(spark, sf)
    spec = [
        ("IN_NATION", "Customer", "Nation"),
        ("IN_NATION", "Supplier", "Nation"),
        ("IN_REGION", "Nation", "Region"),
    ]
    return infer_types(edges, spec, src="src", rel="rel", dst="dst")


_INFER_TYPES_SQL = """
WITH edges AS MATERIALIZED (
  SELECT c_name AS src, 'IN_NATION' AS rel, n_name AS dst
  FROM customer JOIN nation ON c_nationkey = n_nationkey
  UNION ALL SELECT s_name, 'IN_NATION', n_name
  FROM supplier JOIN nation ON s_nationkey = n_nationkey
  UNION ALL SELECT n_name, 'IN_REGION', r_name
  FROM nation JOIN region ON n_regionkey = r_regionkey
),
spec AS (
  SELECT 'IN_NATION' AS rel, 'Customer' AS dom, 'Nation' AS rng
  UNION ALL SELECT 'IN_NATION', 'Supplier', 'Nation'
  UNION ALL SELECT 'IN_REGION', 'Nation', 'Region'
),
domv AS (SELECT DISTINCT rel, dom FROM spec),
rngv AS (SELECT DISTINCT rel, rng FROM spec),
votes AS (
  SELECT entity_id, type, CAST(count(*) AS BIGINT) AS votes FROM (
    SELECT e.src AS entity_id, d.dom AS type FROM edges e JOIN domv d ON e.rel = d.rel
    UNION ALL
    SELECT e.dst, r.rng FROM edges e JOIN rngv r ON e.rel = r.rel
  ) GROUP BY 1, 2
),
ranked AS (
  SELECT *,
         CAST(SUM(votes) OVER (PARTITION BY entity_id) AS BIGINT) AS total_votes,
         COUNT(*) OVER (PARTITION BY entity_id) AS n_values,
         ROW_NUMBER() OVER (PARTITION BY entity_id
                            ORDER BY votes DESC, type ASC) AS rk
  FROM votes
)
SELECT entity_id, type, votes, total_votes, n_values,
       CAST((votes * 1000000) // total_votes AS BIGINT) AS support_ppm
FROM ranked WHERE rk = 1
"""


def _path_features_kg(spark, sf):
    """PRA relation-typed 2-hop path features (ops/graph_algs
    .path_features_2hop): Customer/Supplier -IN_NATION-> Nation
    -IN_REGION-> Region paths counted per (a, b, rel_path). One mid-node
    self-join + map-side-combinable aggregate; round trips excluded."""
    from kgspark.ops.graph_algs import path_features_2hop

    _, edges = _tpch_name_graph(spark, sf)
    return path_features_2hop(edges, src="src", rel="rel", dst="dst")


_PATH_FEATURES_SQL = """
WITH edges AS MATERIALIZED (
  SELECT c_name AS src, 'IN_NATION' AS rel, n_name AS dst
  FROM customer JOIN nation ON c_nationkey = n_nationkey
  UNION ALL SELECT s_name, 'IN_NATION', n_name
  FROM supplier JOIN nation ON s_nationkey = n_nationkey
  UNION ALL SELECT n_name, 'IN_REGION', r_name
  FROM nation JOIN region ON n_regionkey = r_regionkey
)
SELECT l.src AS a, r.dst AS b,
       l.rel || '>' || r.rel AS rel_path,
       CAST(count(*) AS BIGINT) AS n_paths
FROM edges l JOIN edges r ON l.dst = r.src
WHERE l.src <> r.dst
GROUP BY 1, 2, 3
"""


def _token_entropy_docs(spark, sf):
    """Per-doc Shannon token entropy (ops/textstats.token_entropy): the
    corpus-free lexical-diversity gate — millinat bigint fixed-point sums
    (partition-order exact), float math once per row, oracle replays it
    bit for bit including the 6-decimal rounding."""
    from kgspark.ops.textstats import token_entropy

    return token_entropy(_t(spark, sf, "documents"))


_TOKEN_ENTROPY_SQL = """
WITH terms AS (
  SELECT doc_id, unnest(string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ')) AS term
  FROM documents WHERE text IS NOT NULL
),
tc AS (
  SELECT doc_id, term, count(*) AS c
  FROM terms WHERE term <> '' GROUP BY doc_id, term
),
per_doc AS (
  SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
         sum(c * CAST(round(ln(c) * 1000, 0) AS BIGINT)) AS s
  FROM tc GROUP BY doc_id
)
SELECT doc_id, n_tokens,
       round(greatest(ln(n_tokens) - s / 1000.0 / n_tokens, 0.0), 6) AS entropy,
       CASE WHEN n_tokens <= 1 THEN 0.0
            ELSE round(greatest(ln(n_tokens) - s / 1000.0 / n_tokens, 0.0)
                       / ln(n_tokens), 6)
       END AS entropy_norm
FROM per_doc
"""


def _crawl_waves_docs(spark, sf):
    """Politeness-aware crawl scheduling (ops/curation.crawl_waves):
    deterministic synthetic frontier (7 hosts over documents, n_chars as
    the priority), budget 3 per host per wave — the oracle replays host
    extraction, the priority-then-salted-md5 order, and the slot/wave
    integer math digit for digit."""
    from kgspark.ops.curation import crawl_waves

    d = _t(spark, sf, "documents").select(
        F.concat(
            F.lit("https://host"),
            (F.col("doc_id") % 7).cast("string"),
            F.lit(".example/page/"),
            F.col("doc_id").cast("string"),
        ).alias("url"),
        F.col("n_chars").alias("prio"),
    )
    return crawl_waves(d, per_host_per_wave=3, priority_col="prio")


_CRAWL_WAVES_SQL = """
WITH frontier AS (
  SELECT 'https://host' || CAST(doc_id % 7 AS VARCHAR) || '.example/page/'
           || CAST(doc_id AS VARCHAR) AS url,
         n_chars AS prio,
         'host' || CAST(doc_id % 7 AS VARCHAR) || '.example' AS host
  FROM documents
),
ranked AS (
  SELECT *,
         row_number() OVER (
           PARTITION BY host
           ORDER BY prio DESC, md5(url || '|wave-v1'), url
         ) - 1 AS rk
  FROM frontier
)
SELECT url, prio, host,
       CAST(rk % 3 AS BIGINT) AS slot,
       CAST(rk // 3 AS BIGINT) AS wave
FROM ranked
"""


def _cm_heavy_hitters_docs(spark, sf):
    """Count-min frequency sketch + heavy-hitter point queries
    (ops/sketch.cm_sketch/cm_query): a deliberately skewed synthetic key
    (half the corpus lands on host0 — the hot-join-key shape) sketched
    into a 3x64 bigint grid, then every distinct key point-queried and
    flagged against the salting threshold. The oracle replays the salted
    md5 -> 60-bit strpos expansion -> mod-width positions, the counter
    grid, and the min-over-rows estimate digit for digit."""
    from kgspark.ops.sketch import cm_query, cm_sketch

    d = _t(spark, sf, "documents").select(
        F.concat(
            F.lit("host"),
            F.when(F.col("doc_id") % 4 < 2, F.lit(0))
            .otherwise(F.col("doc_id") % 11)
            .cast("string"),
        ).alias("key")
    )
    sk = cm_sketch(d, "key", depth=3, width=64)
    est = cm_query(sk, d, "key", depth=3, width=64)
    return est.select(
        "value",
        "est_count",
        (F.col("est_count") >= 150).cast("int").alias("is_heavy"),
    )


def _cm_heavy_hitters_sql(depth: int = 3, width: int = 64) -> str:
    digits = "0123456789abcdef"
    exp = " + ".join(
        f"CAST(strpos('{digits}', substr(h, {j + 1}, 1)) - 1 AS BIGINT) * {16 ** (14 - j)}"
        for j in range(15)
    )
    return f"""
WITH vals AS (
  SELECT 'host' || CAST(CASE WHEN doc_id % 4 < 2 THEN 0 ELSE doc_id % 11 END
                        AS VARCHAR) AS value
  FROM documents
),
cellsrc AS (
  SELECT t.j AS j, md5('cm-v1|' || value || '|' || CAST(t.j AS VARCHAR)) AS h
  FROM vals, unnest(range(0, {depth})) AS t(j)
),
sketch AS (
  SELECT j, ({exp}) % {width} AS pos, CAST(count(*) AS BIGINT) AS cnt
  FROM cellsrc GROUP BY 1, 2
),
cand AS (SELECT DISTINCT value FROM vals),
qcells AS (
  SELECT value, t.j AS j, md5('cm-v1|' || value || '|' || CAST(t.j AS VARCHAR)) AS h
  FROM cand, unnest(range(0, {depth})) AS t(j)
),
qpos AS (SELECT value, j, ({exp}) % {width} AS pos FROM qcells),
est AS (
  SELECT value, MIN(COALESCE(s.cnt, 0)) AS est_count
  FROM qpos q LEFT JOIN sketch s USING (j, pos) GROUP BY value
)
SELECT value, est_count,
       CAST(CASE WHEN est_count >= 150 THEN 1 ELSE 0 END AS INT) AS is_heavy
FROM est
"""


_CM_HEAVY_HITTERS_SQL = _cm_heavy_hitters_sql()


def _pq_topk_emb(spark, sf):
    """Product-quantization ANN (ops/pq.pq_fit/pq_encode/pq_topk): train
    4x8 codebooks over the 64-dim embeddings (2 integer-exact Lloyd
    rounds), encode the corpus to 4 codes per vector, and answer the
    vec_id-0 query by ADC — literal distance tables, pure projection over
    the code table, deterministic (distance, id) top-10. The oracle
    replays fit, encode, and the ADC scores bit for bit."""
    from kgspark.ops.pq import pq_encode, pq_fit, pq_topk

    e = _t(spark, sf, "embeddings")
    books = pq_fit(e, m=4, k=8, n_iter=2, scale=1000)
    query = list(e.filter(F.col("vec_id") == 0).first()["embedding"])
    enc = pq_encode(e, books, scale=1000)
    return pq_topk(enc, books, query, topk=10, scale=1000)


def _pq_sql(
    m: int = 4,
    k: int = 8,
    n_iter: int = 2,
    dim: int = 64,
    scale: int = 1000,
    salt: str = "pq-init-v1",
    topk: int = 10,
) -> str:
    """DuckDB replay of the full PQ pipeline — per-subspace Lloyd unrolls
    (the _kmeans_sql pattern with sliced position ranges and a shared
    seed ranking), final-codebook encode, and the ADC score against the
    vec_id-0 query vector."""
    digits = "0123456789abcdef"
    expansion = " + ".join(
        f"CAST(strpos('{digits}', substr(h, {j + 1}, 1)) - 1 AS BIGINT) * {16 ** (14 - j)}"
        for j in range(15)
    )
    dsub = dim // m
    parts = [
        f"""
WITH base AS MATERIALIZED (
  SELECT vec_id AS id,
         list_transform(CAST(embedding AS DOUBLE[]),
                        x -> CAST(floor(x * {scale}) AS BIGINT)) AS q
  FROM embeddings WHERE embedding IS NOT NULL
),
dims AS (SELECT CAST(u.i AS INT) AS pos FROM unnest(range(0, {dim})) u(i)),
qd AS MATERIALIZED (SELECT id, pos, q[pos + 1] AS v FROM base, dims),
init AS (
  SELECT id, row_number() OVER (ORDER BY ({expansion}), id) - 1 AS c
  FROM (SELECT id, md5(concat_ws('|', '{salt}', CAST(id AS VARCHAR))) AS h FROM base)
),
qv AS (SELECT pos, v FROM qd WHERE id = 0)"""
    ]
    for s in range(m):
        lo, hi = s * dsub, (s + 1) * dsub
        parts.append(
            f""",
s{s}cd0 AS MATERIALIZED (
  SELECT i.c, qd.pos, qd.v FROM init i JOIN qd ON qd.id = i.id
  WHERE i.c < {k} AND qd.pos >= {lo} AND qd.pos < {hi}
)"""
        )
        for t in range(1, n_iter + 1):
            p = t - 1
            parts.append(
                f""",
s{s}d{t} AS (
  SELECT qd.id, cd.c, sum((qd.v - cd.v) * (qd.v - cd.v)) AS dist
  FROM qd JOIN s{s}cd{p} cd USING (pos) GROUP BY qd.id, cd.c
),
s{s}a{t} AS (
  SELECT id, c FROM (
    SELECT id, c, row_number() OVER (PARTITION BY id ORDER BY dist, c) AS rn
    FROM s{s}d{t}
  ) WHERE rn = 1
),
s{s}u{t} AS MATERIALIZED (
  SELECT a.c, qd.pos, sum(qd.v) AS sm, count(*) AS n
  FROM s{s}a{t} a JOIN qd ON qd.id = a.id
  WHERE qd.pos >= {lo} AND qd.pos < {hi} GROUP BY a.c, qd.pos
),
s{s}cd{t} AS MATERIALIZED (
  SELECT c, pos, CAST((sm - (((sm % n) + n) % n)) // n AS BIGINT) AS v FROM s{s}u{t}
  UNION ALL
  SELECT c, pos, v FROM s{s}cd{p}
  WHERE c NOT IN (SELECT DISTINCT c FROM s{s}u{t})
)"""
            )
        parts.append(
            f""",
s{s}ed AS (
  SELECT qd.id, cd.c, sum((qd.v - cd.v) * (qd.v - cd.v)) AS dist
  FROM qd JOIN s{s}cd{n_iter} cd USING (pos) GROUP BY qd.id, cd.c
),
s{s}enc AS (
  SELECT id, c FROM (
    SELECT id, c, row_number() OVER (PARTITION BY id ORDER BY dist, c) AS rn
    FROM s{s}ed
  ) WHERE rn = 1
),
s{s}tab AS (
  SELECT cd.c, sum((qv.v - cd.v) * (qv.v - cd.v)) AS d
  FROM s{s}cd{n_iter} cd JOIN qv USING (pos) GROUP BY cd.c
)"""
        )
    unions = "\n    UNION ALL ".join(
        f"SELECT e.id, t.d FROM s{s}enc e JOIN s{s}tab t USING (c)" for s in range(m)
    )
    parts.append(
        f""",
scores AS (
  SELECT id, sum(d) AS adc FROM (
    {unions}
  ) GROUP BY id
)
SELECT id AS vec_id, CAST(adc AS BIGINT) AS adc_dist_units
FROM scores ORDER BY adc, id LIMIT {topk}"""
    )
    return "".join(parts)


_PQ_TOPK_SQL = _pq_sql()


def _distmult_train_kg(spark, sf):
    """DistMult KG-embedding training (ops/distmult.distmult_train): 2
    full-batch fixed-point epochs over the nation->IN_REGION->region
    graph, dim 4 — the bilinear complement to transe_train_kg, with every
    cubic term STAGED through two floor-divisions so all intermediates
    stay exact; the DuckDB oracle unrolls the whole training run with the
    same staging and hash-matches the final embeddings bit for bit."""
    from kgspark.ops.distmult import distmult_train

    n, r = _t(spark, sf, "nation"), _t(spark, sf, "region")
    edges = n.join(r, n.n_regionkey == r.r_regionkey).select(
        F.col("n_name").alias("src_id"),
        F.lit("IN_REGION").alias("rel"),
        F.col("r_name").alias("dst_id"),
    )
    ent, rel = distmult_train(edges, dim=4, epochs=2)
    return ent.select(
        F.lit("e").alias("kind"), "id", F.posexplode("vec").alias("d", "v")
    ).unionAll(
        rel.select(F.lit("r").alias("kind"), "id", F.posexplode("vec").alias("d", "v"))
    )


def _distmult_sql(
    dim: int = 4,
    epochs: int = 2,
    lr: int = 10_000,
    margin: int = 1_000_000,
    amp: int = 500_000,
    scale: int = 1_000_000,
    init_salt: str = "distmult-init-v1",
    neg_salt: str = "distmult-neg-v1",
) -> str:
    digits = "0123456789abcdef"

    def expansion(h: str) -> str:
        return " + ".join(
            f"CAST(strpos('{digits}', substr({h}, {j + 1}, 1)) - 1 AS BIGINT) * {16 ** (14 - j)}"
            for j in range(15)
        )

    def fdiv(x: str) -> str:
        return (
            f"CAST(({x} - ((({x}) % {scale}) + {scale}) % {scale}) / {scale} AS BIGINT)"
        )

    span = 2 * amp + 1
    parts = [
        f"""
WITH t AS MATERIALIZED (
  SELECT DISTINCT n_name AS s, 'IN_REGION' AS r, r_name AS o
  FROM nation JOIN region ON n_regionkey = r_regionkey
),
ents AS MATERIALIZED (SELECT DISTINCT id FROM (SELECT s AS id FROM t UNION ALL SELECT o FROM t)),
rels AS (SELECT DISTINCT r AS id FROM t),
dims AS (SELECT CAST(u.i AS INT) AS d FROM unnest(range(0, {dim})) u(i)),
e0 AS MATERIALIZED (
  SELECT 'e' AS kind, id, d, (({expansion('h')}) % {span}) - {amp} AS v
  FROM (SELECT id, d, md5(concat_ws('|', '{init_salt}', id, CAST(d AS VARCHAR))) AS h
        FROM ents, dims)
  UNION ALL
  SELECT 'r', id, d, (({expansion('h')}) % {span}) - {amp}
  FROM (SELECT id, d, md5(concat_ws('|', '{init_salt}', id, CAST(d AS VARCHAR))) AS h
        FROM rels, dims)
),
idxn AS (SELECT id AS cand, row_number() OVER (ORDER BY id) - 1 AS idx FROM ents),
nn AS (SELECT count(*) AS n FROM ents),
pr AS (SELECT s, r, o, ({expansion('h')}) % (SELECT n FROM nn) AS idx
       FROM (SELECT s, r, o, md5(concat_ws('|', '{neg_salt}', s, r, o, '0')) AS h FROM t)),
pairs AS MATERIALIZED (
  SELECT p.s, p.r, p.o, i.cand AS oneg
  FROM pr p JOIN idxn i USING (idx)
  LEFT JOIN t t2 ON t2.s = p.s AND t2.r = p.r AND t2.o = i.cand
  WHERE t2.s IS NULL
)"""
    ]
    for t in range(1, epochs + 1):
        p = t - 1
        term = lambda other: fdiv(f"({fdiv('(sv*rv)')} * {other})")  # noqa: E731
        parts.append(
            f""",
pe{t} AS MATERIALIZED (
  SELECT p.s, p.r, p.o, p.oneg, es.d,
         es.v AS sv, rr.v AS rv, eo.v AS ov, en.v AS nv
  FROM pairs p
  JOIN e{p} es ON es.kind = 'e' AND es.id = p.s
  JOIN e{p} eo ON eo.kind = 'e' AND eo.id = p.o AND eo.d = es.d
  JOIN e{p} en ON en.kind = 'e' AND en.id = p.oneg AND en.d = es.d
  JOIN e{p} rr ON rr.kind = 'r' AND rr.id = p.r AND rr.d = es.d
),
sc{t} AS (SELECT s, r, o, oneg,
                 CAST(sum({term('ov')}) AS BIGINT) AS fp,
                 CAST(sum({term('nv')}) AS BIGINT) AS fn
          FROM pe{t} GROUP BY s, r, o, oneg),
act{t} AS (SELECT s, r, o, oneg FROM sc{t} WHERE {margin} + fn - fp > 0),
g{t} AS (SELECT pe.s, pe.r, pe.o, pe.oneg, pe.d,
                {fdiv(f"({fdiv(f'(rv*{lr})')} * (nv - ov))")} AS gs,
                {fdiv(f"({fdiv(f'(sv*{lr})')} * (nv - ov))")} AS gr,
                {fdiv(f"({fdiv(f'(sv*{lr})')} * rv)")} AS gor
         FROM pe{t} pe JOIN act{t} a
           ON a.s = pe.s AND a.r = pe.r AND a.o = pe.o AND a.oneg = pe.oneg),
c{t} AS (
  SELECT 'e' AS kind, s AS id, d, gs AS g FROM g{t}
  UNION ALL SELECT 'e', o, d, -gor FROM g{t}
  UNION ALL SELECT 'e', oneg, d, gor FROM g{t}
  UNION ALL SELECT 'r', r, d, gr FROM g{t}),
gr{t} AS (SELECT kind, id, d, CAST(sum(g) AS BIGINT) AS g FROM c{t} GROUP BY kind, id, d),
e{t} AS MATERIALIZED (SELECT e.kind, e.id, e.d, e.v - COALESCE(gr.g, 0) AS v
         FROM e{p} e LEFT JOIN gr{t} gr
           ON gr.kind = e.kind AND gr.id = e.id AND gr.d = e.d)"""
        )
    parts.append(f"\nSELECT kind, id, d, CAST(v AS BIGINT) AS v FROM e{epochs}")
    return "".join(parts)


_DISTMULT_TRAIN_SQL = _distmult_sql()


def _textrank_docs(spark, sf):
    """TextRank extractive sentence ranking (ops/textrank.textrank_sentences):
    per-document sentence graphs (distinct-token overlap >= 2 => edge)
    ranked by integer fixed-point PageRank, top-3 sentences per doc. The
    corpus gets the split_sentences punctuation injection (no punctuation
    in the synthetic text otherwise); the oracle replays segmentation,
    tokenization, the inverted-index pair join, and every per-document
    PageRank round bit-for-bit."""
    from kgspark.ops.textrank import textrank_sentences

    d = _t(spark, sf, "documents").select(
        "doc_id",
        F.regexp_replace("text", r"\b(table|row)\b", "$1.").alias("text"),
    )
    return textrank_sentences(d, min_overlap=2, max_iter=3, top_k=3)


def _textrank_sql(
    iters: int = 3,
    scale: int = 10**12,
    d_pct: int = 85,
    min_overlap: int = 2,
    max_token_sents: int = 1000,
    top_k: int = 3,
) -> str:
    parts = [
        f"""
WITH punct AS (
  SELECT doc_id, regexp_replace(text, '\\b(table|row)\\b', '\\1.', 'g') AS text
  FROM documents WHERE text IS NOT NULL
),
marked AS (
  SELECT doc_id,
         list_filter(
           string_split(
             regexp_replace(
               trim(regexp_replace(
                 regexp_replace(text, '[\\x00-\\x08\\x0e-\\x1f\\x7f]', '', 'g'),
                 '\\s+', ' ', 'g')),
               '([.!?]+) ', '\\1' || chr(1), 'g'),
             chr(1)),
           s -> trim(s) <> '') AS sents
  FROM punct
),
sents AS MATERIALIZED (
  SELECT doc_id, generate_subscripts(sents, 1) - 1 AS sent_id, unnest(sents) AS sentence
  FROM marked
),
toks AS MATERIALIZED (
  SELECT DISTINCT doc_id, sent_id, tok FROM (
    SELECT doc_id, sent_id,
           unnest(string_split(trim(regexp_replace(lower(sentence), '[^a-z0-9]+', ' ', 'g')), ' ')) AS tok
    FROM sents)
  WHERE length(tok) >= 2
),
keep AS (
  SELECT doc_id, tok FROM toks GROUP BY doc_id, tok HAVING count(*) <= {max_token_sents}
),
ct AS (SELECT t.doc_id, t.sent_id, t.tok FROM toks t JOIN keep k ON t.doc_id = k.doc_id AND t.tok = k.tok),
ov AS (
  SELECT a.doc_id, a.sent_id AS sa, b.sent_id AS sb
  FROM ct a JOIN ct b ON a.doc_id = b.doc_id AND a.tok = b.tok AND a.sent_id < b.sent_id
  GROUP BY 1, 2, 3 HAVING count(*) >= {min_overlap}
),
edges AS MATERIALIZED (
  SELECT doc_id, sa AS src, sb AS dst FROM ov
  UNION ALL SELECT doc_id, sb, sa FROM ov
),
nodes AS MATERIALIZED (SELECT doc_id, sent_id FROM sents),
ng AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM nodes GROUP BY doc_id),
deg AS (SELECT doc_id, src, count(*) AS deg FROM edges GROUP BY 1, 2),
r0 AS (SELECT nd.doc_id, nd.sent_id, CAST({scale} // g.n AS BIGINT) AS r
       FROM nodes nd JOIN ng g ON nd.doc_id = g.doc_id)"""
    ]
    for i in range(1, iters + 1):
        p = i - 1
        parts.append(
            f""",
c{i} AS (SELECT e.doc_id, e.dst AS sent_id, SUM(r.r // d.deg) AS s
        FROM edges e JOIN r{p} r ON e.doc_id = r.doc_id AND e.src = r.sent_id
                     JOIN deg d ON e.doc_id = d.doc_id AND e.src = d.src
        GROUP BY 1, 2),
dg{i} AS (SELECT r.doc_id, CAST(COALESCE(SUM(r.r), 0) AS BIGINT) AS m
         FROM r{p} r LEFT JOIN deg d ON r.doc_id = d.doc_id AND r.sent_id = d.src
         WHERE d.src IS NULL GROUP BY r.doc_id),
r{i} AS (SELECT nd.doc_id, nd.sent_id,
        CAST((({100 - d_pct} * {scale}) // (100 * g.n))
             + ({d_pct} * (COALESCE(c.s, 0) + COALESCE(dg.m, 0) // g.n)) // 100
        AS BIGINT) AS r
       FROM nodes nd JOIN ng g ON nd.doc_id = g.doc_id
       LEFT JOIN c{i} c ON nd.doc_id = c.doc_id AND nd.sent_id = c.sent_id
       LEFT JOIN dg{i} dg ON nd.doc_id = dg.doc_id)"""
        )
    parts.append(
        f""",
ranked AS (
  SELECT s.doc_id, s.sent_id, s.sentence, r.r AS rank_units,
         row_number() OVER (PARTITION BY s.doc_id ORDER BY r.r DESC, s.sent_id ASC) AS rn
  FROM sents s JOIN r{iters} r ON s.doc_id = r.doc_id AND s.sent_id = r.sent_id
)
SELECT doc_id, sent_id, sentence, rank_units, rn FROM ranked WHERE rn <= {top_k}"""
    )
    return "".join(parts)


_TEXTRANK_SQL = _textrank_sql()


def _ngram_novelty_docs(spark, sf):
    """Per-doc n-gram novelty (ops/curation.ngram_novelty): fraction of a
    document's 5-grams that are corpus-unique, exact integer ppm. No
    join-back: corpus-count-1 grams re-aggregate to their single owner
    via min(doc_id) carried through the count aggregate. The oracle
    replays gram hashing, the unique set, and the floor division."""
    from kgspark.ops.curation import ngram_novelty

    return ngram_novelty(_t(spark, sf, "documents"), n=5, hash="md5")


_NGRAM_NOVELTY_SQL = """
WITH toks AS (
  SELECT doc_id,
         string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS t
  FROM documents WHERE text IS NOT NULL
),
totals AS (
  SELECT doc_id, CAST(greatest(len(t) - 4, 0) AS BIGINT) AS n_grams
  FROM toks WHERE len(t) >= 5
),
grams AS (
  SELECT doc_id, md5(array_to_string(t[i : i + 4], ' ')) AS h
  FROM toks, LATERAL (SELECT unnest(range(1, greatest(len(t) - 3, 1))) AS i) u
),
uniq AS (
  SELECT mn AS doc_id, CAST(count(*) AS BIGINT) AS n_unique FROM (
    SELECT h, count(*) AS c, min(doc_id) AS mn FROM grams GROUP BY h
  ) WHERE c = 1 GROUP BY mn
)
SELECT t.doc_id, t.n_grams, COALESCE(u.n_unique, 0) AS n_unique,
       (1000000 * COALESCE(u.n_unique, 0)) // t.n_grams AS novelty_ppm
FROM totals t LEFT JOIN uniq u ON t.doc_id = u.doc_id
"""


def _decontaminate_spans_docs(spark, sf):
    """Surgical span-level decontamination
    (ops/curation.contaminated_spans): eval set = the first 12 tokens of
    every 25th document (a benchmark quoting web text); the query locates
    the exact 8-gram-overlap intervals in the corpus instead of dropping
    whole documents. The oracle replays gram hashing, the broadcast eval
    probe, and the islands merge."""
    from kgspark.ops.curation import contaminated_spans

    d = _t(spark, sf, "documents").filter(F.col("text").isNotNull())
    toks = F.split(
        F.trim(F.regexp_replace(F.lower("text"), r"\s+", " ")), " "
    )
    ev = d.filter(F.col("doc_id") % 25 == 0).select(
        F.concat_ws(" ", F.slice(toks, 1, 12)).alias("text")
    )
    return contaminated_spans(d, ev, n=8, hash="md5")


_DECONTAM_SPANS_SQL = """
WITH toks AS (
  SELECT doc_id,
         string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS t
  FROM documents WHERE text IS NOT NULL
),
grams AS (
  SELECT doc_id, i AS pos, md5(array_to_string(t[i : i + 7], ' ')) AS h
  FROM toks, LATERAL (SELECT unnest(range(1, greatest(len(t) - 6, 1))) AS i) u
),
ev AS (
  SELECT DISTINCT md5(array_to_string(list_slice(e, i, i + 7), ' ')) AS h
  FROM (SELECT t[1 : 12] AS e FROM toks WHERE doc_id % 25 = 0),
       LATERAL (SELECT unnest(range(1, greatest(len(e) - 6, 1))) AS i) u
),
hits AS (SELECT doc_id, pos FROM grams JOIN ev USING (h)),
flagged AS (
  SELECT doc_id, pos,
         CASE WHEN pos > coalesce(max(pos + 7) OVER (PARTITION BY doc_id ORDER BY pos
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) + 1
              THEN 1 ELSE 0 END AS ni
  FROM hits
),
islands AS (
  SELECT doc_id, pos,
         sum(ni) OVER (PARTITION BY doc_id ORDER BY pos
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
  FROM flagged
)
SELECT doc_id, CAST(min(pos) AS BIGINT) AS span_start,
       CAST(max(pos) + 7 AS BIGINT) AS span_end
FROM islands GROUP BY doc_id, island
"""


def _event_transitions(spark, sf):
    """First-order user-journey transition matrix
    (ops/behavior.event_transitions): per-user lag window (total order
    by ts then event_id — the never-rand tie-break), map-side-combined
    transition counts, exact integer-ppm probabilities. The oracle
    replays the lag, both aggregates, and the floor division."""
    from kgspark.ops.behavior import event_transitions

    return event_transitions(_t(spark, sf, "events"))


_EVENT_TRANSITIONS_SQL = """
WITH seq AS (
  SELECT user_id, event_type,
         lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
  FROM events
  WHERE user_id IS NOT NULL AND ts IS NOT NULL AND event_type IS NOT NULL
),
pairs AS (
  SELECT prev AS src_event, event_type AS dst_event,
         CAST(count(*) AS BIGINT) AS n_transitions
  FROM seq WHERE prev IS NOT NULL GROUP BY 1, 2
),
totals AS (
  SELECT src_event, CAST(SUM(n_transitions) AS BIGINT) AS n_from_src
  FROM pairs GROUP BY 1
)
SELECT p.src_event, p.dst_event, p.n_transitions, t.n_from_src,
       (1000000 * p.n_transitions) // t.n_from_src AS p_ppm
FROM pairs p JOIN totals t ON p.src_event = t.src_event
"""


def _kwic_docs(spark, sf):
    """KWIC concordance (extract/mentions.mention_snippets): one row per
    alias OCCURRENCE with 0-based offset and 18-char contexts — the
    annotator surface behind mention detection (only snippets leave the
    cluster). Pure JVM: positions from a running-length window over the
    split parts; the oracle replays the split, the window sum, and both
    substrings exactly."""
    from kgspark.extract.mentions import mention_snippets

    d = _t(spark, sf, "documents").select(
        F.col("doc_id").cast("string").alias("url"), "text"
    )
    alias_df = spark.createDataFrame(
        [(w, "Term", w) for w in ["spark", "join", "window", "merge"]],
        "alias string, label string, name string",
    )
    out = mention_snippets(d, alias_df, window=18)
    return out.select(
        F.col("url").cast("long").alias("doc_id"),
        "alias", "pos", "left_ctx", "right_ctx",
    )


_KWIC_SQL = """
WITH al AS (SELECT 'spark' AS alias UNION ALL SELECT 'join'
            UNION ALL SELECT 'window' UNION ALL SELECT 'merge'),
hits AS (
  SELECT d.doc_id, a.alias, d.text
  FROM documents d, al a
  WHERE d.text IS NOT NULL AND contains(d.text, a.alias)
),
parts AS (
  SELECT doc_id, alias, text,
         generate_subscripts(p, 1) - 1 AS i, unnest(p) AS part, len(p) - 1 AS n
  FROM (SELECT doc_id, alias, text, string_split(text, alias) AS p FROM hits)
),
occ AS (
  SELECT doc_id, alias, text,
         SUM(length(part)) OVER (PARTITION BY doc_id, alias ORDER BY i
                                 ROWS UNBOUNDED PRECEDING)
           + i * length(alias) AS pos
  FROM parts WHERE i < n
)
SELECT doc_id, alias, CAST(pos AS BIGINT) AS pos,
       substr(text, CAST(GREATEST(pos - 18 + 1, 1) AS INT), CAST(LEAST(pos, 18) AS INT)) AS left_ctx,
       substr(text, CAST(pos + length(alias) + 1 AS INT), 18) AS right_ctx
FROM occ
"""


def _scc_tpch(spark, sf):
    """Strongly connected components (ops/graph_algs.scc, distributed
    coloring) over a directed TPC-H entity graph whose nation<->region
    tier is cyclic: each region + its nations collapses to one SCC, the
    customer tails stay singletons. The oracle is ALGORITHM-INDEPENDENT:
    a recursive-CTE transitive closure computes mutual reachability
    directly and takes the same canonical min-member id."""
    from kgspark.ops.graph_algs import scc

    c, n = _t(spark, sf, "customer"), _t(spark, sf, "nation")
    r = _t(spark, sf, "region")
    nr = n.join(r, n.n_regionkey == r.r_regionkey)
    edges = (
        c.join(n, c.c_nationkey == n.n_nationkey)
        .select(F.col("c_name").alias("src"), F.col("n_name").alias("dst"))
        .unionByName(nr.select(F.col("n_name").alias("src"), F.col("r_name").alias("dst")))
        .unionByName(nr.select(F.col("r_name").alias("src"), F.col("n_name").alias("dst")))
    )
    return scc(edges).withColumnRenamed("name", "node")


_SCC_SQL = """
WITH RECURSIVE e AS (
  SELECT DISTINCT src, dst FROM (
    SELECT c_name AS src, n_name AS dst FROM customer JOIN nation ON c_nationkey = n_nationkey
    UNION ALL SELECT n_name, r_name FROM nation JOIN region ON n_regionkey = r_regionkey
    UNION ALL SELECT r_name, n_name FROM nation JOIN region ON n_regionkey = r_regionkey
  ) WHERE src <> dst
),
nodes AS (SELECT src AS name FROM e UNION SELECT dst FROM e),
reach AS (
  SELECT src AS a, dst AS b FROM e
  UNION
  SELECT r.a, e.dst FROM reach r JOIN e ON r.b = e.src
),
mutual AS (
  SELECT r1.a AS v, r1.b AS w
  FROM reach r1 JOIN reach r2 ON r1.a = r2.b AND r1.b = r2.a
)
SELECT n.name AS node,
       CASE WHEN min(m.w) IS NULL THEN n.name
            ELSE least(n.name, min(m.w)) END AS scc_id
FROM nodes n LEFT JOIN mutual m ON n.name = m.v
GROUP BY n.name
"""


def _graph_stats_tpch(spark, sf):
    """Whole-graph reciprocity + degree assortativity
    (ops/graph_algs.graph_stats) over a TPC-H entity graph with the
    nation<->region tier deliberately reciprocal (region->nation union'd
    reversed) so the reciprocity counter has signal. Exact bigint moment
    sums, integer-ppm reciprocity, one rounded float for the Pearson
    correlation — the oracle replays every sum and the final expression."""
    from kgspark.ops.graph_algs import graph_stats

    c, n = _t(spark, sf, "customer"), _t(spark, sf, "nation")
    r = _t(spark, sf, "region")
    nr = n.join(r, n.n_regionkey == r.r_regionkey)
    edges = (
        c.join(n, c.c_nationkey == n.n_nationkey)
        .select(F.col("c_name").alias("src"), F.col("n_name").alias("dst"))
        .unionByName(nr.select(F.col("n_name").alias("src"), F.col("r_name").alias("dst")))
        .unionByName(nr.select(F.col("r_name").alias("src"), F.col("n_name").alias("dst")))
    )
    return graph_stats(edges)


_GRAPH_STATS_SQL = """
WITH e AS MATERIALIZED (
  SELECT DISTINCT src, dst FROM (
    SELECT c_name AS src, n_name AS dst FROM customer JOIN nation ON c_nationkey = n_nationkey
    UNION ALL SELECT n_name, r_name FROM nation JOIN region ON n_regionkey = r_regionkey
    UNION ALL SELECT r_name, n_name FROM nation JOIN region ON n_regionkey = r_regionkey
  ) WHERE src <> dst
),
recip AS (
  SELECT CAST(count(*) AS BIGINT) AS n_reciprocal
  FROM e WHERE EXISTS (SELECT 1 FROM e r WHERE r.src = e.dst AND r.dst = e.src)
),
nn AS (SELECT CAST(count(*) AS BIGINT) AS n_nodes
       FROM (SELECT src AS nd FROM e UNION SELECT dst FROM e)),
od AS (SELECT src, CAST(count(*) AS BIGINT) AS x FROM e GROUP BY src),
idg AS (SELECT dst, CAST(count(*) AS BIGINT) AS y FROM e GROUP BY dst),
mo AS (
  SELECT CAST(count(*) AS BIGINT) AS n_edges,
         CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
         CAST(SUM(x * y) AS BIGINT) AS sxy,
         CAST(SUM(x * x) AS BIGINT) AS sxx, CAST(SUM(y * y) AS BIGINT) AS syy
  FROM e JOIN od ON e.src = od.src JOIN idg ON e.dst = idg.dst
)
SELECT nn.n_nodes, mo.n_edges, recip.n_reciprocal,
       (1000000 * recip.n_reciprocal) // mo.n_edges AS reciprocity_ppm,
       CASE WHEN (n_edges * sxx - sx * sx) = 0 OR (n_edges * syy - sy * sy) = 0
            THEN CAST(0.0 AS DOUBLE)
            ELSE round(CAST(n_edges * sxy - sx * sy AS DOUBLE)
                       / sqrt(CAST(n_edges * sxx - sx * sx AS DOUBLE)
                              * CAST(n_edges * syy - sy * sy AS DOUBLE)), 6)
       END AS assortativity
FROM mo, recip, nn
"""


def _wl_roles_tpch(spark, sf):
    """1-WL color refinement (ops/wl.wl_refine, 2 rounds) over the directed
    TPC-H entity graph — structural-role labels: all customers of one
    nation+segment shape converge to one label, nations separate from
    segments by in/out digests. Commutative (sum, count) multiset digest
    (no collect_list — hub-safe); the oracle replays the md5-prefix fold
    and both rounds bit-for-bit."""
    from kgspark.ops.wl import wl_refine

    c, n = _t(spark, sf, "customer"), _t(spark, sf, "nation")
    s, r = _t(spark, sf, "supplier"), _t(spark, sf, "region")
    edges = (
        c.join(n, c.c_nationkey == n.n_nationkey)
        .select(F.col("c_name").alias("src"), F.col("n_name").alias("dst"))
        .unionByName(
            c.select(F.col("c_name").alias("src"), F.col("c_mktsegment").alias("dst"))
        )
        .unionByName(
            s.join(n, s.s_nationkey == n.n_nationkey)
            .select(F.col("s_name").alias("src"), F.col("n_name").alias("dst"))
        )
        .unionByName(
            n.join(r, n.n_regionkey == r.r_regionkey)
            .select(F.col("n_name").alias("src"), F.col("r_name").alias("dst"))
        )
    )
    return wl_refine(edges, rounds=2).withColumnRenamed("name", "node")


def _wl_sql(rounds: int = 2) -> str:
    digits = "0123456789abcdef"

    def term(x: str) -> str:
        exp = " + ".join(
            f"CAST(strpos('{digits}', substr(md5({x}), {j + 1}, 1)) - 1 AS BIGINT)"
            f" * {16 ** (14 - j)}"
            for j in range(15)
        )
        return f"(({exp}) % 4294967296)"

    parts = [
        """
WITH edges AS MATERIALIZED (
  SELECT c_name AS src, n_name AS dst FROM customer JOIN nation ON c_nationkey = n_nationkey
  UNION ALL SELECT c_name, c_mktsegment FROM customer
  UNION ALL SELECT s_name, n_name FROM supplier JOIN nation ON s_nationkey = n_nationkey
  UNION ALL SELECT n_name, r_name FROM nation JOIN region ON n_regionkey = r_regionkey
),
nodes AS MATERIALIZED (SELECT src AS name FROM edges UNION SELECT dst FROM edges),
l0 AS (SELECT name, '.' AS lab FROM nodes)"""
    ]
    for i in range(1, rounds + 1):
        p = i - 1
        parts.append(
            f""",
od{i} AS (SELECT e.src AS name, SUM({term('l.lab')}) AS s, COUNT(*) AS c
         FROM edges e JOIN l{p} l ON e.dst = l.name GROUP BY e.src),
id{i} AS (SELECT e.dst AS name, SUM({term('l.lab')}) AS s, COUNT(*) AS c
         FROM edges e JOIN l{p} l ON e.src = l.name GROUP BY e.dst),
l{i} AS (SELECT n.name,
        md5(concat_ws('|', l.lab,
            CAST(COALESCE(o.s, 0) AS VARCHAR), CAST(COALESCE(o.c, 0) AS VARCHAR),
            CAST(COALESCE(i.s, 0) AS VARCHAR), CAST(COALESCE(i.c, 0) AS VARCHAR))) AS lab
       FROM nodes n JOIN l{p} l ON n.name = l.name
       LEFT JOIN od{i} o ON n.name = o.name
       LEFT JOIN id{i} i ON n.name = i.name)"""
        )
    parts.append(f"\nSELECT name AS node, lab AS wl_label FROM l{rounds}")
    return "".join(parts)


_WL_ROLES_SQL = _wl_sql()


def _entity_pmi_docs(spark, sf):
    """Entity co-occurrence PMI (extract/cooccur.entity_cooccurrence) over
    Aho-Corasick mention detection (extract/mentions.detect_mentions):
    the candidate-relatedness-edge generator — document-level
    co-occurrence counts scored as millinat PMI (each ln taken once per
    bigint count and rounded, the token_entropy discipline) plus 6-dp
    NPMI. The oracle replays detection (contains), the per-doc cap, the
    pair join, and every rounded log term."""
    from kgspark.extract.cooccur import entity_cooccurrence
    from kgspark.extract.mentions import detect_mentions

    d = _t(spark, sf, "documents").select(
        F.col("doc_id").cast("string").alias("url"), "text"
    )
    alias_df = spark.createDataFrame(
        [
            (w, "Term", w)
            for w in ["spark", "join", "window", "merge", "batch", "stream", "vector", "hash"]
        ],
        "alias string, label string, name string",
    )
    m = detect_mentions(d, alias_df).select(
        F.col("url").cast("long").alias("doc_id"), F.col("alias").alias("entity")
    )
    return entity_cooccurrence(m, min_pairs=2, max_entities_per_doc=200)


_ENTITY_PMI_SQL = """
WITH hits AS (
  SELECT DISTINCT doc_id, kw AS entity
  FROM documents,
       (SELECT 'spark' AS kw UNION ALL SELECT 'join' UNION ALL SELECT 'window'
        UNION ALL SELECT 'merge' UNION ALL SELECT 'batch' UNION ALL SELECT 'stream'
        UNION ALL SELECT 'vector' UNION ALL SELECT 'hash') k
  WHERE contains(text, kw)
),
small AS (SELECT doc_id FROM hits GROUP BY doc_id HAVING count(*) <= 200),
kept AS MATERIALIZED (SELECT h.doc_id, h.entity FROM hits h JOIN small s ON h.doc_id = s.doc_id),
nd AS (SELECT CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs FROM kept),
na AS (SELECT entity, CAST(count(*) AS BIGINT) AS n FROM kept GROUP BY entity),
pairs AS (
  SELECT a.entity AS entity_a, b.entity AS entity_b, CAST(count(*) AS BIGINT) AS n_ab
  FROM kept a JOIN kept b ON a.doc_id = b.doc_id AND a.entity < b.entity
  GROUP BY 1, 2 HAVING count(*) >= 2
),
sc AS (
  SELECT p.entity_a, p.entity_b, p.n_ab, x.n AS n_a, y.n AS n_b,
         (SELECT n_docs FROM nd) AS n_docs
  FROM pairs p JOIN na x ON p.entity_a = x.entity JOIN na y ON p.entity_b = y.entity
),
t AS (
  SELECT *,
         CAST(round(ln(n_ab) * 1000) AS BIGINT)
           + CAST(round(ln(n_docs) * 1000) AS BIGINT)
           - CAST(round(ln(n_a) * 1000) AS BIGINT)
           - CAST(round(ln(n_b) * 1000) AS BIGINT) AS pmi_milli,
         CAST(round(ln(n_docs) * 1000) AS BIGINT)
           - CAST(round(ln(n_ab) * 1000) AS BIGINT) AS dnm
  FROM sc
)
SELECT entity_a, entity_b, n_ab, n_a, n_b, n_docs, pmi_milli,
       CASE WHEN dnm = 0 THEN 1.0
            ELSE round(pmi_milli / CAST(dnm AS DOUBLE), 6) END AS npmi
FROM t
"""


def _rake_docs(spark, sf):
    """RAKE keyword extraction (ops/rake.rake_keywords): candidate phrases
    between stopword/sentence boundaries via the gaps-and-islands window,
    word scores (1000*deg) div freq in exact milli-units, phrase = sum of
    member-word scores, top-3 per doc. Same punctuation injection as
    split_sentences_docs; the oracle replays segmentation, the islands
    window, deg/freq, and the floor-division scores bit-for-bit."""
    from kgspark.ops.rake import rake_keywords

    d = _t(spark, sf, "documents").select(
        "doc_id",
        F.regexp_replace("text", r"\b(table|row)\b", "$1.").alias("text"),
    )
    return rake_keywords(d, top_k=3)


def _rake_sql(max_phrase_len: int = 5, top_k: int = 3) -> str:
    from kgspark.ops.rake import DEFAULT_STOPWORDS

    stoplist = ", ".join(f"'{s}'" for s in DEFAULT_STOPWORDS)
    return f"""
WITH punct AS (
  SELECT doc_id, regexp_replace(text, '\\b(table|row)\\b', '\\1.', 'g') AS text
  FROM documents WHERE text IS NOT NULL
),
marked AS (
  SELECT doc_id,
         list_filter(
           string_split(
             regexp_replace(
               trim(regexp_replace(
                 regexp_replace(text, '[\\x00-\\x08\\x0e-\\x1f\\x7f]', '', 'g'),
                 '\\s+', ' ', 'g')),
               '([.!?]+) ', '\\1' || chr(1), 'g'),
             chr(1)),
           s -> trim(s) <> '') AS sents
  FROM punct
),
sents AS (
  SELECT doc_id, generate_subscripts(sents, 1) - 1 AS sent_id, unnest(sents) AS sentence
  FROM marked
),
toks AS (
  SELECT doc_id, sent_id, pos - 1 AS pos, tok FROM (
    SELECT doc_id, sent_id, generate_subscripts(arr, 1) AS pos, unnest(arr) AS tok
    FROM (SELECT doc_id, sent_id,
                 string_split(trim(regexp_replace(lower(sentence), '[^a-z0-9]+', ' ', 'g')), ' ') AS arr
          FROM sents))
  WHERE tok <> ''
),
grps AS (
  SELECT doc_id, sent_id, pos, tok, stp,
         SUM(CASE WHEN stp THEN 1 ELSE 0 END)
           OVER (PARTITION BY doc_id, sent_id ORDER BY pos ROWS UNBOUNDED PRECEDING) AS grp
  FROM (SELECT *, tok IN ({stoplist}) AS stp FROM toks)
),
words AS MATERIALIZED (SELECT doc_id, sent_id, grp, pos, tok FROM grps WHERE NOT stp),
phrases AS MATERIALIZED (
  SELECT doc_id, sent_id, grp, count(*) AS n_words,
         string_agg(tok, ' ' ORDER BY pos) AS phrase
  FROM words GROUP BY 1, 2, 3
),
occur AS MATERIALIZED (
  SELECT w.doc_id, w.sent_id, w.grp, w.tok, p.n_words
  FROM words w JOIN phrases p
    ON w.doc_id = p.doc_id AND w.sent_id = p.sent_id AND w.grp = p.grp
),
wscore AS (
  SELECT doc_id, tok, (1000 * SUM(n_words)) // count(*) AS ws
  FROM occur GROUP BY 1, 2
),
pscore AS (
  SELECT o.doc_id, o.sent_id, o.grp, SUM(s.ws) AS score_milli
  FROM occur o JOIN wscore s ON o.doc_id = s.doc_id AND o.tok = s.tok
  GROUP BY 1, 2, 3
),
scored AS (
  SELECT p.doc_id, p.phrase, MAX(p.n_words) AS n_words, MAX(ps.score_milli) AS score_milli
  FROM phrases p JOIN pscore ps
    ON p.doc_id = ps.doc_id AND p.sent_id = ps.sent_id AND p.grp = ps.grp
  WHERE p.n_words <= {max_phrase_len}
  GROUP BY 1, 2
),
ranked AS (
  SELECT doc_id, phrase, n_words, score_milli,
         row_number() OVER (PARTITION BY doc_id ORDER BY score_milli DESC, phrase ASC) AS rn
  FROM scored
)
SELECT doc_id, phrase, CAST(n_words AS BIGINT) AS n_words,
       CAST(score_milli AS BIGINT) AS score_milli, rn
FROM ranked WHERE rn <= {top_k}
"""


_RAKE_SQL = _rake_sql()


def _hll_distinct_events(spark, sf):
    """HyperLogLog distinct users per event_type (ops/sketch.hll_sketch +
    hll_estimate, p=6 -> 64 registers): the constant-size cousin of
    kmv_distinct — exact bigint harmonic-sum terms, one float expression
    per group, linear-counting small-range branch. The oracle replays
    every register and the estimate."""
    from kgspark.ops.sketch import hll_estimate, hll_sketch

    ev = _t(spark, sf, "events")
    sk = hll_sketch(ev, "user_id", ["event_type"], p=6)
    return hll_estimate(sk, ["event_type"], p=6)


def _hll_sql(p: int = 6) -> str:
    from kgspark.ops.sketch import _hll_alpha

    m, b = 2**p, 60 - p
    digits = "0123456789abcdef"
    exp = " + ".join(
        f"CAST(strpos('{digits}', substr(hh, {j + 1}, 1)) - 1 AS BIGINT) * {16 ** (14 - j)}"
        for j in range(15)
    )
    c_raw = _hll_alpha(m) * m * m * float(2**b)
    return f"""
WITH src AS (
  SELECT event_type, md5(CAST(user_id AS VARCHAR)) AS hh
  FROM events WHERE user_id IS NOT NULL
),
hs AS (SELECT event_type, ({exp}) AS h FROM src),
cells AS (
  SELECT event_type, h // {2**b} AS idx,
         CASE WHEN h % {2**b} = 0 THEN {b + 1}
              ELSE {b} - length(bin(h % {2**b})) + 1 END AS rk
  FROM hs
),
regs AS (
  SELECT event_type, idx, CAST(MAX(rk) AS INT) AS maxrank
  FROM cells GROUP BY event_type, idx
),
agg AS (
  -- integer shift, not CAST(power(2.0,..) AS BIGINT): the double->bigint
  -- cast rounds-to-nearest in DuckDB but truncates in Spark, and the
  -- oracle should not depend on the terms happening to be exact powers
  -- of two (ADVICE r04)
  SELECT event_type,
         SUM(CAST(1 AS BIGINT) << ({b} - LEAST(maxrank, {b}))) AS s,
         COUNT(*) AS nreg
  FROM regs GROUP BY event_type
)
SELECT event_type,
       CAST(floor(
         CASE WHEN ({m} - nreg) > 0
                   AND ({c_raw!r} / CAST(s + ({m} - nreg) * {2**b} AS DOUBLE)) <= {2.5 * m!r}
              THEN ln(CAST({m} AS DOUBLE) / CAST({m} - nreg AS DOUBLE)) * {m}
              ELSE {c_raw!r} / CAST(s + ({m} - nreg) * {2**b} AS DOUBLE)
         END
       ) AS BIGINT) AS est_distinct
FROM agg
"""


_HLL_DISTINCT_SQL = _hll_sql()


def _fuse_attributes_kg(spark, sf):
    """Majority-vote attribute fusion (construct/fusion.fuse_attributes):
    every order is an independent source asserting its customer's
    priority class — fusion resolves the conflict to the modal priority
    per customer with a (votes DESC, value ASC) deterministic tie-break
    and an integer-ppm support audit. One aggregate over the assertions,
    then window top-1 over the bounded vote table."""
    from kgspark.construct.fusion import fuse_attributes

    o = _t(spark, sf, "orders")
    assertions = o.select(
        F.col("o_custkey").alias("entity_id"),
        F.lit("priority_class").alias("attr"),
        F.col("o_orderpriority").alias("value"),
    )
    return fuse_attributes(assertions)


_FUSE_ATTRIBUTES_SQL = """
WITH votes AS (
  SELECT o_custkey AS entity_id, 'priority_class' AS attr,
         o_orderpriority AS value, CAST(count(*) AS BIGINT) AS votes
  FROM orders GROUP BY 1, 2, 3
),
ranked AS (
  SELECT *,
         CAST(SUM(votes) OVER (PARTITION BY entity_id, attr) AS BIGINT) AS total_votes,
         COUNT(*) OVER (PARTITION BY entity_id, attr) AS n_values,
         ROW_NUMBER() OVER (PARTITION BY entity_id, attr
                            ORDER BY votes DESC, value ASC) AS rk
  FROM votes
)
SELECT entity_id, attr, value, votes, total_votes, n_values,
       CAST((votes * 1000000) // total_votes AS BIGINT) AS support_ppm
FROM ranked WHERE rk = 1
"""


def _minhash_dedup_docs(spark, sf):
    """Rows-only + pinned golden-hash witness (minhash signatures are not
    SQL-expressible; the ``witness`` column carries the hard verdict)."""
    from kgspark.ops.dedup import minhash_dedup

    out = minhash_dedup(_t(spark, sf, "documents"), threshold=0.8).select(
        "doc_id", "cluster", "is_representative"
    )
    return _witnessed(out, "minhash_dedup_docs", sf)


def _simhash_docs(spark, sf):
    """Rows-only + pinned golden-hash witness."""
    from kgspark.ops.dedup import simhash_dedup

    return _witnessed(simhash_dedup(_t(spark, sf, "documents")), "simhash_docs", sf)


def _openie_web_corpus(spark, sf):
    """Rows-only check: deterministic web corpus -> OpenIE triple counts.

    (The extractor itself is pinned against a closed form in pytest; here the
    driver smoke-checks the distributed path at each sf.)
    """
    from kgspark import fixtures
    from kgspark.extract.html import with_extracted_text
    from kgspark.extract.openie import extract_doc_triples

    n_docs = max(1000, _t(spark, sf, "documents").count())
    pages = fixtures.web_pages_df(spark, n_docs)
    triples = extract_doc_triples(with_extracted_text(pages))
    out = triples.groupBy("subj", "subj_type", "pred", "obj", "obj_type").agg(
        F.count("*").alias("n")
    )
    return _witnessed(out, "openie_web_corpus", sf)


def _media_decode_features(spark, sf):
    """REAL media decode end to end: executor-generated deterministic
    payloads (baseline JPEG 4:4:4 / 4:2:0+restart, PNG, GIF, WAV) ->
    JVM-side magic sniff -> real Arrow-batched decode into pixel/audio
    stats. Entropy decoding is not SQL-expressible, so the hard verdict is
    the pinned golden-hash ``witness`` (input is sf-independent, like
    ``openie_web_corpus``). Feature floats are rounded to 5 decimals before
    fingerprinting."""
    from kgspark.ops.multimodal import (
        extract_features,
        make_decodable_media,
        sniff_media_meta,
    )

    media = make_decodable_media(spark, 40)
    sniff = sniff_media_meta(media).select(
        "media_id", F.col("sniffed.mime").alias("mime")
    )
    feats = extract_features(media, fake=False)
    out = feats.join(sniff, "media_id").select(
        "media_id",
        "kind",
        "mime",
        # Stringified (repo convention, cf. bpe_encode_docs/a3_collect_set_str):
        # a raw array<double> crashed the driver's pandas canonicalizer in r03.
        F.to_json(
            F.transform("feature", lambda x: F.round(x.cast("double"), 5))
        ).alias("feature_q"),
    )
    return _witnessed(out, "media_decode_features", sf)


def _phash_neardup_media(spark, sf):
    """Image near-dup dedup: DCT perceptual hash over REALLY-decoded
    payloads (planted near-dups: same pixels as PNG and as JPEG q88), then
    the text-SimHash banding machinery for the Hamming join. Decode isn't
    SQL-expressible -> pinned golden-hash witness; the planted-pair recall
    is additionally asserted in pytest."""
    from kgspark.ops.phash import make_neardup_media, phash_neardup_pairs, with_phash

    media = make_neardup_media(spark, 20)
    pairs = phash_neardup_pairs(with_phash(media), max_hamming=6)
    return _witnessed(pairs, "phash_neardup_media", sf)


def _mp4_container_meta(spark, sf):
    """REAL MP4 container parsing (ftyp/moov box walk -> duration, track
    geometry, codec fourcc; only codec frame decode is stubbed) over
    executor-generated deterministic box trees. Box parsing isn't
    SQL-expressible -> pinned golden-hash witness."""
    import pandas as pd

    from kgspark.ops.mp4 import encode_mp4_stub, mp4_meta

    codecs = ["avc1", "hvc1", "av01", "vp09"]

    def gen(batches):
        for pdf in batches:
            payloads = [
                encode_mp4_stub(
                    duration_ms=1000 + 777 * int(i),
                    width=320 + 16 * int(i),
                    height=180 + 9 * int(i),
                    codec=codecs[int(i) % 4],
                    audio=bool(int(i) % 2),
                )
                for i in pdf["id"]
            ]
            yield pd.DataFrame({"media_id": pdf["id"], "payload": payloads})

    media = spark.range(24).mapInPandas(gen, schema="media_id long, payload binary")
    return _witnessed(mp4_meta(media), "mp4_container_meta", sf)


def _mp4_frame_decode(spark, sf):
    """REAL video frame decode end to end (r04 — the former stub): executor-
    generated Motion-JPEG MP4s (genuine stts/stsz/stsc/stco sample tables;
    every sample a JPEG from the repo's own encoder) -> sample-table walk ->
    per-sample JPEG decode into per-frame pixel stats, one Arrow-batched
    stage. One planted avc1 container must contribute ZERO rows (the codec
    gate refuses inter-coded tracks). Entropy decode isn't SQL-expressible
    -> pinned golden-hash witness (input is sf-independent)."""
    import numpy as np
    import pandas as pd

    from kgspark.ops.mp4 import encode_mjpeg_mp4, mp4_frames

    def gen(batches):
        ones = np.ones(64, dtype=np.int64)

        def frame(i: int, j: int) -> np.ndarray:
            y, x = np.mgrid[0:24, 0:16]
            r = ((x * (3 + i) + y * (5 + j)) % 256).astype(np.uint8)
            g = ((x * 7 + y * (2 + i) + 11 * j) % 256).astype(np.uint8)
            b = ((x + y + 31 * i + 13 * j) % 256).astype(np.uint8)
            return np.stack([r, g, b], axis=-1)

        for pdf in batches:
            payloads = []
            for i in pdf["id"]:
                i = int(i)
                codec = "avc1" if i == 7 else "jpeg"  # one refused container
                payloads.append(
                    encode_mjpeg_mp4(
                        [frame(i, j) for j in range(3)],
                        fps=2 + (i % 4),
                        codec=codec,
                        luma_q=ones,
                        chroma_q=ones,
                    )
                )
            yield pd.DataFrame({"media_id": pdf["id"], "payload": payloads})

    media = spark.range(12).mapInPandas(gen, schema="media_id long, payload binary")
    return _witnessed(mp4_frames(media), "mp4_frame_decode", sf)


def _audiohash_neardup(spark, sf):
    """Audio near-dup dedup: spectral-presence hash over REALLY-decoded WAV
    (planted near-dups: same tone mixture at 60% amplitude requantized to
    8-bit), candidates via the text-SimHash banding machinery. FFT decode
    isn't SQL-expressible -> pinned golden-hash witness."""
    from kgspark.ops.audiohash import (
        audiohash_neardup_pairs,
        make_neardup_audio,
        with_audiohash,
    )

    media = make_neardup_audio(spark, 16)
    pairs = audiohash_neardup_pairs(with_audiohash(media), max_hamming=2)
    return _witnessed(pairs, "audiohash_neardup", sf)


def _shipped(fn: Callable) -> Callable:
    def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
        _ship_package(spark)
        return fn(spark, sf_dir)

    wrapped.__name__ = fn.__name__
    return wrapped


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        k: _shipped(v)
        for k, v in _raw_queries().items()
    }


def _raw_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    # ORDER MATTERS: the driver evaluates the first 50 keys each round.
    # r05 FINAL WINDOW — executes the rotation plan written in r04 exactly:
    #   1. The 28 r04-built operators that had never had a driver row
    #      (bloom_decontam_docs .. scc_tpch) — their only gap was window
    #      arithmetic; this closes it.
    #   2. The r02-latest re-front list (22 of 30): x6_mentions ..
    #      nfc_normalize, i.e. the full list MINUS the five entries with an
    #      independent hard pin (s1_scan_projection / p2_rename_projection:
    #      golden-parity pytest, code unchanged since r02; kmv_distinct /
    #      session_window_batch / simhash_portable: value-hash oracles
    #      rehearsed on every pytest run) and MINUS the three
    #      oldest-coverage builtin demos (having_agg, pivot_events,
    #      unpivot_part — every-pytest DuckDB-oracle rehearsal stands as
    #      their pin). 28 + 22 = 50 slots exactly.
    # The eight dropped entries and their standing pins are tabulated in
    # BENCH/BASELINE.md ("final freshness ledger"). Everything else behind
    # the window is r03- or r04-driver-green (two-round freshness policy).
    return {
        # --- window 1-28: first-ever driver rows for the r04b operators ---
        "bloom_decontam_docs": _bloom_decontam_docs,
        "dsir_scores_docs": _dsir_scores_docs,
        "weighted_sample_docs": _weighted_sample_docs,
        "stupid_backoff_docs": _stupid_backoff_docs,
        "readability_docs": _readability_docs,
        "leakage_safe_split_docs": _leakage_safe_split_docs,
        "split_sentences_docs": _split_sentences_docs,
        "hits_tpch": _hits_tpch,
        "fuse_attributes_kg": _fuse_attributes_kg,
        "edge_type_check_kg": _edge_type_check_kg,
        "infer_types_kg": _infer_types_kg,
        "path_features_kg": _path_features_kg,
        "token_entropy_docs": _token_entropy_docs,
        "crawl_waves_docs": _crawl_waves_docs,
        "cm_heavy_hitters_docs": _cm_heavy_hitters_docs,
        "pq_topk_emb": _pq_topk_emb,
        "distmult_train_kg": _distmult_train_kg,
        "hll_distinct_events": _hll_distinct_events,
        "textrank_docs": _textrank_docs,
        "rake_docs": _rake_docs,
        "entity_pmi_docs": _entity_pmi_docs,
        "wl_roles_tpch": _wl_roles_tpch,
        "graph_stats_tpch": _graph_stats_tpch,
        "kwic_docs": _kwic_docs,
        "event_transitions": _event_transitions,
        "decontaminate_spans_docs": _decontaminate_spans_docs,
        "ngram_novelty_docs": _ngram_novelty_docs,
        "scc_tpch": _scc_tpch,
        # --- window 29-50: r02-latest re-fronts (three rounds stale) ---
        "x6_mentions": _x6_mentions,
        "posexplode_tokens": _posexplode_tokens,
        "f_string_funcs2": _f_string_funcs2,
        "bitwise_ops": _bitwise_ops,
        "repetition_stats": _repetition_stats,
        "scalar_subquery": _scalar_subquery,
        "null_safe_eq": _null_safe_eq,
        "string_agg_groups": _string_agg_groups,
        "stratified_sample_docs": _stratified_sample_docs,
        "hash_sample_rate": _hash_sample_rate,
        "grouping_sets_id": _grouping_sets_id,
        "stats_moments": _stats_moments,
        "window_frames": _window_frames,
        "top_terms_tfidf": _top_terms,
        "motif_2hop": _motif_2hop,
        "degree_histogram": _degree_histogram,
        "approx_quantile_sampled": _approx_quantile_sampled,
        "chunk_docs": _chunk_docs,
        "collocations_docs": _collocations_docs,
        "redact_pii_docs": _redact_pii_docs,
        "f_higher_order": _f_higher_order,
        "nfc_normalize": _nfc_normalize,
        # --- behind the window: the 8 entries the 50-slot arithmetic drops,
        #     each with an independent standing pin (see BENCH/BASELINE.md
        #     final freshness ledger) ---
        "s1_scan_projection": _s1_scan_projection,
        "p2_rename_projection": _p2_rename_projection,
        "kmv_distinct": _kmv_distinct,
        "session_window_batch": _session_window_batch,
        "simhash_portable": _simhash_portable,
        "having_agg": _having_agg,
        "pivot_events": _pivot_events,
        "unpivot_part": _unpivot_part,
        # --- behind the window: r04-driver-green (one round fresh) ---
        "media_decode_features": _media_decode_features,
        "mp4_frame_decode": _mp4_frame_decode,
        "mp4_container_meta": _mp4_container_meta,
        "audiohash_neardup": _audiohash_neardup,
        "unigram_logprob_docs": _unigram_logprob_docs,
        "host_stats_docs": _host_stats_docs,
        "gopher_flags_docs": _gopher_flags_docs,
        "cap_per_host_docs": _cap_per_host_docs,
        "line_dedup_docs": _line_dedup_docs,
        "blocklist_docs": _blocklist_docs,
        "winnow_docs": _winnow_docs,
        "winnow_containment_docs": _winnow_containment_docs,
        "span_alignment_docs": _span_alignment_docs,
        "script_profile_docs": _script_profile_docs,
        "encoding_quality_docs": _encoding_quality_docs,
        "q5_region_volume": _q5_region_volume,
        "semi_anti_customers": _semi_anti_customers,
        "window_analytics": _window_analytics,
        "range_band_join": _range_band_join,
        "percentile_stats": _percentile_stats,
        "w2_topk_limit": _w2_topk_limit,
        "w4_renumber": _w4_renumber,
        "p6_rlike_filter": _p6_rlike_filter,
        "f_string_funcs": _f_string_funcs,
        "f7_from_json": _f7_from_json,
        "f8_to_json": _f8_to_json,
        "set_ops_keys": _set_ops_keys,
        "cube_events": _cube_events,
        "f_date_funcs": _f_date_funcs,
        "bpe_encode_docs": _bpe_encode_docs,
        "bm25_docs": _bm25_docs,
        "kg_nodes_tpch": _kg_nodes_tpch,
        "kg_edges_tpch": _kg_edges_tpch,
        "cc_components_tpch": _cc_components_tpch,
        "pagerank_tpch": _pagerank_tpch,
        "curation_pipeline": _curation_pipeline,
        "minhash_dedup_portable": _minhash_dedup_portable,
        "minhash_portable_sig": _minhash_portable_sig,
        "context_cards": _context_cards,
        "x6_mentions_join": _x6_mentions_join,
        "asof_join_events": _asof_join_events,
        "q1_pricing_summary": _q1_pricing_summary,
        "dense_index_docs": _dense_index_docs,
        "negative_samples_kg": _negative_samples_kg,
        "split_assign_docs": _split_assign_docs,
        "pack_sequences": _pack_sequences,
        "p3_blank_filter": _p3_blank_filter,
        "url_normalize": _url_normalize,
        "kmeans_clusters_emb": _kmeans_clusters_emb,
        "semdedup_emb": _semdedup_emb,
        # --- behind the window: r03-driver-green / r03-witnessed ---
        "minhash_dedup_docs": _minhash_dedup_docs,
        "simhash_docs": _simhash_docs,
        "openie_web_corpus": _openie_web_corpus,
        "phash_neardup_media": _phash_neardup_media,
        "decontaminate_docs": _decontaminate_docs,
        "resample_temperature_docs": _resample_temperature_docs,
        "minhash_incremental_portable": _minhash_incremental_portable,
        "triangle_count_docs": _triangle_count_docs,
        "repeated_spans_docs": _repeated_spans_docs,
        "kcore_docs": _kcore_docs,
        "label_propagation_docs": _label_propagation_docs,
        "random_walks_docs": _random_walks_docs,
        "bpe_pair_counts": _bpe_pair_counts,
        "transe_train_kg": _transe_train_kg,
        "landmark_distance_docs": _landmark_distance_docs,
        "lp_eval_kg": _lp_eval_kg,
        "ppr_tpch": _ppr_tpch,
        "node2vec_docs": _node2vec_docs,
        "harmonic_centrality_docs": _harmonic_docs,
        "link_scores_docs": _link_scores_docs,
        "clustering_coeff_docs": _clustering_coeff_docs,
        "p5_contains_filter": _p5_contains_filter,
        "p8_json_cast_filter": _p8_json_cast_filter,
        "e1_explode_tokens": _e1_explode_tokens,
        "e4_bigram_triples": _e4_bigram_triples,
        "a1_lww_canonicalize": _a1_lww_canonicalize,
        "a2_distinct_dedup": _a2_distinct_dedup,
        "a3_collect_set_str": _a3_collect_set_str,
        "j2_onehop_expand": _j2_onehop_expand,
        "j3_reverse_join": _j3_reverse_join,
        "j4_twohop_bfs": _j4_twohop_bfs,
        "j5_contains_join": _j5_contains_join,
        "u1_union_by_name": _u1_union_by_name,
        "w1_hash_sample": _w1_hash_sample,
        "w3_topk_per_group": _w3_topk_per_group,
        "ngram_jaccard_pairs": _ngram_jaccard_pairs,
        "dedup_exact": _dedup_exact,
        "fingerprint_md5": _fingerprint_md5,
        "lang_id": _lang_id,
        "token_stats": _token_stats,
        "quality_score": _quality_score,
        "ann_cosine_topk": _ann_cosine_topk,
        "embedding_neardup": _embedding_neardup,
        "rollup_counts": _rollup_counts,
        "sessionize": _sessionize,
        "stream_window_counts": _stream_window_counts,
        "q3_shipping_priority": _q3_shipping_priority,
    }


def oracle_sql() -> dict[str, str]:
    return {
        "q1_pricing_summary": _Q1_SQL,
        "s1_scan_projection": _S1_SQL,
        "p2_rename_projection": _P2_SQL,
        "p3_blank_filter": _P3_SQL,
        "p5_contains_filter": _P5_SQL,
        "p8_json_cast_filter": _P8_SQL,
        "e1_explode_tokens": _E1_SQL,
        "e4_bigram_triples": _E4_SQL,
        "a1_lww_canonicalize": _A1_SQL,
        "a2_distinct_dedup": _A2_SQL,
        "a3_collect_set_str": _A3_SQL,
        "kg_nodes_tpch": _KG_NODES_SQL,
        "kg_edges_tpch": _KG_EDGES_SQL,
        "j2_onehop_expand": _J2_SQL,
        "j3_reverse_join": _J3_SQL,
        "j4_twohop_bfs": _J4_SQL,
        "j5_contains_join": _J5_SQL,
        "u1_union_by_name": _U1_SQL,
        "w1_hash_sample": _W1_SQL,
        "w2_topk_limit": _W2_SQL,
        "w3_topk_per_group": _W3_SQL,
        "w4_renumber": _W4_SQL,
        "p6_rlike_filter": _P6_SQL,
        "f_string_funcs": _F_STRING_SQL,
        "f7_from_json": _F7_SQL,
        "f8_to_json": _F8_SQL,
        "x6_mentions": _X6_SQL,
        "ngram_jaccard_pairs": _NGRAM_JACCARD_SQL,
        "dedup_exact": _DEDUP_EXACT_SQL,
        "fingerprint_md5": _FINGERPRINT_SQL,
        "lang_id": _lang_id_sql(),
        "token_stats": _TOKEN_STATS_SQL,
        "quality_score": _QUALITY_SQL,
        "ann_cosine_topk": _ANN_SQL,
        "curation_pipeline": _curation_sql(),
        "embedding_neardup": _EMB_NEARDUP_SQL,
        "rollup_counts": _ROLLUP_SQL,
        "sessionize": _SESSIONIZE_SQL,
        "stream_window_counts": _STREAM_SQL,
        "q3_shipping_priority": _Q3_SQL,
        "q5_region_volume": _Q5_SQL,
        "semi_anti_customers": _SEMI_ANTI_SQL,
        "set_ops_keys": _SET_OPS_SQL,
        "cube_events": _CUBE_SQL,
        "window_analytics": _WINDOW_ANALYTICS_SQL,
        "asof_join_events": _ASOF_SQL,
        "range_band_join": _RANGE_BAND_SQL,
        "f_date_funcs": _F_DATE_SQL,
        "percentile_stats": _PERCENTILE_SQL,
        "f_higher_order": _F_HIGHER_ORDER_SQL,
        "context_cards": _CONTEXT_CARDS_SQL,
        "x6_mentions_join": _X6_SQL,
        "dense_index_docs": _DENSE_INDEX_SQL,
        "minhash_dedup_portable": _MINHASH_DEDUP_PORTABLE_SQL,
        "cc_components_tpch": _CC_COMPONENTS_SQL,
        "url_normalize": _URL_NORMALIZE_SQL,
        "split_assign_docs": _SPLIT_ASSIGN_SQL,
        "pack_sequences": _PACK_SEQUENCES_SQL,
        "decontaminate_docs": _DECONTAMINATE_SQL,
        "bloom_decontam_docs": _BLOOM_DECONTAM_SQL,
        "dsir_scores_docs": _DSIR_SCORES_SQL,
        "weighted_sample_docs": _WEIGHTED_SAMPLE_SQL,
        "stupid_backoff_docs": _STUPID_BACKOFF_SQL,
        "readability_docs": _READABILITY_SQL,
        "leakage_safe_split_docs": _LEAKAGE_SAFE_SPLIT_SQL,
        "split_sentences_docs": _SPLIT_SENTENCES_SQL,
        "hits_tpch": _HITS_TPCH_SQL,
        "fuse_attributes_kg": _FUSE_ATTRIBUTES_SQL,
        "edge_type_check_kg": _EDGE_TYPE_CHECK_SQL,
        "infer_types_kg": _INFER_TYPES_SQL,
        "path_features_kg": _PATH_FEATURES_SQL,
        "token_entropy_docs": _TOKEN_ENTROPY_SQL,
        "crawl_waves_docs": _CRAWL_WAVES_SQL,
        "cm_heavy_hitters_docs": _CM_HEAVY_HITTERS_SQL,
        "pq_topk_emb": _PQ_TOPK_SQL,
        "distmult_train_kg": _DISTMULT_TRAIN_SQL,
        "hll_distinct_events": _HLL_DISTINCT_SQL,
        "textrank_docs": _TEXTRANK_SQL,
        "rake_docs": _RAKE_SQL,
        "entity_pmi_docs": _ENTITY_PMI_SQL,
        "wl_roles_tpch": _WL_ROLES_SQL,
        "graph_stats_tpch": _GRAPH_STATS_SQL,
        "kwic_docs": _KWIC_SQL,
        "event_transitions": _EVENT_TRANSITIONS_SQL,
        "decontaminate_spans_docs": _DECONTAM_SPANS_SQL,
        "ngram_novelty_docs": _NGRAM_NOVELTY_SQL,
        "scc_tpch": _SCC_SQL,
        "resample_temperature_docs": _RESAMPLE_TEMPERATURE_SQL,
        "minhash_incremental_portable": _MINHASH_INCREMENTAL_SQL,
        "triangle_count_docs": _TRIANGLE_COUNT_SQL,
        "kcore_docs": _KCORE_SQL,
        "label_propagation_docs": _LABEL_PROPAGATION_SQL,
        "random_walks_docs": _RANDOM_WALKS_SQL,
        "bpe_pair_counts": _BPE_PAIR_COUNTS_SQL,
        "transe_train_kg": _TRANSE_TRAIN_SQL,
        "landmark_distance_docs": _LANDMARK_DISTANCE_SQL,
        "lp_eval_kg": _LP_EVAL_SQL,
        "bm25_docs": _BM25_DOCS_SQL,
        "ppr_tpch": _PPR_TPCH_SQL,
        "node2vec_docs": _NODE2VEC_SQL,
        "harmonic_centrality_docs": _HARMONIC_DOCS_SQL,
        "link_scores_docs": _LINK_SCORES_SQL,
        "clustering_coeff_docs": _CLUSTERING_COEFF_SQL,
        "repeated_spans_docs": _REPEATED_SPANS_SQL,
        "unigram_logprob_docs": _UNIGRAM_LOGPROB_SQL,
        "host_stats_docs": _HOST_STATS_SQL,
        "gopher_flags_docs": _GOPHER_FLAGS_SQL,
        "cap_per_host_docs": _CAP_PER_HOST_SQL,
        "line_dedup_docs": _LINE_DEDUP_SQL,
        "blocklist_docs": _BLOCKLIST_SQL,
        "winnow_docs": _WINNOW_SQL,
        "winnow_containment_docs": _WINNOW_CONTAIN_SQL,
        "span_alignment_docs": _SPAN_ALIGN_SQL,
        "script_profile_docs": _SCRIPT_PROFILE_SQL,
        "encoding_quality_docs": _ENCODING_QUALITY_SQL,
        "nfc_normalize": _NFC_NORMALIZE_SQL,
        "minhash_portable_sig": _MINHASH_PORTABLE_SQL,
        "having_agg": _HAVING_SQL,
        "pivot_events": _PIVOT_SQL,
        "unpivot_part": _UNPIVOT_SQL,
        "posexplode_tokens": _POSEXPLODE_SQL,
        "f_string_funcs2": _F_STRING2_SQL,
        "bitwise_ops": _BITWISE_SQL,
        "repetition_stats": _REPETITION_SQL,
        "scalar_subquery": _SCALAR_SUBQUERY_SQL,
        "null_safe_eq": _NULL_SAFE_SQL,
        "string_agg_groups": _STRING_AGG_SQL,
        "stratified_sample_docs": _STRATIFIED_SQL,
        "hash_sample_rate": _HASH_SAMPLE_SQL,
        "session_window_batch": _SESSION_WINDOW_SQL,
        "simhash_portable": _simhash_portable_sql(),
        "grouping_sets_id": _GROUPING_SETS_SQL,
        "stats_moments": _STATS_MOMENTS_SQL,
        "kmv_distinct": _KMV_DISTINCT_SQL,
        "pagerank_tpch": _PAGERANK_TPCH_SQL,
        "window_frames": _WINDOW_FRAMES_SQL,
        "top_terms_tfidf": _TOP_TERMS_SQL,
        "motif_2hop": _MOTIF_2HOP_SQL,
        "degree_histogram": _DEGREE_HIST_SQL,
        "approx_quantile_sampled": _APPROX_QUANTILE_SQL,
        "chunk_docs": _CHUNK_DOCS_SQL,
        "collocations_docs": _COLLOCATIONS_SQL,
        "negative_samples_kg": _NEG_SAMPLES_SQL,
        "redact_pii_docs": _REDACT_PII_SQL,
        "kmeans_clusters_emb": _KMEANS_CLUSTERS_SQL,
        "semdedup_emb": _SEMDEDUP_SQL,
        # minhash_dedup_docs / simhash_docs / openie_web_corpus: rows-only
    }
