"""GraphRAG retrieval templates as DataFrame plans (SURVEY §3.2).

Each function mirrors one Cypher template in the reference's
``graph_retriever.py`` over the (nodes, edges) tables. The node dictionary
side of every join is broadcast — entity dictionaries are dims, edges are
facts. Query parsing/LLM stages are driver-side and out of data-plane scope;
``parse_query_rules`` is the deterministic stand-in used by tests.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _named(nodes: DataFrame, edges: DataFrame) -> DataFrame:
    """edges resolved to names: (src_label, src_name, rel, dst_label, dst_name)."""
    n = nodes.select("entity_id", "label", "name")
    return (
        edges.join(F.broadcast(n.alias("s")), F.col("src_id") == F.col("s.entity_id"))
        .join(F.broadcast(n.alias("o")), F.col("dst_id") == F.col("o.entity_id"))
        .select(
            F.col("s.label").alias("src_label"),
            F.col("s.name").alias("src_name"),
            "rel",
            F.col("o.label").alias("dst_label"),
            F.col("o.name").alias("dst_name"),
        )
    )


def disease_expand(nodes: DataFrame, edges: DataFrame, disease: str) -> DataFrame:
    """J2: 1-hop expand — complications/drugs/symptoms of one disease as
    sorted collect_sets (graph_retriever.py:47-55, collect DISTINCT A3)."""
    named = _named(nodes, edges)
    mine = named.filter(
        (F.col("src_label") == "Disease") & (F.col("src_name") == disease)
    )
    agg = mine.groupBy("src_name").agg(
        F.sort_array(
            F.collect_set(F.when(F.col("rel") == "HAS_COMPLICATION", F.col("dst_name")))
        ).alias("complications"),
        F.sort_array(
            F.collect_set(F.when(F.col("rel") == "TREATED_BY", F.col("dst_name")))
        ).alias("drugs"),
        F.sort_array(
            F.collect_set(F.when(F.col("rel") == "HAS_SYMPTOM", F.col("dst_name")))
        ).alias("symptoms"),
    )
    props = nodes.filter(
        (F.col("label") == "Disease") & (F.col("name") == disease)
    ).select(
        F.col("name").alias("src_name"),
        F.col("props")["intro"].alias("intro"),
        F.col("props")["treat_detail"].alias("treat_detail"),
    )
    empty = F.array().cast("array<string>")
    return props.join(agg, "src_name", "left").select(
        F.col("src_name").alias("disease"),
        "intro",
        "treat_detail",
        # Cypher collect(DISTINCT ...) yields [] when OPTIONAL MATCH finds none
        F.coalesce("symptoms", empty).alias("symptoms"),
        F.coalesce("complications", empty).alias("complications"),
        F.coalesce("drugs", empty).alias("drugs"),
    )


def insurance_covering(nodes: DataFrame, edges: DataFrame, disease: str) -> DataFrame:
    """J3: reverse-edge join — insurances covering a disease
    (graph_retriever.py:78-82)."""
    named = _named(nodes, edges)
    ins = named.filter(
        (F.col("rel") == "COVERS_DISEASE") & (F.col("dst_name") == disease)
    ).select(F.col("src_name").alias("ins_name"))
    props = nodes.filter(F.col("label") == "Insurance").select(
        F.col("name").alias("ins_name"),
        F.col("props")["description"].alias("description"),
        F.col("props")["age_limit"].alias("age_limit"),
    )
    return ins.join(props, "ins_name")


def insurance_for_age(nodes: DataFrame, edges: DataFrame, age: int, limit: int = 5) -> DataFrame:
    """Age-targeted insurance (graph_retriever.py:89-102): age >= 60 ->
    TARGETS_POPULATION('老年人') products, LIMIT 5; deterministic order."""
    if age < 60:
        return nodes.sparkSession.createDataFrame([], "ins_name string, age_limit string")
    named = _named(nodes, edges)
    hits = named.filter(
        (F.col("rel") == "TARGETS_POPULATION") & (F.col("dst_name") == "老年人")
    ).select(F.col("src_name").alias("ins_name"))
    props = nodes.filter(F.col("label") == "Insurance").select(
        F.col("name").alias("ins_name"), F.col("props")["age_limit"].alias("age_limit")
    )
    return hits.join(props, "ins_name").orderBy("ins_name").limit(limit)


KNOWN_SERIES = ["蓝医保", "好医保", "金医保", "平安", "众安", "长相安"]
GENERIC_KEYWORDS = ["重疾", "医疗", "护理", "防癌"]


def insurance_search(
    nodes: DataFrame, raw_query: str, seed: int | None = 42, limit: int | None = None
) -> DataFrame:
    """P8 + W1/W2 (graph_retriever.py:112-156): series keyword in the query
    -> precise CONTAINS search LIMIT 6; otherwise generic-keyword filter with
    pseudo-random order LIMIT 20 — the reference's ORDER BY rand() for
    recommendation diversity, implemented as ORDER BY xxhash64(name, seed):
    equally shuffled to a user, but deterministic across reruns AND
    partitionings (F.rand(seed) seeds per partition, so a repartition would
    change the sample — a resume violation)."""
    ins = nodes.filter(F.col("label") == "Insurance").select(
        F.col("name"),
        F.col("props")["age_limit"].alias("age_limit"),
        F.col("props")["description"].alias("desc"),
        F.col("props")["category"].alias("category"),
        F.col("props")["price_desc"].alias("price"),
    )
    series = next((s for s in KNOWN_SERIES if s in raw_query), None)
    if series:
        return ins.filter(F.col("name").contains(series)).orderBy("name").limit(limit or 6)
    cond = F.col("name").contains(GENERIC_KEYWORDS[0])
    for kw in GENERIC_KEYWORDS[1:]:
        cond = cond | F.col("name").contains(kw)
    return ins.filter(cond).orderBy(F.xxhash64("name", F.lit(seed)), "name").limit(limit or 20)


def nursing_home_search(
    nodes: DataFrame, city: str | None = None, price_max: int | None = None, limit: int = 5
) -> DataFrame:
    """WHERE-clause assembly (graph_retriever.py:182-214): city matches
    address OR name; price is a string cast to int at query time (P8/F9)."""
    nh = nodes.filter(F.col("label") == "NursingHome").select(
        "name",
        F.col("props")["price"].alias("price"),
        F.col("props")["address"].alias("address"),
        F.col("props")["services"].alias("services"),
        F.col("props")["beds"].alias("beds"),
        F.col("props")["nature"].alias("nature"),
    )
    if city:
        nh = nh.filter(F.col("address").contains(city) | F.col("name").contains(city))
    if price_max is not None:
        # try_cast: Cypher toInteger() yields null on non-numeric strings
        # ('价格面议'), which the <= predicate then drops — not an error
        nh = nh.filter(F.col("price").try_cast("int") <= F.lit(price_max))
    return nh.orderBy("name").limit(limit)


def label_counts(nodes: DataFrame) -> DataFrame:
    """A4: sidebar stats — node count per label (frontend/app.py:24-46)."""
    return nodes.groupBy("label").agg(F.count("*").alias("n")).orderBy("label")


# --- deterministic query parsing stand-in (X3, query_understanding.py) -----
_CITY_RE = "|".join(["北京", "上海", "广州", "深圳", "成都", "杭州"])


def parse_query_rules(query: str, known_diseases: list[str] | None = None) -> dict:
    """Rule-based intent parse with the reference's output contract
    (intent / age / disease / drug / city / price_max)."""
    out: dict = {}
    if any(k in query for k in ["保险", "投保", "重疾", "医疗险"]):
        out["intent"] = "insurance_query"
    elif any(k in query for k in ["养老院", "养老机构", "养老中心"]):
        out["intent"] = "nursing_home_search"
    elif any(k in query for k in ["症状", "并发", "药", "疾病"]):
        out["intent"] = "medical_query"
    else:
        out["intent"] = "general_qa"
    if m := re.search(r"(\d{1,3})\s*岁", query):
        out["age"] = int(m.group(1))
    if m := re.search(r"(\d{3,6})\s*(?:元|块)?以下", query):
        out["price_max"] = int(m.group(1))
    if m := re.search(_CITY_RE, query):
        out["city"] = m.group(0)
    diseases = [d for d in (known_diseases or []) if d in query]
    if diseases:
        out["disease"] = diseases
    out["raw_query"] = query
    return out
