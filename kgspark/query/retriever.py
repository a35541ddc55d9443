"""GraphRAG retrieval templates, one Spark plan each (SURVEY §3.2).

Each function mirrors one Cypher template in the reference's
``graph_retriever.py`` over the (nodes, edges) tables and returns the
collected rows. Entity identity is a hash (``graph.entity_id``), so a
template names its anchor entity by its id literal instead of joining the
node dictionary to find it: an edge template filters ``edges`` on that id
and joins ``nodes`` once, for the names or props of the other end. Every
result is LIMIT-bounded or bounded by one entity's degree. Relation labels
are fixed by the ontology: ``COVERS_DISEASE`` and ``TARGETS_POPULATION``
come only from ``ontology.INSURANCE_RULES`` (Insurance -> Disease /
Population; the web extractor emits ``COVERS``, not ``COVERS_DISEASE``).
Query parsing/LLM stages are driver-side and out of data-plane scope;
``parse_query_rules`` is the deterministic stand-in.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, Row
from pyspark.sql import functions as F

from kgspark.construct.graph import entity_id

# disease_expand: relation -> result field (graph_retriever.py:47-55)
_EXPAND_RELS = {"HAS_SYMPTOM": "symptoms", "HAS_COMPLICATION": "complications",
                "TREATED_BY": "drugs"}


def _id(label: str, name: str):
    return entity_id(F.lit(label), F.lit(name))


def disease_expand(nodes: DataFrame, edges: DataFrame, disease: str) -> list[dict]:
    """J2: 1-hop expand (graph_retriever.py:47-55) -> [] when the disease is
    not a node, else one dict: disease, intro, treat_detail and the sorted
    distinct symptoms/complications/drugs (Cypher collect(DISTINCT), A3;
    [] when OPTIONAL MATCH finds none). One join: the disease's own id
    (rel null) plus its out-edges, against ``nodes``."""
    did = _id("Disease", disease)
    keys = edges.filter((F.col("src_id") == did) & F.col("rel").isin(*_EXPAND_RELS)).select(
        "rel", F.col("dst_id").alias("id")
    ).unionByName(edges.sparkSession.range(1).select(
        F.lit(None).cast("string").alias("rel"), did.alias("id")))
    rows = nodes.join(F.broadcast(keys), F.col("entity_id") == F.col("id")).select(
        "rel", "name", "props").collect()
    me = [r for r in rows if r["rel"] is None]
    if not me:
        return []
    props = me[0]["props"] or {}
    out = {"disease": disease, "intro": props.get("intro"),
           "treat_detail": props.get("treat_detail")}
    for rel, field in _EXPAND_RELS.items():
        out[field] = sorted({r["name"] for r in rows if r["rel"] == rel})
    return [out]


def _insurances_to(nodes: DataFrame, edges: DataFrame, rel: str, dst_id) -> DataFrame:
    """Insurance nodes with a ``rel`` edge to the entity ``dst_id``."""
    hits = edges.filter((F.col("rel") == rel) & (F.col("dst_id") == dst_id))
    return nodes.filter(F.col("label") == "Insurance").join(
        F.broadcast(hits), F.col("entity_id") == F.col("src_id"))


def insurance_covering(nodes: DataFrame, edges: DataFrame, disease: str) -> list[Row]:
    """J3: reverse-edge join — insurances covering a disease
    (graph_retriever.py:78-82): rows of (ins_name, description, age_limit)."""
    return _insurances_to(nodes, edges, "COVERS_DISEASE", _id("Disease", disease)).select(
        F.col("name").alias("ins_name"),
        F.col("props")["description"].alias("description"),
        F.col("props")["age_limit"].alias("age_limit"),
    ).collect()


def insurance_for_age(nodes: DataFrame, edges: DataFrame, age: int) -> list[Row]:
    """Age-targeted insurance (graph_retriever.py:89-102): age >= 60 ->
    TARGETS_POPULATION('老年人') products, LIMIT 5, in name order."""
    if age < 60:
        return []
    return _insurances_to(
        nodes, edges, "TARGETS_POPULATION", _id("Population", "老年人")
    ).select(
        F.col("name").alias("ins_name"), F.col("props")["age_limit"].alias("age_limit")
    ).orderBy("ins_name").limit(5).collect()


KNOWN_SERIES = ["蓝医保", "好医保", "金医保", "平安", "众安", "长相安"]
GENERIC_KEYWORDS = ["重疾", "医疗", "护理", "防癌"]


def insurance_search(nodes: DataFrame, raw_query: str, seed: int | None = 42) -> list[Row]:
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
        return ins.filter(F.col("name").contains(series)).orderBy("name").limit(6).collect()
    cond = F.col("name").contains(GENERIC_KEYWORDS[0])
    for kw in GENERIC_KEYWORDS[1:]:
        cond = cond | F.col("name").contains(kw)
    return ins.filter(cond).orderBy(F.xxhash64("name", F.lit(seed)), "name").limit(20).collect()


def nursing_home_search(
    nodes: DataFrame, city: str | None = None, price_max: int | None = None
) -> list[Row]:
    """WHERE-clause assembly (graph_retriever.py:182-214): city matches
    address OR name; price is a string cast to int at query time (P8/F9);
    LIMIT 5 in name order."""
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
    return nh.orderBy("name").limit(5).collect()


def label_counts(nodes: DataFrame) -> list[Row]:
    """A4: sidebar stats — node count per label (frontend/app.py:24-46)."""
    return nodes.groupBy("label").agg(F.count("*").alias("n")).orderBy("label").collect()


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
