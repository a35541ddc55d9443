"""Query layer: retrieval templates + BFS subgraph over the miniature graph."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from kgspark import fixtures
from kgspark.construct.reference_build import build_structured_graph
from kgspark.query import retriever, subgraph


@pytest.fixture(scope="module")
def graph(spark, mini_sources):
    nodes, edges, _ = build_structured_graph(spark, mini_sources)
    return nodes.cache(), edges.cache()


def test_disease_expand(graph):
    nodes, edges = graph
    d = fixtures.DISEASES[1]  # single-record disease
    row = retriever.disease_expand(nodes, edges, d)[0]
    assert row["disease"] == d
    assert len(row["symptoms"]) == 3
    assert len(row["complications"]) == 2
    assert len(row["drugs"]) == 2
    assert row["intro"].startswith(d)


def test_insurance_covering(graph):
    nodes, edges = graph
    rows = retriever.insurance_covering(nodes, edges, "高血压")
    assert rows
    by_name = {r["ins_name"]: r["description"] for r in rows}
    assert "高血压" in by_name["长相安慢病保"]
    # dup-name product: the edge came from its first record's description,
    # while last-write-wins replaced the props with the later record's —
    # faithful MERGE semantics, so this description may NOT contain 高血压.
    assert by_name[fixtures.INSURANCES[0]] == "含恶性肿瘤医疗保障"


def test_insurance_for_age(graph):
    nodes, edges = graph
    young = retriever.insurance_for_age(nodes, edges, 30)
    assert len(young) == 0
    old = retriever.insurance_for_age(nodes, edges, 70)
    assert 0 < len(old) <= 5


def test_insurance_search_series_vs_generic(graph):
    nodes, _ = graph
    precise = retriever.insurance_search(nodes, "推荐一下蓝医保系列")
    assert all("蓝医保" in r["name"] for r in precise)
    generic = retriever.insurance_search(nodes, "随便推荐个保险", seed=42)
    names = [r["name"] for r in generic]
    assert names and all(
        any(k in n for k in retriever.GENERIC_KEYWORDS) for n in names
    )
    # seeded rand: stable across invocations
    again = [r["name"] for r in retriever.insurance_search(nodes, "随便推荐个保险", seed=42)]
    assert names == again


def test_nursing_home_search(graph):
    nodes, _ = graph
    rows = retriever.nursing_home_search(nodes, city="北京", price_max=7500)
    assert rows
    for r in rows:
        assert "北京" in r["address"] or "北京" in r["name"]
        assert int(r["price"]) <= 7500


def test_parse_query_rules():
    p = retriever.parse_query_rules("70岁高血压老人能买什么保险？", known_diseases=["高血压"])
    assert p["intent"] == "insurance_query"
    assert p["age"] == 70
    assert p["disease"] == ["高血压"]
    p2 = retriever.parse_query_rules("北京有哪些5000元以下的养老院？")
    assert p2["intent"] == "nursing_home_search"
    assert p2["city"] == "北京"
    assert p2["price_max"] == 5000


def test_subgraph_bfs(graph):
    nodes, edges = graph
    d = fixtures.DISEASES[1]
    sub = subgraph.retrieve_subgraph(nodes, edges, [d], hops=2, limit=50)
    hops = {r["name"]: r["hop"] for r in sub.nodes.collect()}
    assert hops[d] == 0
    # direct symptom is hop 1
    one_hop = [n for n, h in hops.items() if h == 1]
    assert one_hop
    assert sub.triples.count() > 0
    txt = subgraph.subgraph_to_text(sub)
    assert txt.startswith("三元组：")
    # hop-2 frontier contains something NOT adjacent to the seed
    assert any(h == 2 for h in hops.values())


def test_subgraph_unknown_entity(graph):
    nodes, edges = graph
    sub = subgraph.retrieve_subgraph(nodes, edges, ["不存在的实体"], hops=2)
    assert sub.nodes.count() == 0
    assert "未检索到" in subgraph.subgraph_to_text(sub)


def test_label_counts(graph):
    nodes, _ = graph
    counts = {r["label"]: r["n"] for r in retriever.label_counts(nodes)}
    assert counts["Population"] == 1
    assert counts["Disease"] >= 10


def test_motif_paths_and_trail_semantics(spark):
    """Fixed-rel chains match hand-computed paths; node_distinct drops the
    cycle-revisiting row; name resolution keeps positions."""
    from kgspark.query.motif import paths, paths_with_names

    edges = spark.createDataFrame(
        [
            (1, "R", 2), (2, "S", 3), (2, "S", 4),
            (5, "R", 2),
            (1, "R", 6), (6, "S", 1),  # 1 -R-> 6 -S-> 1 revisits node 1
        ],
        "src_id long, rel string, dst_id long",
    )
    got = {tuple(r) for r in paths(edges, ["R", "S"]).collect()}
    assert got == {(1, 2, 3), (1, 2, 4), (5, 2, 3), (5, 2, 4)}
    loose = {tuple(r) for r in paths(edges, ["R", "S"], node_distinct=False).collect()}
    assert loose == got | {(1, 6, 1)}

    nodes = spark.createDataFrame(
        [(i, "L", f"v{i}", {}) for i in (1, 2, 3, 4, 5, 6)],
        "entity_id long, label string, name string, props map<string,string>",
    )
    named = {tuple(r) for r in paths_with_names(nodes, paths(edges, ["R", "S"])).collect()}
    assert ("v1", "v2", "v3") in named and len(named) == 4

    import pytest as _pytest

    with _pytest.raises(ValueError):
        paths(edges, [])


def test_graph_summary_and_sql_views(spark):
    from kgspark.query.stats import graph_summary, register_graph_views

    nodes = spark.createDataFrame(
        [(1, "A", "a", {}), (2, "A", "b", {}), (3, "B", "c", {})],
        "entity_id long, label string, name string, props map<string,string>",
    )
    edges = spark.createDataFrame(
        [(1, "R", 2), (1, "S", 3)], "src_id long, rel string, dst_id long"
    )
    row = graph_summary(nodes, edges).collect()[0]
    assert (row["n_nodes"], row["n_edges"], row["n_labels"], row["n_rels"]) == (3, 2, 2, 2)
    assert row["max_out_degree"] == 2 and row["n_dangling"] == 2

    nv, ev = register_graph_views(spark, nodes, edges, prefix="t_stats")
    got = spark.sql(
        f"SELECT count(*) AS c FROM {nv} n JOIN {ev} e ON n.entity_id = e.src_id"
    ).collect()[0]["c"]
    assert got == 2


def test_subgraph_rank_ordered_truncation(spark):
    """With a rank table, the triple cap keeps the highest-ranked triples
    instead of alphabetical-first."""
    from kgspark.query.subgraph import retrieve_subgraph

    nodes = spark.createDataFrame(
        [(i, "L", n, {}) for i, n in [(1, "seed"), (2, "aaa"), (3, "zzz")]],
        "entity_id long, label string, name string, props map<string,string>",
    )
    edges = spark.createDataFrame(
        [(1, "R", 2), (1, "R", 3)], "src_id long, rel string, dst_id long"
    )
    # alphabetical cap would keep (seed -R-> aaa); rank favors zzz
    ranks = spark.createDataFrame(
        [("zzz", 0.9), ("aaa", 0.1), ("seed", 0.0)], "name string, rank double"
    )
    sub = retrieve_subgraph(nodes, edges, ["seed"], hops=1, limit=1, ranks=ranks)
    assert [(r["subj"], r["obj"]) for r in sub.triples.collect()] == [("seed", "zzz")]
    sub_plain = retrieve_subgraph(nodes, edges, ["seed"], hops=1, limit=1)
    assert [(r["subj"], r["obj"]) for r in sub_plain.triples.collect()] == [("seed", "aaa")]


def test_context_cards_exact_strings(spark):
    """F5 card templates: exact-string checks against the reference formats
    (graph_retriever.py:64-75,84-86,98-102,171-177,218-240), including the
    unconditional desc[:50]+'...' quirk, the >100-char services truncation,
    null/empty fields and the toInteger price filter on '价格面议'."""
    from kgspark.query import cards

    def expand(disease, intro, treat, symptoms, complications, drugs):
        return {"disease": disease, "intro": intro, "treat_detail": treat,
                "symptoms": symptoms, "complications": complications, "drugs": drugs}

    got = cards.disease_card(expand("高血压", "简介X", None, ["s1", "s2", "s3", "s4", "s5", "s6"], [], ["d1"]))
    assert got == (
        "【疾病信息】高血压:\n"
        "  - 简介: 简介X\n"
        "  - 症状: s1, s2, s3, s4, s5\n"
        "  - 常用药物: d1\n"
    )
    # an empty-string intro is omitted like a null one
    assert cards.disease_card(expand("糖尿病", "", "控制血糖", [], ["c1"], [])) == (
        "【疾病信息】糖尿病:\n  - 治疗: 控制血糖\n  - 并发症: c1\n"
    )

    def product(name, age_limit, desc, category, price):
        return {"name": name, "age_limit": age_limit, "desc": desc, "category": category,
                "price": price}

    search = [product("保A", "0-65周岁", "短描述", None, None),
              product("保B", "18-80周岁", "长" * 60, "医疗险", None)]
    card = cards.insurance_product_cards(search, keyword="医疗")
    assert card.startswith("【保险产品库】(已根据关键词 '医疗' 筛选):\n")
    # short desc still gets '...' (reference's unconditional f"{desc[:50]}...")
    assert "【产品】保A\n   - 险种: 未知\n   - 投保年龄: 0-65周岁\n   - 描述: 短描述..." in card
    assert "描述: " + "长" * 50 + "..." in card and "长" * 51 not in card
    # null category, age_limit and desc
    assert cards.insurance_product_cards([product("保C", None, None, None, None)]) == (
        "【保险产品库】(已根据关键词 '通用' 筛选):\n"
        "【产品】保C\n   - 险种: 未知\n   - 投保年龄: \n   - 描述: ..."
    )

    # an item with a null age_limit drops out of the line; the line stays
    covering = [{"ins_name": "保Y", "description": "含糖尿病保障", "age_limit": None},
                {"ins_name": "保X", "description": "含糖尿病保障", "age_limit": "0-60周岁"}]
    assert cards.covering_insurance_card(covering, "糖尿病") == (
        "【推荐保险】针对 糖尿病 的相关保险产品: 保X (年龄限制: 0-60周岁)"
    )
    assert cards.covering_insurance_card(covering[:1], "糖尿病") == "【推荐保险】针对 糖尿病 的相关保险产品: "
    aged = [{"ins_name": "保Z", "age_limit": "60-80周岁"}, {"ins_name": "保W", "age_limit": None}]
    assert cards.age_insurance_card(aged, 70) == "【适老保险】适合 70 岁人群的保险产品: 保Z (60-80周岁)"

    nh = [{"name": "颐养苑", "price": "4500", "address": "北京市朝阳区", "services": "服" * 120,
           "beds": "300张", "nature": "民营"}]
    card = cards.nursing_home_cards(nh, city="北京", price_max=5000)
    assert card.startswith("【养老机构推荐】(筛选条件: 城市=北京, 预算<5000):\n")
    assert "【颐养苑】\n  - 价格: 4500元/月\n  - 地址: 北京市朝阳区" in card
    assert "特色服务: " + "服" * 100 + "..." in card and "服" * 101 not in card

    fb = cards.nursing_home_cards([], city=None, price_max=3000)
    assert fb == "【养老机构】未找到符合条件的养老院 (城市: None, 预算: 3000)。"

    assert cards.assemble_context([cards.covering_insurance_card([], "糖尿病")]) == cards.EMPTY_CONTEXT

    # services of exactly 100 (kept whole) and 101 chars (cut to 100 + '...');
    # a non-numeric price is dropped by a price filter, kept without one
    homes = spark.createDataFrame(
        [(1, "NursingHome", "甲苑", {"price": "4500", "address": "北京市海淀区",
                                    "services": "服" * 100, "nature": ""}),
         (2, "NursingHome", "乙苑", {"price": "价格面议", "address": "北京市朝阳区",
                                    "services": "务" * 101, "beds": "200张", "nature": "公办"})],
        "entity_id long, label string, name string, props map<string,string>",
    )
    jia = "【甲苑】\n  - 价格: 4500元/月\n  - 地址: 北京市海淀区\n  - 特色服务: " + "服" * 100
    yi = ("【乙苑】\n  - 价格: 价格面议元/月\n  - 地址: 北京市朝阳区\n  - 性质: 公办\n  - 床位: 200张"
          "\n  - 特色服务: " + "务" * 100 + "...")
    rows = retriever.nursing_home_search(homes, city="北京", price_max=5000)
    assert cards.nursing_home_cards(rows, "北京", 5000) == (
        "【养老机构推荐】(筛选条件: 城市=北京, 预算<5000):\n" + jia
    )
    rows = retriever.nursing_home_search(homes, city="北京")
    assert cards.nursing_home_cards(rows, "北京", None) == (
        "【养老机构推荐】(筛选条件: 城市=北京, 预算<不限):\n" + yi + "\n" + jia
    )


def test_context_cards_end_to_end(graph):
    """Full GraphRAG context assembly over the miniature graph: parse ->
    retrieval plans -> cards -> context string (reference §3.2 lifecycle,
    minus the LLM stages)."""
    from kgspark import fixtures
    from kgspark.query import cards

    nodes, edges = graph
    d = fixtures.DISEASES[1]
    expand = retriever.disease_expand(nodes, edges, d)
    info = [cards.disease_card(r) for r in expand]
    age = cards.age_insurance_card(retriever.insurance_for_age(nodes, edges, 70), 70)
    nh = cards.nursing_home_cards(
        retriever.nursing_home_search(nodes, city=None, price_max=None), None, None
    )
    ctx = cards.assemble_context([*info, age, nh])
    assert f"【疾病信息】{d}:" in ctx
    assert "  - 症状: " in ctx
    assert "【养老机构推荐】" in ctx
    assert ctx.count("\n\n") >= 1


def test_context_retriever_one_plan_per_template(spark, graph, tmp_path, monkeypatch):
    """ContextRetriever collects the Disease dictionary once, at
    construction; each question then runs one Spark plan per retrieval
    template it asks (none for an unanswerable one), each with at most one
    join, and its context is the templates' cards joined. The graph is read
    back from parquet, as a server reads a published snapshot, so the plans
    hold only the retrieval's own operators."""
    from kgspark import fixtures
    from kgspark.query import cards
    from kgspark.query.rag import ContextRetriever

    for name, df in zip(("nodes", "edges"), graph):
        df.write.parquet(str(tmp_path / name))
    nodes, edges = (spark.read.parquet(str(tmp_path / n)) for n in ("nodes", "edges"))
    plans = []
    collect = type(nodes).collect

    def spy(df):
        plans.append(df._jdf.queryExecution().optimizedPlan().toString())
        return collect(df)

    monkeypatch.setattr(type(nodes), "collect", spy)
    rc = ContextRetriever(nodes, edges)
    assert len(plans) == 1
    d = fixtures.DISEASES[1]
    assert retriever.parse_query_rules(f"{d}有什么症状？", rc.diseases)["disease"] == [d]
    questions = {
        f"{d}有什么症状？": 2,
        "70岁老人能买什么保险？": 2,
        "北京有哪些5000元以下的养老院？": 1,
        "今天天气怎么样": 0,
    }
    for q, n_plans in questions.items():
        plans.clear()
        got = rc.ask(q)
        assert len(plans) == n_plans, q
        assert all(p.count("Join ") <= 1 for p in plans), plans
        if n_plans == 0:
            assert got["context"] == cards.EMPTY_CONTEXT
    want = cards.assemble_context([
        *map(cards.disease_card, retriever.disease_expand(nodes, edges, d)),
        cards.covering_insurance_card(retriever.insurance_covering(nodes, edges, d), d),
    ])
    assert rc.ask(f"{d}有什么症状？")["context"] == want
