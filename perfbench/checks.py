"""Correctness checks against the facts the generators planted.

A graph model is ``(nodes, edges)`` in the shape ``construct.oracle.replay``
returns: ``nodes[(label, name)] -> props`` and ``edges`` a set of
``(subj_type, subj, rel, obj_type, obj)``. Expected answers are rebuilt here
from a model with the reference's card templates, never from kgspark output.
"""

from __future__ import annotations

from collections.abc import Iterable

EMPTY_CONTEXT = "知识图谱检索完成，但在图谱中未发现与该特定实体或条件直接匹配的记录。"
GENERIC = ["重疾", "医疗", "护理", "防癌"]


def graph_model(nodes_df, edges_df) -> tuple[dict, set, int]:
    """Collect a built graph into a model. Also returns the number of
    integrity faults: duplicate (label, name) keys and dangling edges."""
    nodes: dict = {}
    by_id: dict = {}
    faults = 0
    for r in nodes_df.select("entity_id", "label", "name", "props").collect():
        key = (r["label"], r["name"])
        faults += key in nodes
        nodes[key] = dict(r["props"] or {})
        by_id[r["entity_id"]] = key
    edges = set()
    for r in edges_df.select("src_id", "rel", "dst_id").collect():
        s, o = by_id.get(r["src_id"]), by_id.get(r["dst_id"])
        if s is None or o is None:
            faults += 1
            continue
        edges.add((s[0], s[1], r["rel"], o[0], o[1]))
    return nodes, edges, faults


def model_from_triples(triples: Iterable[tuple[str, str, str, str, str]]) -> tuple[dict, set]:
    """Model of a props-free graph from (subj, subj_type, pred, obj, obj_type)."""
    nodes: dict = {}
    edges = set()
    for s, st, p, o, ot in triples:
        nodes[(st, s)] = {}
        nodes[(ot, o)] = {}
        edges.add((st, s, p, ot, o))
    return nodes, edges


def precision_recall(predicted: set, planted: set) -> tuple[float, float]:
    if not predicted or not planted:
        return 0.0, 0.0
    tp = len(predicted & planted)
    return tp / len(predicted), tp / len(planted)


# ---------------------------------------------------------------------------
# expected GraphRAG contexts
# ---------------------------------------------------------------------------
def _disease_cards(nodes: dict, edges: set, d: str) -> list[str]:
    cards = []
    props = nodes.get(("Disease", d))
    if props is not None:
        card = f"【疾病信息】{d}:\n"
        for prefix, key in (("简介", "intro"), ("治疗", "treat_detail")):
            if props.get(key):
                card += f"  - {prefix}: {props[key]}\n"
        for prefix, rel in (("症状", "HAS_SYMPTOM"), ("并发症", "HAS_COMPLICATION"),
                            ("常用药物", "TREATED_BY")):
            vals = sorted({o for st, s, r, _ot, o in edges
                           if st == "Disease" and s == d and r == rel})
            if vals:
                card += f"  - {prefix}: {', '.join(vals[:5])}\n"
        cards.append(card)
    covering = sorted({s for st, s, r, _ot, o in edges
                       if st == "Insurance" and r == "COVERS_DISEASE" and o == d})
    covering = [i for i in covering if ("Insurance", i) in nodes]
    if covering:
        items = sorted(f"{i} (年龄限制: {nodes[('Insurance', i)]['age_limit']})" for i in covering)
        cards.append(f"【推荐保险】针对 {d} 的相关保险产品: {', '.join(items)}")
    return cards


def _age_card(nodes: dict, edges: set, age: int) -> list[str]:
    hits = sorted({s for st, s, r, _ot, o in edges
                   if st == "Insurance" and r == "TARGETS_POPULATION" and o == "老年人"
                   and ("Insurance", s) in nodes})[:5]
    if not hits:
        return []
    items = sorted(f"{i} ({nodes[('Insurance', i)]['age_limit']})" for i in hits)
    return [f"【适老保险】适合 {age} 岁人群的保险产品: {', '.join(items)}"]


def _product_cards(nodes: dict, names: list[str], keyword: str | None) -> list[str]:
    if not names:
        return []
    cards = []
    for n in names:
        p = nodes[("Insurance", n)]
        cards.append(
            f"【产品】{n}\n   - 险种: {p.get('category') or '未知'}"
            f"\n   - 投保年龄: {p.get('age_limit') or ''}"
            f"\n   - 描述: {(p.get('description') or '')[:50]}..."
        )
    header = f"【保险产品库】(已根据关键词 '{keyword or '通用'}' 筛选):\n"
    return [header + "\n".join(sorted(cards))]


def _nursing_card(nodes: dict, city: str, price_max: int) -> list[str]:
    homes = []
    for (label, name), p in nodes.items():
        if label != "NursingHome":
            continue
        if city not in (p.get("address") or "") and city not in name:
            continue
        if not (p.get("price") or "").isdigit() or int(p["price"]) > price_max:
            continue
        homes.append(name)
    cards = []
    for n in sorted(homes)[:5]:
        p = nodes[("NursingHome", n)]
        card = f"【{n}】\n  - 价格: {p.get('price', '')}元/月\n  - 地址: {p.get('address', '')}"
        svc = p.get("services")
        if svc and len(svc) > 100:
            svc = svc[:100] + "..."
        for prefix, val in (("性质", p.get("nature")), ("床位", p.get("beds")), ("特色服务", svc)):
            if val:
                card += f"\n  - {prefix}: {val}"
        cards.append(card)
    if not cards:
        return [f"【养老机构】未找到符合条件的养老院 (城市: {city}, 预算: {price_max})。"]
    header = f"【养老机构推荐】(筛选条件: 城市={city}, 预算<{price_max}):\n"
    return [header + "\n".join(sorted(cards))]


def expected_context(model: tuple[dict, set], kind: str, arg) -> str:
    """The context ``retrieve_context`` must return for one generated
    question: ``kind`` is its branch, ``arg`` the entity or condition asked
    about (disease name, age, series, keyword or (city, price_max))."""
    nodes, edges = model
    insurances = sorted(n for (label, n) in nodes if label == "Insurance")
    if kind == "disease":
        cards = _disease_cards(nodes, edges, arg)
    elif kind == "age":
        cards = _age_card(nodes, edges, arg)
    elif kind == "series":
        cards = _product_cards(nodes, [n for n in insurances if arg in n][:6], arg)
    elif kind == "generic":
        # the generators keep this set at most 20 names, the search limit, so
        # its seeded sample order does not decide which names appear
        matched = [n for n in insurances if any(k in n for k in GENERIC)]
        if len(matched) > 20:
            raise ValueError("generic insurance set exceeds the search limit")
        cards = _product_cards(nodes, matched, None)
    elif kind == "nursing":
        cards = _nursing_card(nodes, *arg)
    else:
        cards = []
    return "\n\n".join(cards) if cards else EMPTY_CONTEXT
