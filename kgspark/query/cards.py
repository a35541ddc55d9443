"""F5: context-card / prompt formatting — the reference's retrieval-to-text
templates over the retrieval rows.

The reference formats every retrieval result into a Chinese "context card"
string before prompting the LLM (graph_retriever.py:64-75 disease card,
:84-86 covering-insurance line, :98-102 age line, :171-177 product card,
:218-240 nursing-home card, :244-245 empty-retrieval fallback). Here too
each card is a Python f-string over the (LIMIT- or one-entity-degree-
bounded) rows that ``retriever`` collects.

Faithfulness notes:
- the reference truncates the product description at 50 chars and appends
  '...' UNCONDITIONALLY (f"{desc[:50]}..."), even for short descriptions —
  reproduced, not fixed;
- nursing-home services truncate at 100 chars only when longer (a real
  conditional there) — reproduced;
- list order inside cards: the reference takes Neo4j's nondeterministic
  collect() order; we sort lexicographically — the one deliberate deviation,
  per the engine-wide determinism-under-parallelism contract;
- an insurance item whose age_limit is null is left out of the 【推荐保险】/
  【适老保险】 line (the line itself stays while any row matched);
- the empty-retrieval fallback line and the '城市=None' Python-repr artifact
  in the header are reproduced verbatim.
"""

from __future__ import annotations


def disease_card(row) -> str:
    """disease_expand row -> the 【疾病信息】 card (graph_retriever.py:64-75):
    optional 简介/治疗 lines, first-5 症状/并发症/常用药物 lines — a line is
    omitted when its field is null/empty, exactly like the reference's ``if``
    guards."""
    card = f"【疾病信息】{row['disease']}:\n"
    for prefix, key in (("简介", "intro"), ("治疗", "treat_detail")):
        if row[key]:
            card += f"  - {prefix}: {row[key]}\n"
    for prefix, key in (("症状", "symptoms"), ("并发症", "complications"), ("常用药物", "drugs")):
        if row[key]:
            card += f"  - {prefix}: {', '.join(row[key][:5])}\n"
    return card


def _insurance_line(header: str, rows, item: str) -> str | None:
    """The reference appends the line only ``if ins_list:`` — no rows, no
    line; ``item`` formats one row's name and age_limit."""
    if not rows:
        return None
    items = [item.format(r["ins_name"], r["age_limit"]) for r in rows if r["age_limit"] is not None]
    return header + ", ".join(sorted(items))


def covering_insurance_card(rows, disease: str) -> str | None:
    """insurance_covering rows -> one 【推荐保险】 line
    (graph_retriever.py:83-86): 'name (年龄限制: x)' items comma-joined."""
    return _insurance_line(f"【推荐保险】针对 {disease} 的相关保险产品: ", rows, "{} (年龄限制: {})")


def age_insurance_card(rows, age: int) -> str | None:
    """insurance_for_age rows -> one 【适老保险】 line
    (graph_retriever.py:96-102): 'name (age_limit)' items comma-joined."""
    return _insurance_line(f"【适老保险】适合 {age} 岁人群的保险产品: ", rows, "{} ({})")


def insurance_product_cards(rows, keyword: str | None = None) -> str | None:
    """insurance_search rows -> the 【保险产品库】 header plus one 【产品】
    card per product (graph_retriever.py:160-177). The unconditional
    desc[:50] + '...' truncation is reproduced; a null category renders the
    reference's '未知' default."""
    if not rows:
        return None
    cards = [
        f"【产品】{r['name']}"
        f"\n   - 险种: {'未知' if r['category'] is None else r['category']}"
        f"\n   - 投保年龄: {r['age_limit'] or ''}"
        f"\n   - 描述: {(r['desc'] or '')[:50]}..."
        for r in rows
    ]
    return f"【保险产品库】(已根据关键词 '{keyword or '通用'}' 筛选):\n" + "\n".join(sorted(cards))


def nursing_home_cards(rows, city: str | None = None, price_max: int | None = None) -> str:
    """nursing_home_search rows -> the 【养老机构推荐】 block
    (graph_retriever.py:216-240): per-home detail cards with optional
    性质/床位/特色服务 lines (services >100 chars truncate + '...'), the
    filter-condition header, and the exact not-found fallback line when the
    search is empty."""
    if not rows:
        return f"【养老机构】未找到符合条件的养老院 (城市: {city}, 预算: {price_max})。"
    cards = []
    for r in rows:
        svc = r["services"]
        if svc is not None and len(svc) > 100:
            svc = svc[:100] + "..."
        card = f"【{r['name']}】\n  - 价格: {r['price'] or ''}元/月\n  - 地址: {r['address'] or ''}"
        for prefix, value in (("性质", r["nature"]), ("床位", r["beds"]), ("特色服务", svc)):
            if value:
                card += f"\n  - {prefix}: {value}"
        cards.append(card)
    header = f"【养老机构推荐】(筛选条件: 城市={city or '不限'}, 预算<{price_max or '不限'}):\n"
    return header + "\n".join(sorted(cards))


EMPTY_CONTEXT = "知识图谱检索完成，但在图谱中未发现与该特定实体或条件直接匹配的记录。"


def assemble_context(cards: list[str | None]) -> str:
    """Join the non-empty cards with blank lines — the reference's
    '\\n\\n'.join(context_parts) (graph_retriever.py:243-246) including its
    empty-retrieval fallback string."""
    return "\n\n".join(c for c in cards if c) or EMPTY_CONTEXT
