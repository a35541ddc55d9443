"""§3.2 GraphRAG retrieval loop, end to end minus the LLM: the data-plane
analogue of the reference's ``POST /chat`` → ``GraphRetriever.retrieve``
(rag_engine.py:56-161 → graph_retriever.py:23-246).

``ContextRetriever.ask`` runs the whole loop: rule-based intent parse (X3
stand-in) → the intent-gated retrieval templates (J2/J3 expands, P8
filters, W1/W2 limits; one Spark plan each) → context cards (F5) → one
assembled context string. The branch structure mirrors the reference's
retrieve() exactly:

- disease entities → disease info card + covering-insurance line
  (graph_retriever.py:44-86);
- age >= 60 → age-targeted insurance line (:89-102);
- insurance intent → product-library card, series-keyword precise search
  vs generic keyword sample (:112-177);
- nursing intent OR city/price present → nursing-home block with the
  not-found fallback (:182-240);
- nothing retrieved → the exact empty-context sentence (:244-245).

An LLM answerer slots in after this (driver-side, provider-specific, out
of data-plane scope per SURVEY §2.9) — the context string is its prompt
input, same as the reference.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from kgspark.query import cards, retriever


class ContextRetriever:
    """Question answering over one graph snapshot. The Disease entity
    dictionary (for mention-style disease detection in the question) is
    collected ONCE, at construction — the analogue of the mention stage's
    broadcast dictionary; the dictionary only changes when the graph is
    republished, and then the caller builds a fresh retriever over the new
    snapshot. ``seed`` feeds the deterministic recommendation shuffle (W1).

    >>> rc = ContextRetriever(nodes, edges)
    >>> rc.ask("高血压有什么症状？")["context"]
    """

    def __init__(self, nodes: DataFrame, edges: DataFrame, seed: int | None = 42):
        self.nodes = nodes
        self.edges = edges
        self.seed = seed
        self.diseases = [
            r["name"] for r in nodes.filter(F.col("label") == "Disease").select("name").collect()
        ]

    def ask(self, question: str) -> dict:
        """Question -> {"parsed": intent dict, "context": str}."""
        nodes, edges = self.nodes, self.edges
        parsed = retriever.parse_query_rules(question, known_diseases=self.diseases)
        intent, age = parsed["intent"], parsed.get("age")
        city, price_max = parsed.get("city"), parsed.get("price_max")
        parts: list[str | None] = []
        for disease in parsed.get("disease", []):
            parts += map(cards.disease_card, retriever.disease_expand(nodes, edges, disease))
            parts.append(cards.covering_insurance_card(
                retriever.insurance_covering(nodes, edges, disease), disease))
        if age is not None:
            parts.append(cards.age_insurance_card(retriever.insurance_for_age(nodes, edges, age), age))
        if intent == "insurance_query":
            series = next((s for s in retriever.KNOWN_SERIES if s in question), None)
            parts.append(cards.insurance_product_cards(
                retriever.insurance_search(nodes, question, seed=self.seed), keyword=series))
        if intent == "nursing_home_search" or city or price_max:
            parts.append(cards.nursing_home_cards(
                retriever.nursing_home_search(nodes, city=city, price_max=price_max),
                city, price_max))
        return {"parsed": parsed, "context": cards.assemble_context(parts)}
