"""Ontology / relation-rule registry.

The reference declares its ontology in ``ontology_design.py:8-21`` but the
*operative* schema lives in the loader Cypher (``neo4j_loader.py:120-267``):
per-source FOREACH blocks that explode array fields into edges, guard on
non-empty scalars, and substring-match descriptions against a fixed keyword
set. Here those become declarative rules; ``construct/triples.py`` compiles
each rule into a Spark ``select``/``explode``/``filter`` plan, so the whole
"entity extraction from records" stage is Catalyst-optimizable (no UDFs).

Rule kinds:

- ``ExplodeRule``   — array column -> one edge per element
  (Cypher ``FOREACH (x IN row.list | MERGE ... MERGE edge)``,
   neo4j_loader.py:126-147)
- ``ScalarRule``    — scalar column -> edge, guarded on non-empty
  (``FOREACH (ignore IN CASE WHEN row.dept <> "" ...)``, :132-135)
- ``ContainsRule``  — any-of-substrings predicate on a column -> edge to a
  fixed literal entity (insurance CONTAINS linking, :248-266). The '60'
  substring quirk (matches "160天") is intentionally preserved, bug-compatible.
"""

from __future__ import annotations

from dataclasses import dataclass, field

# Entity labels (unique-name constraints per label, neo4j_loader.py:44-52)
LABELS = [
    "Disease",
    "Drug",
    "Symptom",
    "NursingHome",
    "Insurance",
    "Department",
    "Population",
    # text-IE labels (text_graph_builder.py:33-43)
    "AgeRange",
    "Exclusion",
]

@dataclass(frozen=True)
class ExplodeRule:
    head_type: str
    head_col: str
    rel: str
    tail_type: str
    tail_col: str  # ArrayType(StringType) column


@dataclass(frozen=True)
class ScalarRule:
    head_type: str
    head_col: str
    rel: str
    tail_type: str
    tail_col: str  # StringType column; empty-string / null rows dropped


@dataclass(frozen=True)
class ContainsRule:
    head_type: str
    head_col: str
    rel: str
    tail_type: str
    tail_name: str  # fixed literal tail entity
    match_col: str
    keywords: tuple[str, ...] = field(default_factory=tuple)  # any-of


# --- per-source rule sets (SURVEY §2.3/§2.4) --------------------------------
DISEASE_RULES = [
    ExplodeRule("Disease", "name", "HAS_SYMPTOM", "Symptom", "symptom"),
    ScalarRule("Disease", "name", "BELONGS_TO_DEPT", "Department", "dept"),
    ExplodeRule("Disease", "name", "TREATED_BY", "Drug", "drug"),
    ExplodeRule("Disease", "name", "HAS_COMPLICATION", "Disease", "neopathy"),
]

INSURANCE_RULES = [
    # neo4j_loader.py:249-252 — the '60' substring matches ages like "160" too
    ContainsRule(
        "Insurance", "name", "TARGETS_POPULATION", "Population", "老年人",
        "age_limit", ("老年", "60"),
    ),
    # neo4j_loader.py:255-266
    ContainsRule(
        "Insurance", "name", "COVERS_DISEASE", "Disease", "高血压",
        "description", ("高血压",),
    ),
    ContainsRule(
        "Insurance", "name", "COVERS_DISEASE", "Disease", "糖尿病",
        "description", ("糖尿病",),
    ),
    ContainsRule(
        "Insurance", "name", "COVERS_DISEASE", "Disease", "恶性肿瘤",
        "description", ("癌症", "恶性肿瘤"),
    ),
]


# --- rules as data -----------------------------------------------------------
_RULE_KINDS = {"explode": ExplodeRule, "scalar": ScalarRule, "contains": ContainsRule}


def rule_to_dict(rule) -> dict:
    """Serialize a rule to a plain JSON-able dict (``kind`` + fields)."""
    from dataclasses import asdict

    kind = {v: k for k, v in _RULE_KINDS.items()}[type(rule)]
    d = {"kind": kind, **asdict(rule)}
    if "keywords" in d:
        d["keywords"] = list(d["keywords"])
    return d


def rules_from_config(config: list[dict] | str) -> list:
    """Load triple-generation rules from data instead of code: a JSON string
    or a list of dicts, each ``{"kind": "explode"|"scalar"|"contains", ...
    fields}``. Lets a pipeline deployment version its extraction ontology in
    config (review/diff the ontology without touching code), round-tripping
    exactly through ``rule_to_dict``. Unknown kinds or fields fail fast —
    a typo'd ontology must not silently drop an edge type."""
    import json as _json

    if isinstance(config, str):
        config = _json.loads(config)
    rules = []
    for entry in config:
        entry = dict(entry)
        kind = entry.pop("kind", None)
        if kind not in _RULE_KINDS:
            raise ValueError(f"unknown rule kind: {kind!r}")
        cls = _RULE_KINDS[kind]
        if "keywords" in entry:
            entry["keywords"] = tuple(entry["keywords"])
        try:
            rules.append(cls(**entry))
        except TypeError as exc:
            raise ValueError(f"bad fields for {kind} rule: {exc}") from exc
    return rules
