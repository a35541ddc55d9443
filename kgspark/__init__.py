"""kgspark — a from-scratch, PySpark-native knowledge-graph construction engine.

Re-expresses the construction + query semantics of the reference system
``Nelly-se/Knowledge-Graph-Construction`` (an insurance/medical/elder-care KGQA
stack; see SURVEY.md) as idiomatic Spark DataFrame plans:

- structured sources (JSON / nested-JSON / CSV) -> projection/explode plans ->
  ``triples`` -> MERGE-semantics canonicalization -> ``nodes`` + ``edges``
- web-pages corpus (url, warc_ts, html, text, lang) -> vectorized HTML->text ->
  sentence-split OpenIE triple extraction (mapInPandas) -> mention detection ->
  connected-components canonicalization -> bucketed graph tables + lineage
- query layer: the reference's GraphRAG retrieval templates, one Spark plan
  each, and its context cards as Python f-strings over the collected rows.

No RDDs, no per-row Python UDFs; pandas/Arrow UDFs only where built-in
functions cannot express the semantics.
"""

__version__ = "0.1.0"
