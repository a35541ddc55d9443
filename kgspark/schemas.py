"""Explicit StructTypes for every table the engine reads or writes.

The reference enforces no schemas (fields are hand-picked with ``.get()``
defaults, ``neo4j_loader.py:92-103``); here every source is read with a
declared schema so Catalyst can prune columns and push filters into the scan.
All node properties are strings, mirroring the reference's string-typed model
(SURVEY.md §1.2).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T


def local_frame(spark: SparkSession, rows: list[dict], schema: T.StructType) -> DataFrame:
    """Driver-side rows -> a frame that plans as a JVM ``LocalTableScan``.

    The rows become one ``pyarrow.Table`` typed by ``schema`` (a value of the
    wrong type raises ``TypeError`` here), which the JVM keeps as a local
    relation. A list passed straight to ``createDataFrame`` becomes a
    pickled RDD (``Scan ExistingRDD``), unpickled again by every plan that
    references it.
    """
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    table = pa.Table.from_pylist(rows, schema=to_arrow_schema(schema))
    return spark.createDataFrame(table, schema=schema)


# ---------------------------------------------------------------------------
# Primary input: Common-Crawl-style web pages (BASELINE.json input_hint)
# ---------------------------------------------------------------------------
WEB_PAGES = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("warc_ts", T.TimestampType(), True),
        T.StructField("html", T.BinaryType(), True),
        T.StructField("text", T.StringType(), True),
        T.StructField("lang", T.StringType(), True),
    ]
)

# ---------------------------------------------------------------------------
# Structured reference sources (miniatures share these shapes; FIXTURES.md §2)
# ---------------------------------------------------------------------------
# diseases.json — JSON array; reference loader: neo4j_loader.py:84-117
DISEASES = T.StructType(
    [
        T.StructField("id", T.StringType(), True),
        T.StructField("icd_code", T.StringType(), True),
        T.StructField("name", T.StringType(), True),
        T.StructField("intro", T.StringType(), True),
        T.StructField("get_prob", T.StringType(), True),
        T.StructField("cure_dept", T.StringType(), True),
        T.StructField("easy_get", T.StringType(), True),
        T.StructField("get_way", T.StringType(), True),
        T.StructField("neopathy", T.ArrayType(T.StringType()), True),
        T.StructField("drug", T.ArrayType(T.StringType()), True),
        T.StructField("symptom", T.ArrayType(T.StringType()), True),
        T.StructField("cause", T.StringType(), True),
        T.StructField("prevent", T.StringType(), True),
        T.StructField("nursing", T.StringType(), True),
        T.StructField("treat_detail", T.StringType(), True),
    ]
)

# insurance_info.json — Chinese keys; neo4j_loader.py:222-269
INSURANCE_RAW = T.StructType(
    [
        T.StructField("产品名称", T.StringType(), True),
        T.StructField("险种分类", T.StringType(), True),
        T.StructField("承保公司", T.StringType(), True),
        T.StructField("承保年龄", T.StringType(), True),
        T.StructField("保障期限", T.StringType(), True),
        T.StructField("产品描述", T.StringType(), True),
        T.StructField("价格", T.StringType(), True),
    ]
)

# ---------------------------------------------------------------------------
# Intermediate + output tables (FIXTURES.md §3)
# ---------------------------------------------------------------------------
# node-record IR: one row per MERGE+SET the reference would issue.
# ``seq`` is the global write sequence driving last-write-wins (SURVEY §1.3).
NODE_RECORDS = T.StructType(
    [
        T.StructField("label", T.StringType(), False),
        T.StructField("name", T.StringType(), False),
        T.StructField("props", T.MapType(T.StringType(), T.StringType()), True),
        T.StructField("seq", T.LongType(), False),
    ]
)

# the graph tables as ``construct.graph.save_graph`` lays them out: ``bucket``
# is the partition column. Reading with these runs no schema-inference job,
# and a graph saved empty (no parquet files) reads as an empty table.
NODES = T.StructType(
    [
        T.StructField("entity_id", T.LongType(), False),
        T.StructField("label", T.StringType(), False),
        T.StructField("name", T.StringType(), False),
        T.StructField("props", T.MapType(T.StringType(), T.StringType()), True),
        T.StructField("bucket", T.IntegerType(), False),
    ]
)

EDGES = T.StructType(
    [
        T.StructField("src_id", T.LongType(), False),
        T.StructField("rel", T.StringType(), False),
        T.StructField("dst_id", T.LongType(), False),
        T.StructField("bucket", T.IntegerType(), False),
    ]
)

LINEAGE = T.StructType(
    [
        T.StructField("bucket", T.IntegerType(), False),
        T.StructField("run_id", T.StringType(), False),
        T.StructField("run_seq", T.LongType(), False),
        T.StructField("url_min", T.StringType(), True),
        T.StructField("url_max", T.StringType(), True),
        T.StructField("n_docs", T.LongType(), False),
        T.StructField("n_html_extracted", T.LongType(), False),
        T.StructField("n_triples", T.LongType(), False),
        T.StructField("n_preds", T.LongType(), False),
        T.StructField("n_subjects", T.LongType(), False),
        T.StructField("url_sketch", T.ArrayType(T.StringType(), False), True),
        T.StructField("status", T.StringType(), False),
    ]
)

# extracted-triple rows carry provenance back to the source url
DOC_TRIPLES = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("subj", T.StringType(), False),
        T.StructField("subj_type", T.StringType(), False),
        T.StructField("pred", T.StringType(), False),
        T.StructField("obj", T.StringType(), False),
        T.StructField("obj_type", T.StringType(), False),
    ]
)


EVENTS = T.StructType(
    [
        T.StructField("event_id", T.LongType(), True),
        T.StructField("ts", T.TimestampType(), True),
        T.StructField("user_id", T.LongType(), True),
        T.StructField("event_type", T.StringType(), True),
        T.StructField("value", T.DoubleType(), True),
        T.StructField("props", T.StringType(), True),
    ]
)
