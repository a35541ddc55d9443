"""Structured-source scans (SURVEY §2.1 S1-S4) -> projected source frames.

Two read paths:

- ``read_*_spark``: plain ``spark.read`` scans with explicit schemas — the
  path you would use when these datasets are big (parquet/JSON-lines on a
  cluster); used by scan-operator tests to verify pushdown/pruning.
- ``load_*``: *ordered* catalog loads. The reference's MERGE semantics are
  write-order dependent (last-write-wins props, ``SET d += row.props``,
  neo4j_loader.py:122-124), and order comes from file position, which a
  parallel scan does not preserve. These catalogs are dimension-scale
  (10^2..10^4 rows — they are broadcast sides at 100 TB, not the corpus), so
  ordering is materialized driver-side with an explicit ``seq`` column and
  shipped as one Arrow table (``schemas.local_frame``): the frame plans as
  a JVM ``LocalTableScan``, so the build runs no Python worker. The
  10^12-row web corpus never takes this path: its ordering key is
  data-derived (url, warc_ts) — see kgspark/pipeline.py.

``seq`` is globally monotone across sources in the reference's fixed load
order Diseases -> Drugs -> NursingHomes -> Insurances (neo4j_loader.py:74-77).
"""

from __future__ import annotations

import csv
import json
import warnings
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from kgspark import schemas

# global sequence bands preserving the reference's source load order
SEQ_BAND = 1_000_000_000
SOURCE_RANK = {"diseases": 0, "drugs": 1, "nursing_homes": 2, "insurances": 3}


def _seq(source: str, i: int) -> int:
    return SOURCE_RANK[source] * SEQ_BAND + i


def _missing(spark: SparkSession, path: str, schema: T.StructType) -> DataFrame | None:
    """The reference skips absent source files with a warning and builds a
    partial graph (neo4j_loader.py:80-82); mirror that with an empty frame."""
    if Path(path).exists():
        return None
    warnings.warn(f"source file not found, skipping: {path}", stacklevel=3)
    return schemas.local_frame(spark, [], schema)


# ---------------------------------------------------------------------------
# S1: diseases.json (JSON array, 15 fields incl. 3 array fields)
# ---------------------------------------------------------------------------
DISEASE_PROP_FIELDS = [
    # projection P1, neo4j_loader.py:92-103 (name carried separately)
    "icd_code",
    "intro",
    "get_prob",
    "easy_get",
    "get_way",
    "cause",
    "prevent",
    "nursing",
    "treat_detail",
]

_DISEASE_ROW_SCHEMA = T.StructType(
    [
        T.StructField("name", T.StringType(), True),
        *[T.StructField(f, T.StringType(), True) for f in DISEASE_PROP_FIELDS],
        T.StructField("symptom", T.ArrayType(T.StringType()), True),
        T.StructField("drug", T.ArrayType(T.StringType()), True),
        T.StructField("neopathy", T.ArrayType(T.StringType()), True),
        T.StructField("dept", T.StringType(), True),
        T.StructField("seq", T.LongType(), False),
    ]
)


def load_diseases(spark: SparkSession, path: str) -> DataFrame:
    """Ordered disease source frame (projection per neo4j_loader.py:92-117)."""
    if (empty := _missing(spark, path, _DISEASE_ROW_SCHEMA)) is not None:
        return empty
    with open(path, encoding="utf-8") as f:
        data = json.load(f)
    rows = []
    for i, item in enumerate(data):
        rows.append(
            {
                "name": item.get("name"),
                **{f: item.get(f) for f in DISEASE_PROP_FIELDS},
                "symptom": [str(s) for s in item.get("symptom", [])],
                "drug": [str(d) for d in item.get("drug", [])],
                "neopathy": [str(n) for n in item.get("neopathy", [])],
                # dept is stripped at projection time (neo4j_loader.py:109)
                "dept": (item.get("cure_dept") or "").strip(),
                "seq": _seq("diseases", i),
            }
        )
    return schemas.local_frame(spark, rows, _DISEASE_ROW_SCHEMA)


def read_diseases_spark(spark: SparkSession, path: str) -> DataFrame:
    """Distributed JSON-array scan (S1) with declared schema — order-free path."""
    return spark.read.option("multiLine", True).schema(schemas.DISEASES).json(path)


# ---------------------------------------------------------------------------
# S2: medicine.json (nested {sheet: {categories, medicines: [...]}})
# ---------------------------------------------------------------------------
DRUG_PROP_FIELDS = [
    # projection per neo4j_loader.py:166-172 (name carried separately)
    "category_code",
    "subcategory_name",
    "dosage",
    "reimbursement_category",
]

_DRUG_ROW_SCHEMA = T.StructType(
    [
        T.StructField("name", T.StringType(), True),
        *[T.StructField(f, T.StringType(), True) for f in DRUG_PROP_FIELDS],
        T.StructField("sheet", T.StringType(), True),
        T.StructField("seq", T.LongType(), False),
    ]
)


def load_drugs(spark: SparkSession, path: str) -> DataFrame:
    """Ordered flattened medicines (sheet dict walk, neo4j_loader.py:161-173)."""
    if (empty := _missing(spark, path, _DRUG_ROW_SCHEMA)) is not None:
        return empty
    with open(path, encoding="utf-8") as f:
        data = json.load(f)
    rows = []
    i = 0
    for sheet_name, content in data.items():  # dict order == file order
        for med in content.get("medicines", []):
            rows.append(
                {
                    "name": med.get("name"),
                    **{f: med.get(f) for f in DRUG_PROP_FIELDS},
                    "sheet": sheet_name,
                    "seq": _seq("drugs", i),
                }
            )
            i += 1
    return schemas.local_frame(spark, rows, _DRUG_ROW_SCHEMA)


# ---------------------------------------------------------------------------
# S3: nursing_homes.csv (UTF-8 BOM, Chinese headers)
# ---------------------------------------------------------------------------
NURSING_COLMAP = {
    # Chinese->English projection, neo4j_loader.py:198-206
    "city": "城市",
    "nature": "性质",
    "beds": "床位",
    "price": "价格(元/月)",
    "address": "地址",
    "services": "特色服务",
}

_NURSING_ROW_SCHEMA = T.StructType(
    [
        T.StructField("name", T.StringType(), False),
        *[T.StructField(f, T.StringType(), True) for f in NURSING_COLMAP],
        T.StructField("seq", T.LongType(), False),
    ]
)


def load_nursing_homes(spark: SparkSession, path: str) -> DataFrame:
    """Ordered nursing-home frame; blank-name rows dropped (neo4j_loader.py:193-195)."""
    if (empty := _missing(spark, path, _NURSING_ROW_SCHEMA)) is not None:
        return empty
    with open(path, encoding="utf-8-sig") as f:
        reader = csv.DictReader(f)
        rows = []
        for i, row in enumerate(reader):
            name = row.get("名称")
            if not name or not name.strip():
                continue
            rows.append(
                {
                    "name": name.strip(),
                    **{eng: row.get(chi) for eng, chi in NURSING_COLMAP.items()},
                    "seq": _seq("nursing_homes", i),
                }
            )
    return schemas.local_frame(spark, rows, _NURSING_ROW_SCHEMA)


def read_nursing_homes_spark(spark: SparkSession, path: str) -> DataFrame:
    """Distributed CSV scan (S3): header + BOM handling + rename + blank filter."""
    df = spark.read.csv(path, header=True, encoding="UTF-8")
    # spark leaves the BOM on the first header name; normalize it away
    first = df.columns[0]
    if first.startswith("﻿"):
        df = df.withColumnRenamed(first, first.lstrip("﻿"))
    out = df.select(
        F.trim(F.col("名称")).alias("name"),
        *[F.col(chi).alias(eng) for eng, chi in NURSING_COLMAP.items()],
    )
    return out.filter(F.col("name").isNotNull() & (F.col("name") != ""))


# ---------------------------------------------------------------------------
# S4: insurance_info.json (JSON array, Chinese keys)
# ---------------------------------------------------------------------------
INSURANCE_COLMAP = {
    # projection per neo4j_loader.py:228-236
    "name": "产品名称",
    "category": "险种分类",
    "company": "承保公司",
    "age_limit": "承保年龄",
    "duration": "保障期限",
    "price_desc": "价格",
}

_INSURANCE_ROW_SCHEMA = T.StructType(
    [
        *[T.StructField(f, T.StringType(), True) for f in INSURANCE_COLMAP],
        T.StructField("description", T.StringType(), True),
        T.StructField("seq", T.LongType(), False),
    ]
)


def load_insurances(spark: SparkSession, path: str) -> DataFrame:
    if (empty := _missing(spark, path, _INSURANCE_ROW_SCHEMA)) is not None:
        return empty
    with open(path, encoding="utf-8") as f:
        data = json.load(f)
    rows = []
    for i, item in enumerate(data):
        rows.append(
            {
                **{eng: item.get(chi) for eng, chi in INSURANCE_COLMAP.items()},
                # description defaults to "" when the key is absent (:235)
                "description": item.get("产品描述", ""),
                "seq": _seq("insurances", i),
            }
        )
    return schemas.local_frame(spark, rows, _INSURANCE_ROW_SCHEMA)


def read_insurances_spark(spark: SparkSession, path: str) -> DataFrame:
    """Distributed JSON-array scan (S4) with Chinese-key schema + alias projection."""
    raw = spark.read.option("multiLine", True).schema(schemas.INSURANCE_RAW).json(path)
    return raw.select(
        *[F.col(f"`{chi}`").alias(eng) for eng, chi in INSURANCE_COLMAP.items()],
        F.coalesce(F.col("产品描述"), F.lit("")).alias("description"),
    )


def read_json_quarantined(
    spark: SparkSession, path: str, schema: T.StructType, multiline: bool = False
) -> tuple[DataFrame, DataFrame]:
    """Production-grade scan: PERMISSIVE read with a corrupt-record column —
    malformed rows are QUARANTINED (returned as a second frame carrying the
    raw line) instead of failing the job or silently nulling out.

    The reference swallows whole 1000-row batches on any error
    (neo4j_loader.py:280-282, errors logged and lost); here every bad input
    row is preserved with its raw text for reprocessing — the per-batch
    error isolation the reference wanted, at row granularity.
    """
    with_corrupt = T.StructType(
        schema.fields + [T.StructField("_corrupt_record", T.StringType(), True)]
    )
    raw = (
        spark.read.option("multiLine", multiline)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .schema(with_corrupt)
        .json(path)
    ).cache()  # Spark requires caching before referencing _corrupt_record
    good = raw.filter(F.col("_corrupt_record").isNull()).drop("_corrupt_record")
    bad = raw.filter(F.col("_corrupt_record").isNotNull()).select("_corrupt_record")
    return good, bad
