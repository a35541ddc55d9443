"""Flagship web-scale pipeline: web pages -> triples -> graph, resumable.

The reference's text path is one LLM call per document and one Cypher
round-trip per triple (text_graph_builder.py:23-91) — the scalability
anti-pattern the north rule replaces. Here the same semantics run as two
stages over an (url, warc_ts, html, text, lang) corpus:

Stage 1 — per-bucket, checkpoint-resumable (the expensive scan):
  bucket = pmod(xxhash64(url), n_buckets)   (Iceberg-style hidden partition)
  HTML->text (X5) -> OpenIE triples (X1) in one mapInPandas pass, which also
  emits one row per page; that output is materialized once and feeds
  -> triples written with dynamic partition overwrite per bucket
  -> one lineage row per bucket (url range, doc/triple counts, url sketch,
     run id), collected and written from the driver.
  The pages are read once per build. On rerun, buckets with status='done'
  are filtered away before any extraction work happens (when every bucket
  is done the pages are not read at all); re-processing a bucket overwrites
  exactly its own partition (idempotent).

Stage 2 — global, cheap, idempotent (runs on the columnar triple store):
  surface-form canonicalization (X7 connected components, Disease names
  only, collected once) -> canonical triples (materialized once)
  -> nodes/edges canonicalization + dedup -> bucketed graph tables.
  ``run_pipeline`` saves a manifest with the graph (the lineage state and
  options it was built from) and skips this stage while it still matches.

At 10^12 documents stage 1 dominates; its unit of retry/skip is the bucket,
so a failed cluster loses at most one bucket's work. Stage 2 is a full
recompute over extracted triples — deliberately: triples are ~10^-3 the
corpus bytes, and an idempotent overwrite is simpler and safer than
incremental graph maintenance.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from kgspark import schemas
from kgspark.construct import graph as g
from kgspark.extract import components, openie

_SKETCH_K = 64  # per-bucket KMV url-sketch size (rse ~ 1/sqrt(k-2) ~ 13%)
# the (bucket, run_seq) lineage state and graph options a saved graph was
# built from; run_pipeline skips graph_stage while it still matches
_MANIFEST = "graph_manifest.json"

_TRIPLE_COLS = ["subj", "subj_type", "pred", "obj", "obj_type"]
# extraction output: one row per triple (from_html null) and one row per
# page (triple columns null, from_html set), so one pass over the pages
# feeds both the triple store and the lineage
_EXTRACTED = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        *[T.StructField(c, T.StringType(), True) for c in _TRIPLE_COLS],
        T.StructField("from_html", T.BooleanType(), True),
    ]
)


@dataclass
class PipelineResult:
    n_docs: int
    n_triples: int
    n_buckets_processed: int
    n_buckets_skipped: int


@dataclass
class ExtractResult:
    """What ``extract_stage`` did. Unpacks as ``(processed, skipped)``;
    ``latest`` is the lineage after the stage: per bucket, the fields of its
    latest row (by ``run_seq``) and ``rows``, its number of lineage rows."""

    processed: int
    skipped: int
    latest: dict[int, dict]

    def __iter__(self):
        return iter((self.processed, self.skipped))


def _bucket_of(n_buckets: int):
    return F.pmod(F.xxhash64("url"), F.lit(n_buckets)).cast("int")


def _read_lineage(spark: SparkSession, lineage_path: str) -> dict[int, dict]:
    """Latest lineage row per bucket (a bucket reprocessed after a failed run
    has several). No lineage directory means a fresh output directory; an
    unreadable one raises."""
    if not os.path.exists(lineage_path):
        return {}
    lin = spark.read.schema(schemas.LINEAGE).parquet(lineage_path)
    latest = lin.groupBy("bucket").agg(
        F.max_by(F.struct("run_seq", "status", "n_docs", "n_triples"), "run_seq").alias("s"),
        F.count("*").alias("rows"),
    )
    return {r["bucket"]: {**r["s"].asDict(), "rows": r["rows"]} for r in latest.collect()}


def _extract_pages(batches):
    for triples, pages in openie.extract_batches(batches, fused_html=True):
        yield pd.concat(
            [triples.assign(from_html=None), pages.assign(**dict.fromkeys(_TRIPLE_COLS))],
            ignore_index=True,
        )


def extract_stage(
    spark: SparkSession,
    pages: DataFrame,
    out_dir: str,
    n_buckets: int = g._N_BUCKETS,
    run_id: str = "run-0",
    run_seq: int = 0,
    resume: bool = True,
) -> ExtractResult:
    """Stage 1. Unpacks as (buckets_processed, buckets_skipped)."""
    triples_path = f"{out_dir}/doc_triples"
    lineage_path = f"{out_dir}/lineage"

    latest = _read_lineage(spark, lineage_path)
    done = sorted(b for b, r in latest.items() if r["status"] == "done") if resume else []
    if set(range(n_buckets)) <= set(done):  # nothing left to extract
        return ExtractResult(0, len(done), latest)

    pages = pages.withColumn("bucket", _bucket_of(n_buckets))
    if done:
        pages = pages.filter(~F.col("bucket").isin(done))

    # fused single Python stage (HTML->text + OpenIE in one Arrow round-trip)
    # that also emits one row per page; materialized once, it feeds the
    # triple store and every lineage column, so the pages are read once.
    cols = pages.select("url", "text", "html")
    extracted = (
        cols.mapInPandas(_extract_pages, schema=_EXTRACTED)
        .withColumn("bucket", _bucket_of(n_buckets))
        .cache()
    )
    try:
        is_page = F.col("from_html").isNotNull()
        triples = extracted.where(~is_page).select("url", *_TRIPLE_COLS, "bucket")
        # dynamic: the overwrite replaces only the buckets written here
        (
            triples.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("bucket")
            .parquet(triples_path)
        )

        # per-bucket KMV url sketch (<= _SKETCH_K hashes): lineage rows double
        # as mergeable cardinality summaries — corpus-level distinct-url
        # questions are answered from lineage alone, no rescan
        # (corpus_url_cardinality). kmv_sketch's sort-based plan bounds
        # per-group state at k rows.
        from kgspark.ops.sketch import kmv_sketch

        url_sketches = kmv_sketch(
            extracted.where(is_page), "url", ["bucket"], k=_SKETCH_K
        ).withColumnRenamed("sketch", "url_sketch")
        # page rows carry from_html, triple rows subj/pred: each aggregate
        # below sees only its own kind of row
        page_url = F.when(is_page, F.col("url"))
        stats = (
            extracted.groupBy("bucket")
            .agg(
                F.count(page_url).alias("n_docs"),
                F.min(page_url).alias("url_min"),
                F.max(page_url).alias("url_max"),
                F.sum(F.col("from_html").cast("long")).alias("n_html_extracted"),
                F.count("subj").alias("n_triples"),
                F.countDistinct("pred").alias("n_preds"),
                F.countDistinct("subj").alias("n_subjects"),
            )
            .join(url_sketches, "bucket", "left")
            .collect()  # one row per processed bucket: <= n_buckets rows
        )
    finally:
        extracted.unpersist()

    rows = [
        {**r.asDict(), "run_id": run_id, "run_seq": run_seq, "status": "done"}
        for r in stats
    ]
    if rows:
        schemas.local_frame(spark, rows, schemas.LINEAGE).write.mode("append").parquet(
            lineage_path
        )
    for r in rows:
        prev = latest.get(r["bucket"])
        n_rows = prev["rows"] + 1 if prev else 1
        if prev is None or r["run_seq"] >= prev["run_seq"]:
            prev = {k: r[k] for k in ("run_seq", "status", "n_docs", "n_triples")}
        latest[r["bucket"]] = {**prev, "rows": n_rows}
    return ExtractResult(len(rows), len(done), latest)


def graph_stage(
    spark: SparkSession,
    out_dir: str,
    n_buckets: int = g._N_BUCKETS,
    canonicalize: bool = True,
    min_support: int | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Stage 2: triple store -> canonicalized, deduplicated graph tables.

    ``min_support``: keep only assertions whose (subj, pred, obj) was
    extracted from at least this many documents — the provenance-count
    noise gate (single-document extraction errors disappear; repeated
    facts survive). Applied BEFORE canonicalization so spurious surface
    forms don't seed alias components either.
    """
    # the graph is about to change: only run_pipeline re-records what it
    # was built from, once the new graph is written
    if os.path.exists(f"{out_dir}/{_MANIFEST}"):
        os.remove(f"{out_dir}/{_MANIFEST}")
    triples = (
        spark.read.schema(schemas.DOC_TRIPLES).parquet(f"{out_dir}/doc_triples").drop("bucket")
    )
    if min_support and min_support > 1:
        key = _TRIPLE_COLS
        # distinct docs, not assertion rows: one document repeating a triple
        # must not satisfy the gate (it exists to kill single-document errors)
        support = (
            triples.select(*key, "url").distinct()
            .groupBy(*key).agg(F.count("*").alias("n_sup"))
            .where(F.col("n_sup") >= min_support).drop("n_sup")
        )
        triples = triples.join(support, key, "left_semi")
    if canonicalize:
        names = (
            triples.select(F.col("subj_type").alias("label"), F.col("subj").alias("name"))
            .union(triples.select(F.col("obj_type"), F.col("obj")))
            .filter(F.col("label") == "Disease")
            .distinct()
        )
        # Disease names only (dictionary-scale): computed once, then both
        # joins read it from the driver
        mapping = components.canonical_surface_forms(names).filter(
            F.col("name") != F.col("canonical")
        )
        mapping = schemas.local_frame(
            spark, [r.asDict() for r in mapping.collect()], mapping.schema
        )
        triples = components.apply_canonicalization(triples, mapping)

    # canonical triples, computed once for both the nodes and the edges write
    tr = triples.select(*_TRIPLE_COLS).localCheckpoint()
    nodes, edges = g.build_graph([], tr)
    g.save_graph(nodes, edges, out_dir, n_buckets=n_buckets)
    return nodes, edges


def _read_manifest(out_dir: str) -> dict | None:
    path = f"{out_dir}/{_MANIFEST}"
    if not os.path.exists(path):
        return None
    with open(path, encoding="utf-8") as f:
        return json.load(f)


def _write_manifest(out_dir: str, manifest: dict) -> None:
    tmp = f"{out_dir}/{_MANIFEST}.tmp"
    with open(tmp, "w", encoding="utf-8") as f:
        json.dump(manifest, f)
    os.replace(tmp, f"{out_dir}/{_MANIFEST}")


def run_pipeline(
    spark: SparkSession,
    pages: DataFrame,
    out_dir: str,
    n_buckets: int = g._N_BUCKETS,
    run_id: str = "run-0",
    run_seq: int = 0,
    resume: bool = True,
    canonicalize: bool = True,
    min_support: int | None = None,
) -> PipelineResult:
    ex = extract_stage(spark, pages, out_dir, n_buckets, run_id, run_seq, resume)
    # the graph is current when nothing was extracted and the manifest saved
    # with it names this lineage state and these options
    manifest = {
        "lineage": sorted([b, r["run_seq"], r["rows"]] for b, r in ex.latest.items()),
        "n_buckets": n_buckets,
        "canonicalize": canonicalize,
        "min_support": min_support,
    }
    if ex.processed or _read_manifest(out_dir) != manifest:
        graph_stage(spark, out_dir, n_buckets, canonicalize, min_support)
        _write_manifest(out_dir, manifest)
    return PipelineResult(
        n_docs=sum(r["n_docs"] for r in ex.latest.values()),
        n_triples=sum(r["n_triples"] for r in ex.latest.values()),
        n_buckets_processed=ex.processed,
        n_buckets_skipped=ex.skipped,
    )


def corpus_url_cardinality(spark: SparkSession, out_dir: str, k: int = _SKETCH_K) -> int:
    """Approximate distinct-url count of everything this pipeline has
    processed, answered FROM THE LINEAGE TABLE ALONE — no corpus or triple
    rescan. Latest lineage row per bucket (resume semantics) -> merge the
    per-bucket KMV sketches -> estimate. The url-hash bucketing makes the
    per-bucket sketches disjoint-domain, but KMV merge does not need that
    property; it is correct for arbitrary overlap (ops/sketch.py)."""
    from kgspark.ops.sketch import kmv_estimate, kmv_merge

    lin = spark.read.schema(schemas.LINEAGE).parquet(f"{out_dir}/lineage")
    latest = (
        lin.groupBy("bucket")
        .agg(F.max_by(F.col("url_sketch"), F.col("run_seq")).alias("sketch"))
        .where(F.col("sketch").isNotNull())
        .withColumn("all", F.lit(1))
    )
    merged = kmv_merge(latest, ["all"], k=k)
    rows = kmv_estimate(merged, k=k).collect()
    return int(rows[0]["est_distinct"]) if rows else 0
