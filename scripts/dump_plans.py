#!/usr/bin/env python
"""Regenerate PLANS.md: formatted physical plans of the headline operators,
so plan-level claims (pushdown, broadcast, two-phase aggs, fused Python
stage) are inspectable without running anything."""

from __future__ import annotations

import io
import sys
from contextlib import redirect_stdout
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

SF = "/root/testdata/sf0.001"


def plan_of(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def main() -> None:
    from pyspark.sql import functions as F

    from kgspark import fixtures
    from kgspark.construct.reference_build import triples_with_names
    from kgspark.extract.openie import extract_doc_triples
    from kgspark.session import get_spark
    from kgspark.tpch_graph import build_tpch_graph

    import tempfile

    spark = get_spark(
        "plans",
        cpus=4,
        extra_conf={"spark.sql.warehouse.dir": tempfile.mkdtemp(prefix="kgspark_wh_")},
    )
    sections: list[tuple[str, str, str]] = []

    li = spark.read.parquet(f"{SF}/lineitem.parquet")
    q1 = (
        li.filter(F.col("l_shipdate") <= "1998-09-02")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(F.sum("l_quantity").alias("sum_qty"), F.count("*").alias("n"))
    )
    sections.append((
        "Aggregate with pushdown (TPC-H Q1 shape)",
        "Look for: PushedFilters on the scan, pruned ReadSchema, partial+final HashAggregate.",
        plan_of(q1),
    ))

    nodes, edges = build_tpch_graph(spark, SF)
    sections.append((
        "KG construction (rules -> canonicalize -> edges) + name resolution",
        "Look for: xxhash64 projections instead of dictionary joins; name resolution reads "
        "no props, so Catalyst prunes the props fold and each node side is a hash-agg "
        "distinct; AQE join.",
        plan_of(triples_with_names(nodes, edges)),
    ))
    sections.append((
        "Node canonicalization (kgspark.construct.graph.canonicalize_nodes)",
        "Look for: ONE Exchange hashpartitioning(label, name) between a partial and a final "
        "ObjectHashAggregate (collect_list of the SET records, folded per entity) over the "
        "record Union; no SortAggregate and no join above the Union (the broadcast joins "
        "below it are build_tpch_graph's key lookups). A build with no SET records plans a "
        "hash-agg distinct instead.",
        plan_of(nodes),
    ))

    pages = fixtures.web_pages_df(spark, 1000)
    sections.append((
        "Fused extraction stage (HTML->text + OpenIE in one mapInPandas)",
        "Look for: a single MapInPandas node over the corpus scan — one Python stage, "
        "one Arrow round-trip.",
        plan_of(extract_doc_triples(pages, fused_html=True)),
    ))

    from kgspark.ops.asof import asof_join

    events = spark.read.parquet(f"{SF}/events.parquet").select(
        "event_id", "user_id", "ts"
    )
    orders = spark.read.parquet(f"{SF}/orders.parquet").selectExpr(
        "o_custkey AS user_id", "o_orderdate", "o_orderkey"
    )
    asof = asof_join(
        events, orders, on="user_id", left_ts="ts", right_ts="o_orderdate",
        right_cols=["o_orderkey"], dedup_right=False,
    )
    sections.append((
        "As-of join (union-window sort-merge, kgspark.ops.asof)",
        "Look for: ONE Exchange hashpartitioning(key) + one Sort + one Window — "
        "no Join node anywhere, so no range-join row explosion; whole-stage "
        "codegen around the window projection.",
        plan_of(asof),
    ))

    from kgspark.construct.graph import save_graph_tables

    nt, et = save_graph_tables(nodes, edges, n_buckets=8, prefix="plans_kg")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    bt_nodes, bt_edges = spark.table(nt), spark.table(et)
    bucketed_join = bt_edges.join(
        bt_nodes, bt_edges.src_id == bt_nodes.entity_id
    )
    bucketed_join.collect()
    sections.append((
        "Bucketed-table resolution join (save_graph_tables layout)",
        "Look for: SortMergeJoin with ZERO Exchange nodes and "
        "SelectedBucketsCount on both scans — each task reads one co-bucketed "
        "file pair; broadcast disabled here only to surface the layout (AQE "
        "correctly broadcasts these tiny sandbox tables otherwise).",
        plan_of(bucketed_join),
    ))
    spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")

    from kgspark.query.motif import paths

    motif = paths(spark.table(et), ["IN_NATION", "IN_REGION"])
    sections.append((
        "Path motif (rel-filtered chained equi-joins, kgspark.query.motif)",
        "Look for: each hop scans the edge table with the rel predicate pushed "
        "(PushedFilters EqualTo(rel,...)); hop 1 keeps the bucketed src_id "
        "layout; the n1 join key is the previous hop's dst — that side "
        "exchanges, the honest cost of chaining through a src-bucketed "
        "layout (a dst-bucketed edge copy would make alternate hops "
        "exchange-free; not worth 2x storage at this fan-in).",
        plan_of(motif),
    ))

    from kgspark.ops.sketch import kmv_sketch

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    sk = kmv_sketch(docs, "doc_id", ["lang"], k=16)
    sections.append((
        "KMV distinct-count sketch (kgspark.ops.sketch)",
        "Look for: two-phase partial/final HashAggregate for the distinct "
        "(the same shuffle exact distinct pays ONCE), then a bounded "
        "per-group Window + final collect_list of <= k rows — per-group "
        "state is capped at k, never the group size.",
        plan_of(sk),
    ))
    spark.sql(f"DROP TABLE IF EXISTS {nt}")
    spark.sql(f"DROP TABLE IF EXISTS {et}")

    from kgspark.ops.curation import decontaminate, repeated_spans, resample_temperature

    ev = docs.filter("doc_id % 100 = 0").select("doc_id", "text")
    dec = decontaminate(docs.select("doc_id", "text"), ev, n=13)
    sections.append((
        "Benchmark decontamination (kgspark.ops.curation.decontaminate)",
        "Look for: the eval side reduced by HashAggregate distinct then "
        "BroadcastExchange — the corpus-side n-gram explode joins map-side "
        "(BroadcastHashJoin), so corpus rows never shuffle; the final "
        "hit-count attach is the only other join and AQE broadcasts it.",
        plan_of(dec),
    ))

    from kgspark.ops.dedup import lsh_candidate_pairs_incremental, minhash_signatures

    store_sigs = minhash_signatures(docs.filter("doc_id % 2 = 0").select("doc_id", "text"))
    new_sigs = minhash_signatures(docs.filter("doc_id % 2 = 1").select("doc_id", "text"))
    inc = lsh_candidate_pairs_incremental(new_sigs, store_sigs, n_perm=64)
    sections.append((
        "Incremental LSH pairing (kgspark.ops.dedup.lsh_candidate_pairs_incremental)",
        "Look for: the store side pruned by a BroadcastHashJoin LeftSemi on "
        "(band, bucket) BEFORE any aggregation — untouched store buckets "
        "never shuffle; then the same single groupBy(band, bucket) "
        "collect_list aggregate as the batch pairer, with pair generation "
        "inside the project (no join for pairing).",
        plan_of(inc),
    ))

    from kgspark.ops.graph_algs import triangle_count

    tri_edges = docs.selectExpr(
        "doc_id % 401 AS x", "(doc_id * 7 + 3) % 401 AS y"
    )
    sections.append((
        "Triangle counting (kgspark.ops.graph_algs.triangle_count)",
        "Look for: two-phase HashAggregate for degrees, the wedge self-join "
        "and closing join both on 8-byte keys; every aggregate map-side "
        "combinable. The (degree, id) orientation is a projection, not a "
        "shuffle.",
        plan_of(triangle_count(tri_edges, "x", "y")),
    ))

    spans = repeated_spans(docs, n=20, min_count=2)
    sections.append((
        "Repeated-span detection (kgspark.ops.curation.repeated_spans)",
        "Look for: partial+final HashAggregate on the gram hash (repeated "
        "grams collapse map-side), LeftSemi back to positions, then ONE "
        "Window per document for the gaps-and-islands merge.",
        plan_of(spans),
    ))

    from kgspark.ops.textstats import unigram_logprob

    sections.append((
        "Unigram-LM quality scoring (kgspark.ops.textstats.unigram_logprob)",
        "Look for: map-side-combinable term count, the (id, term) join on "
        "the term key, a per-doc HashAggregate over exact bigint fixed-point "
        "logs, and the 1-row corpus total arriving via BroadcastNestedLoopJoin "
        "(a broadcast scalar, not a shuffle).",
        plan_of(unigram_logprob(docs)),
    ))

    rs = resample_temperature(
        docs.selectExpr("doc_id", "concat('g', doc_id % 7) AS grp"), "grp", "doc_id"
    )
    sections.append((
        "Temperature resampling (kgspark.ops.curation.resample_temperature)",
        "Look for: one group count, the 1-row global min via BroadcastNestedLoopJoin, "
        "and the thresholds joined back to the corpus (AQE broadcasts the "
        "domain-cardinality side); the md5 acceptance test is a projection.",
        plan_of(rs),
    ))

    out = ["# PLANS — physical plans of the headline operators",
           "",
           "Generated by `python scripts/dump_plans.py` (sf0.001, local[4], AQE on).",
           ""]
    for title, note, plan in sections:
        out += [f"## {title}", "", note, "", "```", plan.rstrip(), "```", ""]
    Path("PLANS.md").write_text("\n".join(out))
    print("wrote PLANS.md")
    spark.stop()


if __name__ == "__main__":
    main()
