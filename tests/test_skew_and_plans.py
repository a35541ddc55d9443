"""Skew utilities correctness + physical-plan assertions (SURVEY §4):
pushdown reaches the parquet scan, dimension joins broadcast, aggregates are
two-phase, salted aggregates equal their unsalted counterparts."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from kgspark.ops import skew

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def skewed(spark):
    # 50k rows, one key holds 60% of them (the 乏力 fan-in shape)
    return spark.range(50_000).select(
        F.when(F.col("id") % 10 < 6, F.lit("HOT")).otherwise(
            F.concat(F.lit("k"), (F.col("id") % 97).cast("string"))
        ).alias("key"),
        (F.col("id") % 5000).cast("string").alias("value"),
    )


def test_salted_collect_set_equals_plain(spark, skewed):
    plain = {
        r["key"]: r["values"]
        for r in skewed.groupBy("key")
        .agg(F.sort_array(F.collect_set("value")).alias("values"))
        .collect()
    }
    salted = {
        r["key"]: r["values"]
        for r in skew.salted_collect_set(skewed, ["key"], "value", n_salts=16).collect()
    }
    assert salted == plain
    assert len(plain["HOT"]) == 3000  # values with last digit 0-5


def test_salted_count_distinct_equals_plain(spark, skewed):
    plain = {
        r["key"]: r["n"]
        for r in skewed.groupBy("key").agg(F.countDistinct("value").alias("n")).collect()
    }
    salted = {
        r["key"]: r["n_distinct"]
        for r in skew.salted_count_distinct(skewed, ["key"], "value", n_salts=16).collect()
    }
    assert salted == plain


def test_detect_hot_keys(spark, skewed):
    hot = skew.detect_hot_keys(skewed, ["key"], min_count=10_000).collect()
    assert [r["key"] for r in hot] == ["HOT"]


# --- physical plan checks ---------------------------------------------------
def test_filter_pushdown_reaches_scan(spark):
    df = (
        spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
        .filter(F.col("l_shipdate") <= "1996-01-01")
        .select("l_orderkey", "l_quantity")
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan
    # column pruning: scan reads only the 3 needed columns
    assert "ReadSchema: struct<l_orderkey:bigint,l_quantity:double,l_shipdate:timestamp" in plan  # timestamp or timestamp_ntz


def test_dimension_join_broadcasts(spark):
    c = spark.read.parquet(f"{SF_DIR}/customer.parquet")
    n = spark.read.parquet(f"{SF_DIR}/nation.parquet")
    joined = skew.broadcast_skew_join(c, n, on=[c.c_nationkey == n.n_nationkey])
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


def test_canonicalization_agg_is_two_phase(spark, mini_sources):
    """A1 is one shuffle: a partial (map-side) and a final aggregate around
    one hash exchange, with no join and no sort aggregate. A build with no
    SET records takes the stub-only plan and gives the same nodes as the
    general one."""
    from kgspark.construct.graph import build_graph, canonicalize_nodes, stub_records_from_triples
    from kgspark.construct.reference_build import build_structured_graph

    nodes, _, triples = build_structured_graph(spark, mini_sources)
    # another module may have cached an equal plan (tests/test_query.py does),
    # which Spark would substitute for the build's own plan
    nodes.unpersist()
    plan = nodes._jdf.queryExecution().executedPlan().toString()
    # collect_list of (seq, entries) structs -> partial + final ObjectHashAggregate
    assert plan.count("ObjectHashAggregate") >= 2, plan[:2000]
    assert plan.count("Exchange hashpartitioning") == 1, plan[:2000]
    assert "BroadcastExchange" not in plan and "SortAggregate" not in plan, plan[:2000]

    def rows(df):
        return sorted((r["entity_id"], r["name"], sorted(r["props"].items())) for r in df.collect())

    stub_only, _ = build_graph([], triples)
    assert rows(stub_only) == rows(canonicalize_nodes(stub_records_from_triples(triples)))


def test_edge_dedup_partial_aggregation(spark):
    """dropDuplicates plans map-side partial agg: hot duplicate edges collapse
    before the shuffle (the skew story for A2)."""
    e = spark.range(1000).select(
        (F.col("id") % 3).alias("src_id"), F.lit("R").alias("rel"), (F.col("id") % 2).alias("dst_id")
    )
    plan = e.dropDuplicates(["src_id", "rel", "dst_id"])._jdf.queryExecution().executedPlan().toString()
    assert plan.count("HashAggregate") >= 2


def test_whole_stage_codegen_in_scan_path(spark):
    df = (
        spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
        .filter(F.col("l_quantity") > 10)
        .groupBy("l_returnflag")
        .agg(F.sum("l_extendedprice").alias("s"))
    )
    df.collect()  # AQE finalizes the plan only on execution
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "WholeStageCodegen" in plan or "*(1)" in plan, plan[:2000]


def test_asof_join_single_shuffle(spark):
    """asof_join's plan must contain exactly ONE hash exchange (the key
    shuffle) and no join operator at all — the whole point-in-time match is a
    window over the unioned stream, so there is no O(L*R) join to explode."""
    from kgspark.ops.asof import asof_join

    left = spark.read.parquet(f"{SF_DIR}/events.parquet").select(
        "event_id", "user_id", "ts"
    )
    right = spark.read.parquet(f"{SF_DIR}/orders.parquet").selectExpr(
        "o_custkey AS user_id", "o_orderdate", "o_orderkey"
    )
    out = asof_join(
        left, right, on="user_id", left_ts="ts", right_ts="o_orderdate",
        right_cols=["o_orderkey"], dedup_right=False,
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange hashpartitioning") == 1, plan[:3000]
    assert "Join" not in plan, plan[:3000]
    # default path adds exactly one more (small, right-side-only) exchange
    # for the (key, ts) uniqueness collapse
    dedup = asof_join(
        left, right, on="user_id", left_ts="ts", right_ts="o_orderdate",
        right_cols=["o_orderkey"],
    )
    plan2 = dedup._jdf.queryExecution().executedPlan().toString()
    assert plan2.count("Exchange hashpartitioning") == 2, plan2[:3000]


def test_bucketed_tables_join_without_shuffle(spark, tmp_path):
    """save_graph_tables writes true bucketed tables: the src-resolution join
    (edges.src_id = nodes.entity_id, equal bucket counts) must plan a
    sort-merge join with ZERO exchanges — the co-located layout every graph
    expand reads at 100 TB. Broadcast is disabled for the assertion since AQE
    would (correctly) broadcast these tiny test tables otherwise."""
    from kgspark.construct.graph import save_graph_tables
    from kgspark.tpch_graph import build_tpch_graph

    nodes, edges = build_tpch_graph(spark, SF_DIR)
    nt, et = save_graph_tables(nodes, edges, n_buckets=8, prefix="t_bjoin")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
        n, e = spark.table(nt), spark.table(et)
        j = e.join(n, e.src_id == n.entity_id)
        assert j.count() > 0
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan, plan[:2000]
        assert plan.count("Exchange") == 0, plan[:2000]
        assert "SelectedBucketsCount" in plan
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")
        spark.sql(f"DROP TABLE IF EXISTS {nt}")
        spark.sql(f"DROP TABLE IF EXISTS {et}")


def test_q3_q5_broadcast_dims(spark):
    """The multi-join analytics shapes must broadcast their dimension sides:
    no shuffle of customer/nation/region for Q3/Q5 at any scale where the
    dims stay dictionary-sized."""
    import __spark_entry__ as entry

    for name, min_bcast in [("q3_shipping_priority", 1), ("q5_region_volume", 2)]:
        df = entry.queries()[name](spark, SF_DIR)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert plan.count("BroadcastHashJoin") >= min_bcast, (name, plan[:2000])


def test_validate_graph_clean_and_detects_breakage(spark, mini_sources):
    """validate_graph returns all-zero on a healthy build and actually fires
    on an injected dangling edge."""
    from kgspark.construct.graph import validate_graph
    from kgspark.construct.reference_build import build_structured_graph

    nodes, edges, _ = build_structured_graph(spark, mini_sources)
    report = validate_graph(nodes, edges)
    assert report == {"id_collisions": 0, "dup_keys": 0, "dangling_edges": 0}

    broken = edges.limit(1).selectExpr(
        "9999999 AS src_id", "rel", "dst_id"
    ).unionByName(edges)
    assert validate_graph(nodes, broken)["dangling_edges"] == 1


def test_lookup_entity_prunes_partitions(spark, tmp_path, mini_sources):
    """Point lookup must carry a PartitionFilters entry (one bucket dir read)
    and a pushed entity_id predicate — no full-table scan for a MERGE-style
    key probe."""
    from kgspark.construct.graph import lookup_entity, save_graph
    from kgspark.construct.reference_build import build_structured_graph

    nodes, edges, _ = build_structured_graph(spark, mini_sources)
    out = str(tmp_path / "g")
    save_graph(nodes, edges, out, n_buckets=8)
    any_name = nodes.filter("label = 'Disease'").select("name").first()["name"]
    probe = lookup_entity(spark, out, "Disease", any_name)
    rows = probe.collect()
    assert len(rows) == 1 and rows[0]["name"] == any_name
    plan = probe._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(bucket" in plan, plan[:2000]
    assert "PushedFilters: [IsNotNull(entity_id), EqualTo(entity_id" in plan, plan[:2000]


def test_dst_copy_makes_reverse_expand_shuffle_free(spark, tmp_path):
    """With dst_copy=True, the J3-style reverse expand (edges joined to
    nodes on dst_id) plans a zero-exchange sort-merge join off the
    dst-bucketed copy — while the same join against the src-bucketed table
    must exchange, which is exactly the asymmetry the copy exists to fix."""
    from kgspark.construct.graph import save_graph_tables
    from kgspark.tpch_graph import build_tpch_graph

    nodes, edges = build_tpch_graph(spark, SF_DIR)
    nt, et = save_graph_tables(nodes, edges, n_buckets=8, prefix="t_dst", dst_copy=True)
    dt = "t_dst_edges_by_dst"
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
        n = spark.table(nt)

        rev = spark.table(dt).join(n, spark.table(dt).dst_id == n.entity_id)
        assert rev.count() > 0
        plan = rev._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan and plan.count("Exchange") == 0, plan[:2000]

        fwd_table_rev_join = spark.table(et).join(
            n, spark.table(et).dst_id == n.entity_id
        )
        fwd_table_rev_join.count()
        plan2 = fwd_table_rev_join._jdf.queryExecution().executedPlan().toString()
        assert plan2.count("Exchange") > 0  # src layout can't serve dst joins
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")
        for t in (nt, et, dt):
            spark.sql(f"DROP TABLE IF EXISTS {t}")
