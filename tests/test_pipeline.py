"""Flagship web pipeline: lineage, checkpoint-resume, idempotence, canonicalization."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from kgspark import fixtures, pipeline


def _counts(spark, out):
    nodes = spark.read.parquet(f"{out}/nodes")
    edges = spark.read.parquet(f"{out}/edges")
    return nodes.count(), edges.count()


def test_pipeline_end_to_end(spark, tmp_path):
    n = 400
    pages = fixtures.web_pages_spark_small(spark, n)
    out = str(tmp_path / "kg")
    res = pipeline.run_pipeline(spark, pages, out, n_buckets=8, run_id="r1")
    assert res.n_docs == n
    assert res.n_buckets_processed == 8
    assert res.n_buckets_skipped == 0
    assert res.n_triples > n  # several triples per doc

    nodes = spark.read.parquet(f"{out}/nodes")
    edges = spark.read.parquet(f"{out}/edges")
    assert nodes.filter("label = 'Disease'").count() > 0
    assert edges.count() > 0
    # canonicalization folded '-重度' variants into base names
    assert nodes.filter(F.col("name").endswith("-重度")).count() == 0

    lin = spark.read.parquet(f"{out}/lineage")
    assert lin.select("bucket").distinct().count() == 8
    assert lin.agg(F.sum("n_docs")).collect()[0][0] == n


def test_pipeline_resume_skips_done_buckets(spark, tmp_path):
    """Kill/rerun semantics: a partial run (subset of buckets) followed by a
    resumed full run must produce exactly the same graph as one clean run,
    with no double-counted lineage."""
    n = 300
    pages = fixtures.web_pages_spark_small(spark, n)
    out_a = str(tmp_path / "resumed")
    out_b = str(tmp_path / "clean")

    # simulated failure: first run only sees buckets 0-3's documents
    partial = pages.filter(
        F.pmod(F.xxhash64("url"), F.lit(8)).cast("int") < 4
    )
    pipeline.extract_stage(spark, partial, out_a, n_buckets=8, run_id="r1", run_seq=1)

    # resumed run over the full input: must skip the 4 finished buckets
    processed, skipped = pipeline.extract_stage(
        spark, pages, out_a, n_buckets=8, run_id="r2", run_seq=2, resume=True
    )
    assert skipped == 4
    assert processed == 4
    pipeline.graph_stage(spark, out_a, n_buckets=8)

    res_b = pipeline.run_pipeline(spark, pages, out_b, n_buckets=8, run_id="clean")
    assert res_b.n_docs == n

    na, ea = _counts(spark, out_a)
    nb, eb = _counts(spark, out_b)
    assert (na, ea) == (nb, eb)
    # content-identical, not just count-identical
    for t in ["nodes", "edges"]:
        a = spark.read.parquet(f"{out_a}/{t}").drop("bucket")
        b = spark.read.parquet(f"{out_b}/{t}").drop("bucket")
        if "props" in a.columns:  # set ops can't compare map columns
            a = a.withColumn("props", F.to_json("props"))
            b = b.withColumn("props", F.to_json("props"))
        assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0

    # lineage: latest row per bucket sums to exactly n docs (no double count)
    lin = spark.read.parquet(f"{out_a}/lineage")
    latest = lin.groupBy("bucket").agg(F.max_by("n_docs", "run_seq").alias("n_docs"))
    assert latest.agg(F.sum("n_docs")).collect()[0][0] == n


def test_rerun_is_idempotent(spark, tmp_path):
    n = 200
    pages = fixtures.web_pages_spark_small(spark, n)
    out = str(tmp_path / "idem")
    r1 = pipeline.run_pipeline(spark, pages, out, n_buckets=4, run_id="a", run_seq=1)
    # second full run with resume: everything skipped, same totals
    r2 = pipeline.run_pipeline(spark, pages, out, n_buckets=4, run_id="b", run_seq=2)
    assert r2.n_buckets_skipped == 4
    assert r2.n_buckets_processed == 0
    assert (r1.n_docs, r1.n_triples) == (r2.n_docs, r2.n_triples)


def _sorted_parquet_files(root, key):
    """True when every parquet file under ``root`` is sorted by ``key``."""
    import glob

    import pyarrow.parquet as pq

    files = glob.glob(f"{root}/bucket=*/*.parquet")
    ids = [pq.read_table(f, columns=[key]).column(key).to_pylist() for f in files]
    return bool(files) and all(v == sorted(v) for v in ids)


def test_merge_into_graph_equals_full_rebuild(spark, tmp_path, monkeypatch):
    """Incremental maintenance contract: save(batch1) + merge(batch2) must
    equal build(batch1 + batch2) bit-for-bit — including cross-batch
    last-write-wins, null-deletes-key, stubs, and edge dedup — while only
    rewriting the buckets batch2 touches, with one bucket-probe collect, at
    most 6 Spark jobs (probe, nodes and edges: one shuffle each) and every
    merged bucket file still sorted by its key. Merging into an empty
    directory, or into a graph that was saved empty, must equal build + save
    of the batch alone."""
    from pyspark.sql import functions as F

    from kgspark.construct import graph as g

    rec_schema = "label string, name string, props map<string,string>, seq long"
    tri_schema = "subj string, subj_type string, pred string, obj string, obj_type string"
    b1_records = spark.createDataFrame(
        [
            ("Disease", "糖尿病", {"icd": "E11", "desc": "old"}, 0),
            ("Disease", "高血压", {"icd": "I10"}, 1),
            ("Drug", "二甲双胍", {"form": "片剂"}, 2),
        ],
        rec_schema,
    )
    b1_triples = spark.createDataFrame(
        [
            ("糖尿病", "Disease", "TREATED_BY", "二甲双胍", "Drug"),
            ("糖尿病", "Disease", "HAS_SYMPTOM", "乏力", "Symptom"),
        ],
        tri_schema,
    )
    b2_records = spark.createDataFrame(
        [
            ("Disease", "糖尿病", {"icd": "E11.9", "desc": None}, 0),  # LWW + null-delete
            ("Disease", "冠心病", {"icd": "I25"}, 1),                   # new node
        ],
        rec_schema,
    )
    b2_triples = spark.createDataFrame(
        [
            ("糖尿病", "Disease", "TREATED_BY", "二甲双胍", "Drug"),   # dup edge
            ("冠心病", "Disease", "HAS_SYMPTOM", "胸痛", "Symptom"),   # new edge
        ],
        tri_schema,
    )

    out = str(tmp_path / "graph")
    nodes1, edges1 = g.build_graph([b1_records], b1_triples)
    g.save_graph(nodes1, edges1, out, n_buckets=8)
    collects = []
    frame_type = type(b2_triples)
    collect = frame_type.collect

    def counting(df):
        collects.append(df)
        return collect(df)

    monkeypatch.setattr(frame_type, "collect", counting)
    sc = spark.sparkContext
    sc.setJobGroup("test_merge_into_graph", "merge")
    try:
        report = g.merge_into_graph(spark, out, [b2_records], b2_triples, n_buckets=8)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    monkeypatch.setattr(frame_type, "collect", collect)
    assert len(collects) == 1
    assert len(sc.statusTracker().getJobIdsForGroup("test_merge_into_graph")) <= 6
    assert 0 < report["affected_buckets"] <= 8
    assert _sorted_parquet_files(f"{out}/nodes", "entity_id")
    assert _sorted_parquet_files(f"{out}/edges", "src_id")

    got_nodes = {
        (r["label"], r["name"]): dict(r["props"])
        for r in spark.read.parquet(f"{out}/nodes").collect()
    }
    got_edges = {
        (r["src_id"], r["rel"], r["dst_id"])
        for r in spark.read.parquet(f"{out}/edges").collect()
    }

    # full rebuild: batch2 records sequenced strictly after batch1
    full_records = b1_records.unionByName(b2_records.withColumn("seq", F.col("seq") + 100))
    fnodes, fedges = g.build_graph([full_records], b1_triples.unionByName(b2_triples))
    exp_nodes = {(r["label"], r["name"]): dict(r["props"]) for r in fnodes.collect()}
    exp_edges = {(r["src_id"], r["rel"], r["dst_id"]) for r in fedges.collect()}

    assert got_nodes == exp_nodes
    assert got_edges == exp_edges
    assert got_nodes[("Disease", "糖尿病")] == {"icd": "E11.9"}  # desc deleted
    report2 = g.validate_graph(
        spark.read.parquet(f"{out}/nodes"), spark.read.parquet(f"{out}/edges")
    )
    assert report2 == {"id_collisions": 0, "dup_keys": 0, "dangling_edges": 0}

    # merging into nothing is building the batch alone
    def read(path):
        nodes = spark.read.parquet(f"{path}/nodes").collect()
        edges = spark.read.parquet(f"{path}/edges").select("src_id", "rel", "dst_id").collect()
        return {(r["label"], r["name"]): dict(r["props"]) for r in nodes}, set(map(tuple, edges))

    fresh, saved_empty, built = (str(tmp_path / d) for d in ("fresh", "saved_empty", "built"))
    g.save_graph(*g.build_graph([], b2_triples.limit(0)), saved_empty, n_buckets=8)
    g.save_graph(*g.build_graph([b2_records], b2_triples), built, n_buckets=8)
    for target in (fresh, saved_empty):
        g.merge_into_graph(spark, target, [b2_records], b2_triples, n_buckets=8)
        assert read(target) == read(built), target
    assert read(fresh)[0][("Disease", "糖尿病")] == {"icd": "E11.9"}


def test_graph_rerun_leaves_no_stale_buckets(spark, tmp_path):
    """A graph rewrite replaces every bucket, also after the extraction
    stage's per-bucket overwrite: a rerun whose graph empties buckets leaves
    none of the old rows on disk."""
    out = str(tmp_path / "kg")
    pipeline.run_pipeline(spark, fixtures.web_pages_spark_small(spark, 60), out, n_buckets=4)
    assert _counts(spark, out)[1] > 0
    _, edges = pipeline.graph_stage(spark, out, n_buckets=4, min_support=10**6)
    assert edges.count() == 0
    for table, key in (("nodes", "entity_id"), ("edges", "src_id")):
        on_disk = spark.read.schema(f"{key} long").parquet(f"{out}/{table}")
        assert on_disk.count() == 0, table


def test_merge_with_other_bucket_count_raises(spark, tmp_path):
    """A graph records its bucket count: merging with another count is
    refused and leaves the graph as it was, point lookups read the count,
    and every bucket-count default is the same."""
    import inspect

    from kgspark import streaming
    from kgspark.construct import graph as g

    rec_schema = "label string, name string, props map<string,string>, seq long"
    tri_schema = "subj string, subj_type string, pred string, obj string, obj_type string"
    recs = spark.createDataFrame(
        [("Disease", f"病{i}", {"k": str(i)}, i) for i in range(20)], rec_schema
    )
    tri = spark.createDataFrame(
        [(f"病{i}", "Disease", "HAS_SYMPTOM", "乏力", "Symptom") for i in range(20)], tri_schema
    )
    out = str(tmp_path / "graph")
    g.save_graph(*g.build_graph([recs], tri), out, n_buckets=8)
    with pytest.raises(ValueError):
        g.merge_into_graph(spark, out, [recs], tri, n_buckets=4)
    nodes = spark.read.parquet(f"{out}/nodes")
    assert nodes.count() == 21
    assert g.validate_graph(nodes, spark.read.parquet(f"{out}/edges"))["dup_keys"] == 0
    assert [r["name"] for r in g.lookup_entity(spark, out, "Disease", "病7").collect()] == ["病7"]

    defaults = {
        inspect.signature(f).parameters["n_buckets"].default
        for f in (
            g.save_graph, g.merge_into_graph, g.publish_graph, g.save_graph_tables,
            pipeline.run_pipeline, pipeline.extract_stage, pipeline.graph_stage,
            streaming.stream_update_graph, streaming.stream_publish_graph,
        )
    }
    assert defaults == {g._N_BUCKETS}


def test_merge_into_graph_leaves_untouched_buckets_alone(spark, tmp_path):
    """Scale contract: dynamic partition overwrite must not rewrite bucket
    partitions the batch does not touch (file listing identical)."""
    import os

    from kgspark.construct import graph as g

    rec_schema = "label string, name string, props map<string,string>, seq long"
    tri_schema = "subj string, subj_type string, pred string, obj string, obj_type string"
    base = spark.createDataFrame(
        [("Disease", f"病{i}", {"k": str(i)}, i) for i in range(40)], rec_schema
    )
    tri = spark.createDataFrame(
        [(f"病{i}", "Disease", "HAS_SYMPTOM", f"症{i}", "Symptom") for i in range(40)],
        tri_schema,
    )
    out = str(tmp_path / "graph")
    nodes, edges = g.build_graph([base], tri)
    g.save_graph(nodes, edges, out, n_buckets=16)

    def files(sub):
        found = {}
        for root, _, names in os.walk(f"{out}/{sub}"):
            for n in names:
                if n.endswith(".parquet"):
                    p = os.path.join(root, n)
                    found[p] = os.path.getmtime(p)
        return found

    before_nodes, before_edges = files("nodes"), files("edges")
    one = spark.createDataFrame(
        [("Disease", "病0", {"k": "updated"}, 0)], rec_schema
    )
    one_tri = spark.createDataFrame(
        [("病0", "Disease", "HAS_SYMPTOM", "新症", "Symptom")], tri_schema
    )
    report = g.merge_into_graph(spark, out, [one], one_tri, n_buckets=16)
    assert report["affected_buckets"] < 16  # strictly partial rewrite

    after_nodes, after_edges = files("nodes"), files("edges")
    changed_n = {p for p in before_nodes if after_nodes.get(p) != before_nodes[p]}
    changed_e = {p for p in before_edges if after_edges.get(p) != before_edges[p]}
    # only affected bucket dirs may change; at least one untouched bucket file
    # must survive byte-untouched on both tables
    untouched_n = [p for p in before_nodes if p in after_nodes and p not in changed_n]
    untouched_e = [p for p in before_edges if p in after_edges and p not in changed_e]
    assert len(untouched_n) > 0 and len(untouched_e) > 0


def test_compact_graph_reduces_files_preserves_content(spark, tmp_path):
    """After several incremental merges, compaction must cut the per-bucket
    file count to 1 while leaving the graph content identical."""
    import os

    from kgspark.construct import graph as g

    rec_schema = "label string, name string, props map<string,string>, seq long"
    tri_schema = "subj string, subj_type string, pred string, obj string, obj_type string"
    out = str(tmp_path / "graph")
    # AQE coalescing normally collapses tiny test writes to one file per
    # bucket; disable it so each bucket dir collects one file per shuffle
    # task — the fragmentation shape a real many-task write produces
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    try:
        for wave in range(4):
            recs = spark.createDataFrame(
                [("Disease", f"病{wave}_{i}", {"w": str(wave)}, i) for i in range(10)],
                rec_schema,
            )
            tris = spark.createDataFrame(
                [(f"病{wave}_{i}", "Disease", "HAS_SYMPTOM", f"症{i}", "Symptom") for i in range(10)],
                tri_schema,
            )
            g.merge_into_graph(spark, out, [recs], tris, n_buckets=4)
    finally:
        spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "true")

    def n_files(sub):
        return sum(
            1
            for root, _, names in os.walk(f"{out}/{sub}")
            for n in names
            if n.endswith(".parquet")
        )

    before_rows = {
        (r["label"], r["name"]) for r in spark.read.parquet(f"{out}/nodes").collect()
    }
    before_files = n_files("nodes")
    stats = g.compact_graph(spark, out)
    after_rows = {
        (r["label"], r["name"]) for r in spark.read.parquet(f"{out}/nodes").collect()
    }
    assert after_rows == before_rows
    assert stats["nodes"] == len(after_rows)
    assert n_files("nodes") <= 4 < before_files


def test_corpus_cardinality_from_lineage(spark, tmp_path):
    """Lineage sketches answer corpus-level distinct-url questions without
    rescanning: estimate within KMV error of the true count, and stable
    across a resume (latest row per bucket wins, no double counting)."""
    import math

    from kgspark import fixtures
    from kgspark.pipeline import _SKETCH_K, corpus_url_cardinality, run_pipeline

    out = str(tmp_path / "card")
    pages = fixtures.web_pages_df(spark, 1200)
    run_pipeline(spark, pages, out, n_buckets=8)
    est = corpus_url_cardinality(spark, out)
    rse = 1.0 / math.sqrt(_SKETCH_K - 2)
    assert abs(est - 1200) <= 4 * rse * 1200, est

    # a rerun (everything skipped) and a forced re-run of one bucket must
    # not inflate the estimate
    run_pipeline(spark, pages, out, n_buckets=8, run_id="r2", run_seq=2)
    assert corpus_url_cardinality(spark, out) == est


def test_edges_with_provenance(spark):
    """Support counts every assertion; sample_urls are the deterministic
    lexicographic-first urls, capped (bounded per-group state)."""
    from kgspark.construct.graph import edges_with_provenance, entity_id

    rows = [(f"u{i % 5}", "甲", "Disease", "REL", "乙", "Symptom") for i in range(9)]
    rows.append(("ux", "甲", "Disease", "OTHER", "丙", "Drug"))
    dt = spark.createDataFrame(
        rows, "url string, subj string, subj_type string, pred string, obj string, obj_type string"
    )
    got = {
        (r["rel"]): (r["support"], r["sample_urls"])
        for r in edges_with_provenance(dt, max_urls=3).collect()
    }
    assert got["REL"] == (9, ["u0", "u1", "u2"])  # 9 assertions, 5 distinct urls capped at 3
    assert got["OTHER"] == (1, ["ux"])


def test_min_support_noise_gate(spark, tmp_path):
    """min_support=2 drops facts asserted by a single document while
    keeping facts repeated across documents (fixture docs share their
    hot-symptom sentences; each doc also has unique assertions)."""
    from kgspark import fixtures
    from kgspark.pipeline import run_pipeline

    pages = fixtures.web_pages_df(spark, 300)
    out_a, out_b = str(tmp_path / "all"), str(tmp_path / "gated")
    res_all = run_pipeline(spark, pages, out_a, n_buckets=4)
    res_gated = run_pipeline(spark, pages, out_b, n_buckets=4, min_support=2)
    e_all = spark.read.parquet(f"{out_a}/edges").count()
    e_gated = spark.read.parquet(f"{out_b}/edges").count()
    assert 0 < e_gated < e_all


def test_min_support_counts_distinct_docs_not_rows(spark, tmp_path):
    """A single document repeating the same triple must NOT satisfy
    min_support=2 (ADVICE r1: the gate counts distinct source docs, not
    assertion rows); the same triple from two docs must."""
    import pandas as pd

    from kgspark.pipeline import graph_stage

    rows = [
        # one doc asserts (A, REL, B) twice -> support must be 1
        {"url": "u1", "subj": "A", "subj_type": "Disease", "pred": "REL",
         "obj": "B", "obj_type": "Disease", "bucket": 0},
        {"url": "u1", "subj": "A", "subj_type": "Disease", "pred": "REL",
         "obj": "B", "obj_type": "Disease", "bucket": 0},
        # two docs assert (C, REL, D) once each -> support 2, survives
        {"url": "u1", "subj": "C", "subj_type": "Disease", "pred": "REL",
         "obj": "D", "obj_type": "Disease", "bucket": 0},
        {"url": "u2", "subj": "C", "subj_type": "Disease", "pred": "REL",
         "obj": "D", "obj_type": "Disease", "bucket": 1},
    ]
    out = str(tmp_path / "g")
    spark.createDataFrame(pd.DataFrame(rows)).write.parquet(f"{out}/doc_triples")
    _, edges = graph_stage(spark, out, n_buckets=4, canonicalize=False, min_support=2)
    from kgspark.construct.graph import entity_id
    from pyspark.sql import functions as F

    kept = spark.read.parquet(f"{out}/edges")
    names = spark.createDataFrame(
        [("Disease", n) for n in "ABCD"], "label string, name string"
    ).select("name", entity_id(F.col("label"), F.col("name")).alias("eid"))
    ids = {r["name"]: r["eid"] for r in names.collect()}
    got = {(r["src_id"], r["dst_id"]) for r in kept.collect()}
    assert (ids["C"], ids["D"]) in got
    assert (ids["A"], ids["B"]) not in got


def _lineage_oracle(spark, pages, out, n_buckets):
    """The lineage columns as the earlier two-pass derivation computed them:
    doc stats and url sketches from the input pages, triple stats from the
    written triple store."""
    from kgspark.ops.sketch import kmv_sketch
    from kgspark.pipeline import _SKETCH_K

    bucket = F.pmod(F.xxhash64("url"), F.lit(n_buckets)).cast("int")
    processed = pages.select(
        "url", bucket.alias("bucket"), F.col("text").isNull().cast("long").alias("from_html")
    )
    doc_stats = processed.groupBy("bucket").agg(
        F.count("*").alias("n_docs"),
        F.min("url").alias("url_min"),
        F.max("url").alias("url_max"),
        F.sum("from_html").alias("n_html_extracted"),
    )
    sketches = kmv_sketch(processed, "url", ["bucket"], k=_SKETCH_K)
    triple_stats = spark.read.parquet(f"{out}/doc_triples").groupBy("bucket").agg(
        F.count("*").alias("n_triples"),
        F.countDistinct("pred").alias("n_preds"),
        F.countDistinct("subj").alias("n_subjects"),
    )
    rows = doc_stats.join(sketches, "bucket", "left").join(triple_stats, "bucket", "left")
    return {
        r["bucket"]: (r["url_min"], r["url_max"], r["n_docs"], r["n_html_extracted"] or 0,
                      r["n_triples"] or 0, r["n_preds"] or 0, r["n_subjects"] or 0,
                      list(r["sketch"]))
        for r in rows.collect()
    }


def _lineage(spark, out):
    return {
        r["bucket"]: (r["url_min"], r["url_max"], r["n_docs"], r["n_html_extracted"],
                      r["n_triples"], r["n_preds"], r["n_subjects"], list(r["url_sketch"]))
        for r in spark.read.parquet(f"{out}/lineage").collect()
    }


def test_pipeline_reads_each_warc_partition_once(spark, tmp_path):
    """One pass over the input: every partition of the WARC scan is read
    exactly once by a build, and the lineage it writes equals the two-pass
    derivation's, url sketches included."""
    from datetime import datetime, timedelta, timezone

    from kgspark.sources.warc import read_warc, write_synthetic_warc

    pdf = fixtures.web_pages_pdf(160, both_cols=True)
    epoch = datetime(2024, 1, 1, tzinfo=timezone.utc)
    docs = [(r.url, epoch + timedelta(seconds=i), bytes(r.html)) for i, r in enumerate(pdf.itertuples())]
    warc_dir = tmp_path / "warc"
    warc_dir.mkdir()
    for k in range(4):
        write_synthetic_warc(str(warc_dir / f"part{k}.warc.gz"), docs[k::4])

    log = tmp_path / "reads.log"

    def logged(batches):
        from pyspark import TaskContext

        with open(log, "a", encoding="utf-8") as f:
            f.write(f"{TaskContext.get().partitionId()}\n")
        yield from batches

    warc = read_warc(spark, str(warc_dir))
    pages = warc.mapInPandas(logged, schema=warc.schema)
    n_parts = pages.rdd.getNumPartitions()
    out = str(tmp_path / "kg")
    res = pipeline.run_pipeline(spark, pages, out, n_buckets=8)

    reads = sorted(int(x) for x in log.read_text("utf-8").split())
    assert reads == list(range(n_parts))
    assert res.n_docs == 160
    assert _lineage(spark, out) == _lineage_oracle(spark, read_warc(spark, str(warc_dir)), out, 8)


def test_lineage_matches_two_pass_derivation_on_mixed_pages(spark, tmp_path):
    """Pages with pre-extracted text and pages with only html: the one-pass
    lineage counts html extractions and everything else as before."""
    pages = fixtures.web_pages_spark_small(spark, 120)
    out = str(tmp_path / "kg")
    pipeline.run_pipeline(spark, pages, out, n_buckets=4)
    got = _lineage(spark, out)
    assert got == _lineage_oracle(spark, pages, out, 4)
    assert 0 < sum(v[3] for v in got.values()) < 120


def test_unreadable_lineage_fails_the_run(spark, tmp_path):
    """A lineage table that exists but cannot be read is an error, not
    "no lineage" (which would silently rebuild every bucket)."""
    out = tmp_path / "kg"
    (out / "lineage").mkdir(parents=True)
    (out / "lineage" / "part-00000.parquet").write_bytes(b"not a parquet file")
    pages = fixtures.web_pages_spark_small(spark, 20)
    with pytest.raises(Exception, match="lineage"):  # the error names the bad file
        pipeline.run_pipeline(spark, pages, str(out), n_buckets=4)
    assert not (out / "doc_triples").exists()


def test_resume_skips_graph_stage_while_manifest_matches(spark, tmp_path, monkeypatch):
    """A rerun over finished lineage leaves the saved graph alone; new
    extraction, other graph options or a graph rewritten outside
    run_pipeline rebuild it."""
    import os

    pages = fixtures.web_pages_spark_small(spark, 120)
    out = str(tmp_path / "kg")
    first = pipeline.run_pipeline(spark, pages, out, n_buckets=4)

    def graph_files():
        return {
            os.path.join(root, n): os.path.getmtime(os.path.join(root, n))
            for t in ("nodes", "edges")
            for root, _, names in os.walk(f"{out}/{t}")
            for n in names
        }

    before = graph_files()
    real_graph_stage = pipeline.graph_stage
    calls = []

    def counting_graph_stage(*args, **kwargs):
        calls.append(args)
        return real_graph_stage(*args, **kwargs)

    monkeypatch.setattr(pipeline, "graph_stage", counting_graph_stage)
    again = pipeline.run_pipeline(spark, pages, out, n_buckets=4, run_id="r2", run_seq=1)
    assert calls == [] and graph_files() == before
    assert (again.n_buckets_processed, again.n_buckets_skipped) == (0, 4)
    assert (again.n_docs, again.n_triples) == (first.n_docs, first.n_triples)

    pipeline.run_pipeline(spark, pages, out, n_buckets=4, canonicalize=False)
    assert len(calls) == 1
    pipeline.run_pipeline(spark, pages, out, n_buckets=4, canonicalize=False)
    assert len(calls) == 1
    real_graph_stage(spark, out, n_buckets=4)  # the graph changed outside run_pipeline
    pipeline.run_pipeline(spark, pages, out, n_buckets=4, canonicalize=False)
    assert len(calls) == 2
