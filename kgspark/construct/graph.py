"""Node canonicalization + edge materialization (SURVEY §2.5 A1/A2, §2.4 J1).

Key design decision (scale): entity identity in the reference is
``MERGE (n:Label {name: ...})`` backed by a per-label unique constraint
(neo4j_loader.py:44-52,122). Instead of reproducing that as a lookup-join
against a node dictionary, we define ``entity_id = xxhash64(label, name)`` —
which turns every edge build into a pure projection (no join, no shuffle) and
makes node identity stable across runs and partitionings. Collision risk at
64 bits is ~n²/2⁶⁵; at 10¹⁰ entities that is ~0.003 — acceptable, and the
(label, name) columns are retained so collisions are detectable.

MERGE semantics replicated exactly (SURVEY §1.3):

- last-write-wins props: ``SET n += row.props`` applied in write order ->
  ``max_by(props, seq)`` per (label, name);
- Neo4j ``+=`` *deletes* keys whose incoming value is null -> after picking
  the winning record, ``map_filter`` drops null-valued entries;
- stub nodes: MERGE on an edge tail creates a property-less node for unseen
  names (neo4j_loader.py:137-147) -> triple endpoints are unioned in as
  records with ``props = NULL, seq = -1`` so any SET record outranks them.

Both aggregates are two-phase hash aggregations (partial map-side combine
before the shuffle), so hot keys (the reference data's 乏力-like symptom
fan-in, SURVEY §4) collapse before they cross the wire; AQE skew-join splits
cover the residual.
"""

from __future__ import annotations

from functools import reduce
from itertools import chain

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def entity_id(label, name):
    """Stable 64-bit entity id; projection, not lookup (J1 chosen design)."""
    return F.xxhash64(label, name)


def node_records_from_source(
    df: DataFrame, label: str, prop_cols: list[str], name_col: str = "name"
) -> DataFrame:
    """One MERGE+SET record per source row -> NODE_RECORDS rows.

    ``props`` keeps null values on purpose: the null-deletes-key semantics of
    ``+=`` must apply *after* last-write-wins picks the winning record.
    """
    props = F.create_map(
        *chain.from_iterable((F.lit(c), F.col(c)) for c in prop_cols)
    )
    return df.filter(F.col(name_col).isNotNull()).select(
        F.lit(label).alias("label"),
        F.col(name_col).alias("name"),
        props.alias("props"),
        F.col("seq").alias("seq"),
    )


def stub_records_from_triples(triples: DataFrame) -> DataFrame:
    """MERGE-created endpoint stubs: props NULL, seq -1 (always outranked)."""
    null_props = F.lit(None).cast("map<string,string>")
    subj = triples.select(
        F.col("subj_type").alias("label"), F.col("subj").alias("name")
    )
    obj = triples.select(
        F.col("obj_type").alias("label"), F.col("obj").alias("name")
    )
    return (
        subj.unionByName(obj)
        .select("label", "name", null_props.alias("props"), F.lit(-1).cast("long").alias("seq"))
    )


def canonicalize_nodes(records: DataFrame) -> DataFrame:
    """A1: distinct (label, name) with per-key last-write-wins props.

    Neo4j ``SET n += props`` is a PER-KEY upsert: the latest record that
    mentions key k with a non-null value sets it, a null value deletes it,
    and records not mentioning k leave it untouched. (A whole-record
    ``max_by(props, seq)`` is only equivalent when every SET carries every
    key — true of the reference loaders, but the property-based MERGE-replay
    test showed it wipes keys on partial updates, so the semantics here are
    per-key.) Implementation: explode SET records to (key, value, seq)
    entries, latest write per (label, name, key), drop null winners
    (deletes), regroup with map_from_entries.

    Scale tiers: the corpus-sized stub stream (props NULL — triple endpoints
    at 10^12-doc scale) only passes the two-phase hash-agg ``distinct``; the
    entry explode/regroup touches SET records alone (dimension catalogs).
    Stubs never outrank SET records structurally (they carry no entries).
    """
    all_names = records.select("label", "name").distinct()  # hash agg, corpus-scale
    setters = records.filter(F.col("props").isNotNull())
    entries = setters.select(
        "label", "name", "seq", F.explode("props").alias("key", "value")
    )
    latest = entries.groupBy("label", "name", "key").agg(
        F.max_by("value", "seq").alias("value")
    )
    won = (
        latest.filter(F.col("value").isNotNull())
        .groupBy("label", "name")
        .agg(
            F.map_from_entries(F.collect_list(F.struct("key", "value"))).alias(
                "props_raw"
            )
        )
    )
    empty_map = F.from_json(F.lit("{}"), "map<string,string>")
    # join strategy left to AQE: it converts to broadcast at runtime when the
    # SET-record side is small (always, in this engine's uses), but a forced
    # hint would be wrong if a caller ever feeds corpus-scale SET records
    return all_names.join(won, ["label", "name"], "left").select(
        entity_id(F.col("label"), F.col("name")).alias("entity_id"),
        "label",
        "name",
        F.coalesce("props_raw", empty_map).alias("props"),
    )


def edges_from_triples(triples: DataFrame) -> DataFrame:
    """A2 + J1: endpoint ids by hashing (projection), then distinct edges."""
    return (
        triples.select(
            entity_id(F.col("subj_type"), F.col("subj")).alias("src_id"),
            F.col("pred").alias("rel"),
            entity_id(F.col("obj_type"), F.col("obj")).alias("dst_id"),
        )
        .dropDuplicates(["src_id", "rel", "dst_id"])
    )


def edges_with_provenance(doc_triples: DataFrame, max_urls: int = 3) -> DataFrame:
    """A2 with provenance kept: (src_id, rel, dst_id, support, sample_urls)
    — support = number of (document, extraction) assertions behind the
    edge, sample_urls = up to ``max_urls`` lexicographically-first source
    urls (deterministic; bounded per-group state, NOT collect_set of a
    corpus-scale url list). Support is the edge-confidence signal (threshold
    low-support edges before publishing) and the samples are the audit
    trail; the plain ``edges_from_triples`` stays the lean default when
    neither is needed.
    """
    keyed = doc_triples.select(
        entity_id(F.col("subj_type"), F.col("subj")).alias("src_id"),
        F.col("pred").alias("rel"),
        entity_id(F.col("obj_type"), F.col("obj")).alias("dst_id"),
        "url",
    )
    key = ["src_id", "rel", "dst_id"]
    support = keyed.groupBy(*key).agg(F.count("*").alias("support"))
    w = Window.partitionBy(*key).orderBy("url")
    samples = (
        keyed.distinct()
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= max_urls)
        .groupBy(*key)
        .agg(F.sort_array(F.collect_list("url")).alias("sample_urls"))
    )
    return support.join(samples, key)


def build_graph(
    node_record_frames: list[DataFrame], triples: DataFrame
) -> tuple[DataFrame, DataFrame]:
    """U1 + A1 + A2: union all sources' MERGE records with edge-endpoint
    stubs, canonicalize, and materialize distinct edges."""
    records = reduce(lambda a, b: a.unionByName(b), node_record_frames)
    records = records.unionByName(stub_records_from_triples(triples))
    return canonicalize_nodes(records), edges_from_triples(triples)


def save_graph(
    nodes: DataFrame, edges: DataFrame, out_dir: str, n_buckets: int = 32
) -> None:
    """S7: bucketed graph write.

    Files are laid out by ``bucket = pmod(entity_id hash, n_buckets)`` (hidden
    partitioning in Iceberg terms; plain parquet partitioning here since the
    sandbox has no Iceberg catalog jars). Downstream src/dst joins read
    co-bucketed files. ``overwrite`` keeps full rebuilds idempotent — the
    declarative replacement for the reference's ``MATCH (n) DETACH DELETE n``
    re-init (S9, neo4j_loader.py:26-31).
    """
    # sortWithinPartitions: parquet row-group min/max stats on the id column
    # become selective, so point lookups skip row groups, not just partitions
    (
        nodes.withColumn("bucket", F.pmod(F.col("entity_id"), F.lit(n_buckets)))
        .sortWithinPartitions("entity_id")
        .write.mode("overwrite")
        .partitionBy("bucket")
        .parquet(f"{out_dir}/nodes")
    )
    (
        edges.withColumn("bucket", F.pmod(F.col("src_id"), F.lit(n_buckets)))
        .sortWithinPartitions("src_id")
        .write.mode("overwrite")
        .partitionBy("bucket")
        .parquet(f"{out_dir}/edges")
    )


def lookup_entity(
    spark, out_dir: str, label: str, name: str, n_buckets: int = 32
) -> DataFrame:
    """Point lookup against the saved layout, O(1/buckets) of the table:
    the entity id (and thus its bucket) is COMPUTED driver-side — identity is
    a hash, never a dictionary join — so the scan carries a partition filter
    (only one bucket directory listed/read) plus an id predicate that prunes
    parquet row groups via the sorted-write min/max stats."""
    import ctypes

    row = (
        spark.range(1)
        .select(F.xxhash64(F.lit(label), F.lit(name)).alias("id"))
        .first()
    )
    eid = int(row["id"])
    bucket = int(ctypes.c_int64(eid).value % n_buckets)
    if bucket < 0:  # pmod semantics
        bucket += n_buckets
    return (
        spark.read.parquet(f"{out_dir}/nodes")
        .filter((F.col("bucket") == bucket) & (F.col("entity_id") == eid))
    )


def merge_into_graph(
    spark,
    out_dir: str,
    node_record_frames: list[DataFrame],
    triples: DataFrame,
    n_buckets: int = 32,
) -> dict:
    """Incremental graph maintenance: fold a NEW batch of MERGE records +
    triples into an existing ``save_graph`` layout, rewriting ONLY the
    entity-id buckets the batch touches (dynamic partition overwrite).

    Semantics = the reference's append-mode ``load_all``: re-running a loader
    over new data MERGEs into the live graph — new records' properties
    outrank existing node properties (last-write-wins continues across
    batches: existing nodes re-enter canonicalization as seq=0 records, new
    SET records are shifted to seq>=1), stubs never wipe props, edges union
    distinct.

    Cost model at 100 TB: a batch touching K of N buckets reads and rewrites
    K/N of the node/edge tables; the untouched partitions are never scanned
    (partition pruning on the bucket column) and never rewritten. A daily
    crawl increment is ~10^-3 of the corpus, so this is ~1000x cheaper than
    the full ``build_graph`` recompute — equivalence to the full rebuild is
    asserted in tests.

    Durability: merged buckets are STAGED to a ``._merge`` temp subdir and
    swapped in per bucket only after the write job succeeds — the live
    table is never the write target of a job that is also reading it, and
    a failure before the swap leaves the table untouched. The swap itself
    is per-bucket (not one atomic pointer flip); a driver crash mid-swap
    leaves a mixed table but with the staged data intact on disk for
    recovery. Crash-sensitive / concurrent callers should layer
    ``publish_graph`` (atomic ``_CURRENT`` pointer) on top.

    Returns {"affected_buckets": K, "n_buckets": N}.
    """
    from pathlib import Path

    if not Path(f"{out_dir}/nodes").exists():  # bootstrap: first batch
        frames = node_record_frames or [
            triples.sparkSession.createDataFrame(
                [], schema="label string, name string, props map<string,string>, seq long"
            )
        ]
        nodes, edges = build_graph(frames, triples)
        save_graph(nodes, edges, out_dir, n_buckets=n_buckets)
        return {"affected_buckets": n_buckets, "n_buckets": n_buckets}

    # the batch feeds four actions below (two bucket probes, two writes):
    # materialize it by the first one, so its source is read once
    triples = triples.localCheckpoint(eager=False)
    records = (
        reduce(lambda a, b: a.unionByName(b), node_record_frames).localCheckpoint(eager=False)
        if node_record_frames
        else None
    )
    stubs = stub_records_from_triples(triples)
    new_records = (
        records.withColumn("seq", F.col("seq") + F.lit(1)).unionByName(stubs)
        if records is not None
        else stubs
    )

    bucket_of = lambda c: F.pmod(c, F.lit(n_buckets))
    touched = (
        new_records.select(bucket_of(entity_id(F.col("label"), F.col("name"))).alias("bucket"))
        .distinct()
        .collect()
    )
    affected = sorted(int(r["bucket"]) for r in touched)

    old_nodes = spark.read.parquet(f"{out_dir}/nodes").filter(
        F.col("bucket").isin(affected)
    )
    old_as_records = old_nodes.select(
        "label", "name", "props", F.lit(0).cast("long").alias("seq")
    )
    merged_nodes = canonicalize_nodes(old_as_records.unionByName(new_records))
    _staged_bucket_swap(
        spark,
        merged_nodes.withColumn("bucket", bucket_of(F.col("entity_id"))),
        f"{out_dir}/nodes",
        affected,
    )

    new_edges = edges_from_triples(triples)
    edge_buckets = sorted(
        int(r["bucket"])
        for r in new_edges.select(bucket_of(F.col("src_id")).alias("bucket")).distinct().collect()
    )
    old_edges = spark.read.parquet(f"{out_dir}/edges").filter(
        F.col("bucket").isin(edge_buckets)
    ).select("src_id", "rel", "dst_id")
    merged_edges = old_edges.unionByName(new_edges).dropDuplicates(
        ["src_id", "rel", "dst_id"]
    )
    _staged_bucket_swap(
        spark,
        merged_edges.withColumn("bucket", bucket_of(F.col("src_id"))),
        f"{out_dir}/edges",
        edge_buckets,
    )
    return {"affected_buckets": len(set(affected) | set(edge_buckets)), "n_buckets": n_buckets}


def _staged_bucket_swap(spark, df, table_path: str, buckets: list[int]) -> None:
    """Write ``df`` (bucket-partitioned) to ``<table>._merge`` and swap the
    listed bucket directories into the live table. The live path is never a
    concurrent read+write target, and nothing is removed until the full
    staged write has committed. Per-bucket swap, not atomic — see
    ``merge_into_graph`` docstring."""
    import shutil
    from pathlib import Path

    staged = f"{table_path}._merge"
    (
        df.write.mode("overwrite").partitionBy("bucket").parquet(staged)
    )
    for b in buckets:
        src = Path(staged) / f"bucket={b}"
        dst = Path(table_path) / f"bucket={b}"
        if dst.exists():
            shutil.rmtree(dst)
        if src.exists():  # a bucket can merge to empty only if it was empty
            shutil.move(str(src), str(dst))
    shutil.rmtree(staged, ignore_errors=True)


def compact_graph(spark, out_dir: str) -> dict:
    """Operational companion to ``merge_into_graph``: every incremental merge
    rewrites its buckets as fresh files, so a long-lived graph accumulates
    small files (the classic streaming-table problem; Iceberg calls this
    rewrite_data_files). Compaction rewrites each table to ONE file per
    bucket partition — content unchanged (row-count-guarded swap, equality
    asserted in tests), scan tasks per query drop from O(merges x buckets)
    to O(buckets). A production deployment with buckets larger than one task
    swaps this for Iceberg's size-targeted rewrite; the bucket key itself is
    the repartition key, so compaction is one shuffle whose output
    co-locates exactly with the existing layout.
    """
    stats = {}
    for table in ("nodes", "edges"):
        df = spark.read.parquet(f"{out_dir}/{table}")
        (
            df.repartition("bucket")
            .write.mode("overwrite")
            .partitionBy("bucket")
            .parquet(f"{out_dir}/{table}._compact")
        )
        compacted = spark.read.parquet(f"{out_dir}/{table}._compact")
        n_before, n_after = df.count(), compacted.count()
        if n_before != n_after:  # paranoia before the destructive swap
            raise RuntimeError(
                f"compaction row-count drift on {table}: {n_before} -> {n_after}"
            )
        import shutil

        shutil.rmtree(f"{out_dir}/{table}")
        shutil.move(f"{out_dir}/{table}._compact", f"{out_dir}/{table}")
        stats[table] = n_after
    return stats


def export_for_neo4j(nodes: DataFrame, edges: DataFrame, out_dir: str) -> None:
    """Bridge back to the reference's store: write the CSV shape
    ``neo4j-admin database import`` consumes (nodes: ``id:ID``, ``:LABEL``,
    ``name``, ``props`` as JSON; relationships: ``:START_ID``, ``:END_ID``,
    ``:TYPE``), so a migrated user can still materialize the graph into
    Neo4j for Cypher/Browser access — one bulk import instead of the
    reference's per-batch UNWIND/MERGE sessions.

    Distributed CSV write (one part per task); headers ride in every part
    (``header=True``) — concatenate or pass the glob to neo4j-admin.
    """
    (
        nodes.select(
            F.col("entity_id").cast("string").alias("id:ID"),
            F.col("label").alias(":LABEL"),
            F.col("name"),
            F.to_json(F.col("props")).alias("props"),
        )
        .write.mode("overwrite")
        .option("header", True)
        .option("escape", '"')
        .csv(f"{out_dir}/neo4j_nodes")
    )
    (
        edges.select(
            F.col("src_id").cast("string").alias(":START_ID"),
            F.col("dst_id").cast("string").alias(":END_ID"),
            F.col("rel").alias(":TYPE"),
        )
        .write.mode("overwrite")
        .option("header", True)
        .csv(f"{out_dir}/neo4j_rels")
    )


def _nt_literal(col):
    """Escape a string column as an N-Triples literal: backslash first, then
    quote / newline / CR / tab (RDF 1.1 N-Triples ECHAR grammar)."""
    esc = F.replace(col, F.lit("\\"), F.lit("\\\\"))
    esc = F.replace(esc, F.lit('"'), F.lit('\\"'))
    esc = F.replace(esc, F.lit("\n"), F.lit("\\n"))
    esc = F.replace(esc, F.lit("\r"), F.lit("\\r"))
    esc = F.replace(esc, F.lit("\t"), F.lit("\\t"))
    return F.concat(F.lit('"'), esc, F.lit('"'))


def _nt_iri(prefix: str, col):
    """urn:kg: IRI with the variable segment percent-encoded (url_encode is
    JVM-side; spaces and reserved chars would break the NT grammar)."""
    return F.concat(F.lit(f"<urn:kg:{prefix}/"), F.url_encode(col), F.lit(">"))


def export_ntriples(nodes: DataFrame, edges: DataFrame, out_dir: str) -> None:
    """RDF N-Triples export — the standard KG interchange the reference
    lacks entirely (its only egress is Cypher into Neo4j). Line-based, so
    the write is fully distributed text (one part per task, no driver
    collection) and the files load into any triple store or SPARQL engine.

    Statements per node: rdf:type to the label IRI, kg:name literal, one
    triple per props entry (map exploded). Per edge: subject/rel/object
    entity IRIs. Entity IRIs use the stable entity_id (identity is
    xxhash64(label, name) — SURVEY §1.3), so node and edge files agree
    without any join at export time.
    """
    ent = _nt_iri("entity", F.col("entity_id").cast("string"))
    type_lines = nodes.select(
        F.concat(
            ent,
            F.lit(" <http://www.w3.org/1999/02/22-rdf-syntax-ns#type> "),
            _nt_iri("label", F.col("label")),
            F.lit(" ."),
        ).alias("value")
    )
    name_lines = nodes.select(
        F.concat(
            ent, F.lit(" <urn:kg:name> "), _nt_literal(F.col("name")), F.lit(" .")
        ).alias("value")
    )
    prop_lines = (
        nodes.select(F.col("entity_id"), F.explode("props").alias("k", "v"))
        .where(F.col("v").isNotNull())
        .select(
            F.concat(
                _nt_iri("entity", F.col("entity_id").cast("string")),
                F.lit(" "),
                _nt_iri("prop", F.col("k")),
                F.lit(" "),
                _nt_literal(F.col("v")),
                F.lit(" ."),
            ).alias("value")
        )
    )
    edge_lines = edges.select(
        F.concat(
            _nt_iri("entity", F.col("src_id").cast("string")),
            F.lit(" "),
            _nt_iri("rel", F.col("rel")),
            F.lit(" "),
            _nt_iri("entity", F.col("dst_id").cast("string")),
            F.lit(" ."),
        ).alias("value")
    )
    (
        type_lines.unionByName(name_lines)
        .unionByName(prop_lines)
        .write.mode("overwrite")
        .text(f"{out_dir}/nodes_nt")
    )
    edge_lines.write.mode("overwrite").text(f"{out_dir}/edges_nt")


def validate_graph(nodes: DataFrame, edges: DataFrame) -> dict:
    """Executable integrity contract for a built graph (makes the module
    docstring's "collisions are detectable" claim a runnable check):

    - ``id_collisions``: entity_ids shared by more than one (label, name) —
      xxhash64 collisions (expected 0 well past 10^9 entities);
    - ``dup_keys``: (label, name) appearing more than once — canonicalization
      (A1) invariant violation;
    - ``dangling_edges``: edge endpoints with no node row — J1 stub-creation
      invariant violation.

    All three are two-phase aggregates / broadcast-free joins over the
    (already dimension-scale) graph tables; returns counts, all of which must
    be zero for a healthy graph.
    """
    id_collisions = (
        nodes.groupBy("entity_id")
        .agg(F.count_distinct("label", "name").alias("n"))
        .filter(F.col("n") > 1)
        .count()
    )
    dup_keys = (
        nodes.groupBy("label", "name").count().filter(F.col("count") > 1).count()
    )
    ids = nodes.select("entity_id")
    endpoints = (
        edges.select(F.col("src_id").alias("entity_id"))
        .union(edges.select(F.col("dst_id")))
        .distinct()
    )
    dangling = endpoints.join(ids, "entity_id", "left_anti").count()
    return {
        "id_collisions": id_collisions,
        "dup_keys": dup_keys,
        "dangling_edges": dangling,
    }


def publish_graph(
    nodes: DataFrame, edges: DataFrame, out_dir: str, n_buckets: int = 32
) -> int:
    """Snapshot-versioned publish: write a full graph under ``v{n}/``, then
    atomically swap the ``_CURRENT`` pointer file to it.

    This is the commit protocol Iceberg's metadata layer provides and plain
    parquet lacks: readers resolve the pointer first, so they NEVER observe
    a half-written graph — a publish that dies mid-write leaves an orphan
    version directory and an untouched pointer (cleaned by
    ``vacuum_graph``). Old versions stay readable (time travel /
    rollback = ``load_graph(..., version=n)``). On a POSIX filesystem the
    swap is ``os.replace``; on HDFS it maps to an atomic rename, on S3 to
    the catalog's pointer commit.

    Returns the published version number.
    """
    import os

    versions = graph_versions(out_dir)
    v = (max(versions) + 1) if versions else 1
    save_graph(nodes, edges, f"{out_dir}/v{v}", n_buckets=n_buckets)
    os.makedirs(out_dir, exist_ok=True)
    tmp = f"{out_dir}/_CURRENT.tmp"
    with open(tmp, "w", encoding="utf-8") as f:
        f.write(str(v))
    os.replace(tmp, f"{out_dir}/_CURRENT")  # the atomic commit point
    return v


def graph_versions(out_dir: str) -> list[int]:
    """All version numbers with a directory present (committed or orphan)."""
    import os
    import re

    if not os.path.isdir(out_dir):
        return []
    return sorted(
        int(m.group(1))
        for d in os.listdir(out_dir)
        if (m := re.fullmatch(r"v(\d+)", d)) and os.path.isdir(f"{out_dir}/{d}")
    )


def current_graph_version(out_dir: str) -> int | None:
    import os

    ptr = f"{out_dir}/_CURRENT"
    if not os.path.exists(ptr):
        return None
    with open(ptr, encoding="utf-8") as f:
        return int(f.read().strip())


def load_graph(
    spark, out_dir: str, version: int | None = None
) -> tuple[DataFrame, DataFrame]:
    """(nodes, edges) at the committed snapshot (or a pinned ``version`` for
    time travel). Raises if nothing was ever committed."""
    v = version if version is not None else current_graph_version(out_dir)
    if v is None:
        raise FileNotFoundError(f"no committed graph under {out_dir}")
    base = f"{out_dir}/v{v}"
    return spark.read.parquet(f"{base}/nodes"), spark.read.parquet(f"{base}/edges")


def vacuum_graph(out_dir: str, keep: int = 2) -> list[int]:
    """Drop versions no reader should need: everything older than the
    ``keep`` most recent committed-or-earlier versions, plus orphans newer
    than the pointer (failed publishes). Never drops the committed version.
    Returns the removed version numbers."""
    import shutil

    cur = current_graph_version(out_dir)
    if cur is None:
        return []
    removed = []
    committed = [v for v in graph_versions(out_dir) if v <= cur]
    for v in committed[:-keep] if keep else committed[:-1]:
        if v != cur:
            shutil.rmtree(f"{out_dir}/v{v}")
            removed.append(v)
    for v in graph_versions(out_dir):
        if v > cur:  # orphan from a dead publish
            shutil.rmtree(f"{out_dir}/v{v}")
            removed.append(v)
    return sorted(removed)


def diff_graphs(
    spark,
    out_dir: str,
    from_version: int,
    to_version: int | None = None,
) -> dict[str, DataFrame]:
    """What changed between two published snapshots (publish_graph/time
    travel): the crawl-over-crawl report an operator reads before promoting
    a new graph version.

    Returns lazy DataFrames keyed:
      nodes_added / nodes_removed — (entity_id, label, name)
      props_changed — (entity_id, label, name, props_from, props_to)
      edges_added / edges_removed — (src_id, rel, dst_id)

    Plan shape: left-anti joins on entity_id / the edge triple for
    add/remove (hash joins on the bucketed id columns), and an inner join +
    map inequality for prop changes. All set-difference work happens on id
    columns; props are only read for the matched-id inner join.
    """
    n_from, e_from = load_graph(spark, out_dir, version=from_version)
    n_to, e_to = load_graph(spark, out_dir, version=to_version)
    nid, eid = ["entity_id"], ["src_id", "rel", "dst_id"]
    node_cols = ["entity_id", "label", "name"]
    props_changed = (
        n_to.select(*node_cols, F.col("props").alias("props_to"))
        .join(n_from.select("entity_id", F.col("props").alias("props_from")), nid)
        # map equality isn't a comparable op in Spark SQL; compare the
        # entry sets via sorted to_json of array_sort'd entries
        .where(
            F.to_json(F.array_sort(F.map_entries("props_to")))
            != F.to_json(F.array_sort(F.map_entries("props_from")))
        )
        .select(*node_cols, "props_from", "props_to")
    )
    return {
        "nodes_added": n_to.select(*node_cols).join(n_from, nid, "left_anti"),
        "nodes_removed": n_from.select(*node_cols).join(n_to, nid, "left_anti"),
        "props_changed": props_changed,
        "edges_added": e_to.select(*eid).join(e_from, eid, "left_anti"),
        "edges_removed": e_from.select(*eid).join(e_to, eid, "left_anti"),
    }


def save_graph_tables(
    nodes: DataFrame,
    edges: DataFrame,
    n_buckets: int = 32,
    prefix: str = "kg",
    dst_copy: bool = False,
) -> tuple[str, str]:
    """S7 catalog variant: true Spark bucketing (``bucketBy`` + ``sortBy`` +
    ``saveAsTable``), the sandbox stand-in for Iceberg's ``bucket(entity_id)``
    hidden partitioning.

    Unlike directory-partitioned parquet (``save_graph``), catalog tables
    carry bucketing metadata, so a downstream ``edges.src_id = nodes.
    entity_id`` join (same bucket count on both sides) plans a sort-merge
    join with ZERO exchanges — each task reads one co-bucketed file pair.
    This is the layout the 100 TB deployment uses for every graph-expand
    query; asserted in tests/test_skew_and_plans.py.

    ``dst_copy`` additionally writes ``{prefix}_edges_by_dst`` — the same
    edges bucketed/sorted by ``dst_id``. This is the standard
    both-directions graph layout: forward expands (src resolution, motif
    hops from a source) use the src table, REVERSE expands (J3-style
    "which insurances cover disease X": edges filtered on rel joined to
    nodes on dst_id) read the dst copy and also plan with zero exchanges.
    2x edge storage — pay it when reverse traversals are hot; edges are a
    small fraction of corpus bytes (SCALE.md §1), so at 100 TB the copy is
    tens of GB against the petabyte input.

    Returns the two primary table names.
    """
    nt, et = f"{prefix}_nodes", f"{prefix}_edges"
    (
        nodes.write.mode("overwrite").format("parquet")
        .bucketBy(n_buckets, "entity_id").sortBy("entity_id").saveAsTable(nt)
    )
    (
        edges.write.mode("overwrite").format("parquet")
        .bucketBy(n_buckets, "src_id").sortBy("src_id").saveAsTable(et)
    )
    if dst_copy:
        (
            edges.write.mode("overwrite").format("parquet")
            .bucketBy(n_buckets, "dst_id").sortBy("dst_id")
            .saveAsTable(f"{prefix}_edges_by_dst")
        )
    return nt, et
