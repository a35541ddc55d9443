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

- per-key last-write-wins props: ``SET n += row.props`` applied in write
  order -> each (label, name) folds its SET records in ``seq`` order;
- Neo4j ``+=`` *deletes* keys whose incoming value is null -> after the
  fold, null-valued winners are dropped;
- stub nodes: MERGE on an edge tail creates a property-less node for unseen
  names (neo4j_loader.py:137-147) -> triple endpoints are unioned in as
  records with ``props = NULL, seq = -1``, which carry nothing to fold.

Each graph table is one shuffle. Nodes are one ``groupBy(label, name)``
collecting the SET records (two-phase ``ObjectHashAggregate``), or a hash-agg
``distinct`` when a build has no SET records at all; edges are one
``dropDuplicates``. Both combine map-side before the shuffle, so hot keys
(the reference data's 乏力-like symptom fan-in, SURVEY §4, whose stub rows
carry no props) collapse before they cross the wire.
"""

from __future__ import annotations

import os
import re
import shutil
from functools import reduce
from itertools import chain
from pathlib import Path

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from kgspark import schemas


# every graph table is laid out by ``bucket = _bucket(key, n)`` of its key
# column; the count a graph was written with is kept in ``_BUCKETS`` beside
# its tables (Spark's reader skips ``_`` files)
_N_BUCKETS = 32
_TABLES = (("nodes", "entity_id", schemas.NODES), ("edges", "src_id", schemas.EDGES))
_EDGE_KEY = ["src_id", "rel", "dst_id"]


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


def _node_rows(names: DataFrame, props) -> DataFrame:
    eid = entity_id(F.col("label"), F.col("name"))
    return names.select(eid.alias("entity_id"), "label", "name", props.alias("props"))


def canonicalize_nodes(records: DataFrame) -> DataFrame:
    """A1: distinct (label, name) with per-key last-write-wins props.

    Neo4j ``SET n += props`` is a PER-KEY upsert: the latest record that
    mentions key k with a non-null value sets it, a null value deletes it,
    and records not mentioning k leave it untouched. (A whole-record
    ``max_by(props, seq)`` is only equivalent when every SET carries every
    key — true of the reference loaders, but the property-based MERGE-replay
    test showed it wipes keys on partial updates, so the semantics here are
    per-key.) Implementation: one ``groupBy(label, name)`` collects each
    entity's SET records as (seq, entries); sorted by seq, they fold left to
    right, each record replacing the entries whose keys it mentions; null
    winners are dropped (deletes) and the rest become the map.

    Scale tiers: the corpus-sized stub stream (props NULL — triple endpoints
    at 10^12-doc scale) collects nothing, so its rows collapse in the
    map-side partial aggregate and a hub entity's list holds only its SET
    records (dimension catalogs, one seq-0 record per merge). One exchange:
    no join and no second aggregate.
    """
    setter = F.when(
        F.col("props").isNotNull(), F.struct("seq", F.map_entries("props").alias("entries"))
    )
    grouped = records.groupBy("label", "name").agg(F.collect_list(setter).alias("setters"))
    no_entries = F.array().cast("array<struct<key:string,value:string>>")

    def apply(acc, rec):
        keys = F.transform(rec["entries"], lambda e: e["key"])
        kept = F.filter(acc, lambda e: ~F.array_contains(keys, e["key"]))
        return F.concat(kept, rec["entries"])

    folded = F.aggregate(F.array_sort("setters"), no_entries, apply)
    won = F.filter(folded, lambda e: e["value"].isNotNull())
    return _node_rows(grouped, F.map_from_entries(won))


def _edge_ids(triples: DataFrame) -> DataFrame:
    """J1: endpoint ids by hashing (projection, no join)."""
    return triples.select(
        entity_id(F.col("subj_type"), F.col("subj")).alias("src_id"),
        F.col("pred").alias("rel"),
        entity_id(F.col("obj_type"), F.col("obj")).alias("dst_id"),
    )


def edges_from_triples(triples: DataFrame) -> DataFrame:
    """A2 + J1: endpoint ids by hashing (projection), then distinct edges."""
    return _edge_ids(triples).dropDuplicates(_EDGE_KEY)


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


def _graph_nodes(node_record_frames: list[DataFrame], triples: DataFrame) -> DataFrame:
    stubs = stub_records_from_triples(triples)
    if not node_record_frames:
        # stubs alone: distinct names with no props (a hash-agg distinct,
        # cheaper to plan and run than the fold, which would collect nothing)
        no_props = F.from_json(F.lit("{}"), "map<string,string>")
        return _node_rows(stubs.select("label", "name").distinct(), no_props)
    return canonicalize_nodes(reduce(DataFrame.unionByName, node_record_frames, stubs))


def build_graph(
    node_record_frames: list[DataFrame], triples: DataFrame
) -> tuple[DataFrame, DataFrame]:
    """U1 + A1 + A2: union all sources' MERGE records (none is fine) with
    edge-endpoint stubs, canonicalize, and materialize distinct edges."""
    return _graph_nodes(node_record_frames, triples), edges_from_triples(triples)


def _bucket(entity, n_buckets: int):
    return F.pmod(entity, F.lit(n_buckets)).cast("int")


def _graph_buckets(out_dir: str) -> int:
    with open(f"{out_dir}/_BUCKETS", encoding="utf-8") as f:
        return int(f.read())


def _write_graph(
    nodes: DataFrame, edges: DataFrame, out_dir: str, n_buckets: int, buckets=None
) -> None:
    """S7, the one bucketed graph writer. Each table is partitioned by
    ``bucket = pmod(key, n_buckets)`` (hidden partitioning in Iceberg terms;
    plain parquet partitioning here since the sandbox has no Iceberg catalog
    jars) and sorted by its key within each bucket, so parquet row-group
    min/max stats make point lookups skip row groups, not just partitions.

    Both tables are written to ``out_dir/_staged`` first; only after both
    writes have committed are the live bucket directories replaced: every
    bucket (``buckets=None``: the whole table) or only the listed ones. The
    live tables are never the target of a job that reads them, and a failed
    write leaves them untouched. The swap is directory renames, not one
    atomic step: a crash mid-swap leaves a mixed graph with the staged data
    still on disk. Readers that must never see that use ``publish_graph``.
    """
    staged = Path(out_dir, "_staged")
    shutil.rmtree(staged, ignore_errors=True)
    for (table, key, _), df in zip(_TABLES, (nodes, edges)):
        (
            df.withColumn("bucket", _bucket(F.col(key), n_buckets))
            .sortWithinPartitions("bucket", key)
            .write.partitionBy("bucket")
            .parquet(str(staged / table))
        )
    for table, _, _ in _TABLES:
        live, new = Path(out_dir, table), staged / table
        if buckets is None:
            shutil.rmtree(live, ignore_errors=True)
            new.rename(live)
            continue
        live.mkdir(parents=True, exist_ok=True)
        for b in buckets:
            shutil.rmtree(live / f"bucket={b}", ignore_errors=True)
            if (new / f"bucket={b}").exists():  # a merged bucket is empty only if it was
                (new / f"bucket={b}").rename(live / f"bucket={b}")
    Path(out_dir, "_BUCKETS").write_text(str(n_buckets), encoding="utf-8")
    shutil.rmtree(staged)


def save_graph(
    nodes: DataFrame, edges: DataFrame, out_dir: str, n_buckets: int = _N_BUCKETS
) -> None:
    """Write the whole graph to ``out_dir/{nodes,edges}/bucket=k``
    (``_write_graph``). Replacing every bucket keeps full rebuilds
    idempotent — the declarative replacement for the reference's
    ``MATCH (n) DETACH DELETE n`` re-init (S9, neo4j_loader.py:26-31).
    """
    _write_graph(nodes, edges, out_dir, n_buckets)


def read_graph(spark, out_dir: str) -> tuple[DataFrame, DataFrame]:
    """The (nodes, edges) tables under ``out_dir``, ``bucket`` column
    included, read with their declared schemas (``schemas.NODES`` /
    ``schemas.EDGES``): no footer-inference job, and a graph saved empty
    reads as two empty frames."""
    nodes, edges = (
        spark.read.schema(schema).parquet(f"{out_dir}/{table}") for table, _, schema in _TABLES
    )
    return nodes, edges


def lookup_entity(spark, out_dir: str, label: str, name: str) -> DataFrame:
    """Point lookup against the saved layout, O(1/buckets) of the table:
    identity is a hash, never a dictionary join, so the entity id and its
    bucket are literal expressions Spark folds to constants. The scan
    carries a partition filter (only one bucket directory listed/read) plus
    an id predicate that prunes parquet row groups via the sorted write's
    min/max stats."""
    eid = entity_id(F.lit(label), F.lit(name))
    return read_graph(spark, out_dir)[0].filter(
        (F.col("bucket") == _bucket(eid, _graph_buckets(out_dir))) & (F.col("entity_id") == eid)
    )


def merge_into_graph(
    spark,
    out_dir: str,
    node_record_frames: list[DataFrame],
    triples: DataFrame,
    n_buckets: int = _N_BUCKETS,
) -> dict:
    """Incremental graph maintenance: fold a NEW batch of MERGE records +
    triples into the graph under ``out_dir`` (none yet is an empty graph),
    rewriting ONLY the entity-id buckets the batch touches.

    Semantics = the reference's append-mode ``load_all``: re-running a loader
    over new data MERGEs into the live graph. The merge is ``build_graph``
    over the touched buckets' existing nodes as seq-0 records and the batch's
    records shifted to seq>=1 (last-write-wins continues across batches,
    stubs never wipe props), plus their existing edges: the batch's edge ids
    and the old edges are deduplicated together, once. An edge's bucket is
    its source's, and every source is a stub of the batch, so one probe of
    the batch's entity buckets serves both tables.

    Cost model at 100 TB: a batch touching K of N buckets reads and rewrites
    K/N of the node/edge tables; the untouched partitions are never scanned
    (partition pruning on the bucket column) and never rewritten. A daily
    crawl increment is ~10^-3 of the corpus, so this is ~1000x cheaper than
    the full ``build_graph`` recompute — equivalence to the full rebuild is
    asserted in tests. Durability is ``_write_graph``'s staged swap.

    Raises ``ValueError`` when the graph was written with a bucket count
    other than ``n_buckets``. Returns {"affected_buckets": K, "n_buckets": N}.
    """
    written = _graph_buckets(out_dir) if os.path.exists(f"{out_dir}/nodes") else None
    if written not in (None, n_buckets):
        raise ValueError(f"{out_dir} has {written} buckets; merging with {n_buckets}")
    # the batch feeds the bucket probe and both writes: materialize it by
    # the probe, so its source is read once
    triples = triples.localCheckpoint(eager=False)
    records = [
        reduce(DataFrame.unionByName, node_record_frames)
        .withColumn("seq", F.col("seq") + F.lit(1))
        .localCheckpoint(eager=False)
    ] if node_record_frames else []
    batch = reduce(DataFrame.unionByName, records, stub_records_from_triples(triples))
    touched = sorted(
        r["bucket"]
        for r in batch.select(
            _bucket(entity_id(F.col("label"), F.col("name")), n_buckets).alias("bucket")
        ).distinct().collect()
    )

    old_records, old_edges = [], []
    if written is not None:
        old_nodes, old_edge_rows = (
            t.filter(F.col("bucket").isin(touched)) for t in read_graph(spark, out_dir)
        )
        old_records = [old_nodes.select("label", "name", "props", F.lit(0).cast("long").alias("seq"))]
        old_edges = [old_edge_rows.select(*_EDGE_KEY)]
    nodes = _graph_nodes(old_records + records, triples)
    edges = reduce(DataFrame.unionByName, old_edges, _edge_ids(triples)).dropDuplicates(_EDGE_KEY)
    _write_graph(nodes, edges, out_dir, n_buckets, buckets=touched)
    return {"affected_buckets": len(touched), "n_buckets": n_buckets}


def compact_graph(spark, out_dir: str) -> dict:
    """Operational companion to ``merge_into_graph``: a write leaves one
    file per writing task in each bucket it touches, so a bucket holds as
    many small files as the task count of the write that last replaced it.
    Compaction rewrites each table to ONE file per bucket partition —
    content unchanged (equality asserted in tests), scan tasks per query
    drop to O(buckets). A production deployment with buckets larger than one
    task swaps this for Iceberg's size-targeted rewrite; the bucket key
    itself is the repartition key, so compaction is one shuffle whose output
    co-locates exactly with the existing layout. Returns rows per table.
    """
    nodes, edges = (t.repartition("bucket") for t in read_graph(spark, out_dir))
    _write_graph(nodes, edges, out_dir, _graph_buckets(out_dir))
    return {table: t.count() for (table, _, _), t in zip(_TABLES, read_graph(spark, out_dir))}


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
    nodes: DataFrame, edges: DataFrame, out_dir: str, n_buckets: int = _N_BUCKETS
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
    if not os.path.isdir(out_dir):
        return []
    return sorted(
        int(m.group(1))
        for d in os.listdir(out_dir)
        if (m := re.fullmatch(r"v(\d+)", d)) and os.path.isdir(f"{out_dir}/{d}")
    )


def current_graph_version(out_dir: str) -> int | None:
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
    return read_graph(spark, f"{out_dir}/v{v}")


def vacuum_graph(out_dir: str, keep: int = 2) -> list[int]:
    """Drop versions no reader should need: everything older than the
    ``keep`` most recent committed-or-earlier versions, plus orphans newer
    than the pointer (failed publishes). Never drops the committed version.
    Returns the removed version numbers."""
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
    n_buckets: int = _N_BUCKETS,
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
