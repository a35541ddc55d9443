"""Snapshot-versioned graph publish: atomic pointer commit, time travel,
orphan isolation, and vacuum retention."""

from __future__ import annotations

import pytest

from kgspark import schemas
from kgspark.construct.graph import (
    current_graph_version,
    graph_versions,
    load_graph,
    publish_graph,
    vacuum_graph,
)


def _graph(spark, tag):
    nodes = spark.createDataFrame(
        [(i, "L", f"{tag}-{i}", {}) for i in range(5)],
        "entity_id long, label string, name string, props map<string,string>",
    )
    edges = spark.createDataFrame(
        [(i, "R", (i + 1) % 5) for i in range(5)],
        "src_id long, rel string, dst_id long",
    )
    return nodes, edges


def test_publish_load_time_travel(spark, tmp_path):
    out = str(tmp_path / "kg")
    n1, e1 = _graph(spark, "a")
    n2, e2 = _graph(spark, "b")
    assert publish_graph(n1, e1, out, n_buckets=2) == 1
    assert publish_graph(n2, e2, out, n_buckets=2) == 2
    assert current_graph_version(out) == 2
    nodes, _ = load_graph(spark, out)
    assert {r["name"] for r in nodes.collect()} == {f"b-{i}" for i in range(5)}
    old, _ = load_graph(spark, out, version=1)  # time travel
    assert {r["name"] for r in old.collect()} == {f"a-{i}" for i in range(5)}
    # a graph published empty loads as two empty frames of the graph schemas
    empty = [df.limit(0) for df in (n1, e1)]
    assert publish_graph(*empty, out, n_buckets=2) == 3
    nodes, edges = load_graph(spark, out)
    assert (nodes.count(), edges.count()) == (0, 0)
    assert (nodes.columns, edges.columns) == (schemas.NODES.names, schemas.EDGES.names)


def test_failed_publish_invisible_and_vacuumed(spark, tmp_path):
    out = str(tmp_path / "kg")
    n1, e1 = _graph(spark, "a")
    publish_graph(n1, e1, out, n_buckets=2)
    # simulate a publish that died after writing data but before the commit:
    # version directory exists, pointer untouched
    from kgspark.construct.graph import save_graph

    save_graph(*_graph(spark, "dead"), f"{out}/v2", n_buckets=2)
    assert graph_versions(out) == [1, 2]
    assert current_graph_version(out) == 1
    nodes, _ = load_graph(spark, out)  # readers still see v1
    assert {r["name"] for r in nodes.collect()} == {f"a-{i}" for i in range(5)}
    assert vacuum_graph(out) == [2]  # orphan removed, committed kept
    assert graph_versions(out) == [1]


def test_vacuum_keeps_recent(spark, tmp_path):
    out = str(tmp_path / "kg")
    for tag in "abcd":
        publish_graph(*_graph(spark, tag), out, n_buckets=2)
    assert graph_versions(out) == [1, 2, 3, 4]
    assert vacuum_graph(out, keep=2) == [1, 2]
    assert graph_versions(out) == [3, 4]
    # both survivors load
    assert load_graph(spark, out, version=3)[0].count() == 5
    assert load_graph(spark, out)[0].count() == 5


def test_load_before_any_commit_raises(spark, tmp_path):
    with pytest.raises(FileNotFoundError):
        load_graph(spark, str(tmp_path / "none"))


def test_diff_graphs(spark, tmp_path):
    from kgspark.construct.graph import diff_graphs

    out = str(tmp_path / "kg")
    n1 = spark.createDataFrame(
        [(1, "L", "a", {"k": "1"}), (2, "L", "b", {}), (3, "L", "c", {})],
        "entity_id long, label string, name string, props map<string,string>",
    )
    e1 = spark.createDataFrame(
        [(1, "R", 2), (2, "R", 3)], "src_id long, rel string, dst_id long"
    )
    n2 = spark.createDataFrame(
        [(1, "L", "a", {"k": "2"}), (2, "L", "b", {}), (4, "L", "d", {})],
        "entity_id long, label string, name string, props map<string,string>",
    )
    e2 = spark.createDataFrame(
        [(1, "R", 2), (1, "R", 4)], "src_id long, rel string, dst_id long"
    )
    publish_graph(n1, e1, out, n_buckets=2)
    publish_graph(n2, e2, out, n_buckets=2)

    d = diff_graphs(spark, out, from_version=1)  # to_version defaults current
    assert {r["entity_id"] for r in d["nodes_added"].collect()} == {4}
    assert {r["entity_id"] for r in d["nodes_removed"].collect()} == {3}
    changed = d["props_changed"].collect()
    assert [(r["entity_id"], r["props_from"], r["props_to"]) for r in changed] == [
        (1, {"k": "1"}, {"k": "2"})
    ]
    assert {tuple(r) for r in d["edges_added"].collect()} == {(1, "R", 4)}
    assert {tuple(r) for r in d["edges_removed"].collect()} == {(2, "R", 3)}
