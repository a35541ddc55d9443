"""Crawl-wave scheduling: per-host budget honored in every wave, priority
ordering, hash-order determinism under partitioning, salt redraw."""

from __future__ import annotations

from collections import Counter

import pytest

from kgspark.ops.curation import crawl_waves

URLS = (
    [(f"https://a.example/p{i}", i) for i in range(7)]
    + [(f"https://b.example/q{i}", 100 + i) for i in range(3)]
    + [("https://c.example/only", 1)]
)


@pytest.fixture(scope="module")
def frontier(spark):
    return spark.createDataFrame(URLS, ["url", "prio"])


def test_budget_one_never_repeats_a_host_in_a_wave(spark, frontier):
    rows = crawl_waves(frontier).collect()
    per_wave = Counter((r["wave"], r["host"]) for r in rows)
    assert max(per_wave.values()) == 1
    assert all(r["slot"] == 0 for r in rows)
    # host a needs 7 waves (0..6); c fits in wave 0
    assert max(r["wave"] for r in rows if r["host"] == "a.example") == 6
    assert [r["wave"] for r in rows if r["host"] == "c.example"] == [0]


def test_budget_k_and_slots(spark, frontier):
    rows = crawl_waves(frontier, per_host_per_wave=3).collect()
    per_wave = Counter((r["wave"], r["host"]) for r in rows)
    assert max(per_wave.values()) <= 3
    assert max(r["wave"] for r in rows if r["host"] == "a.example") == 2
    slots = sorted(r["slot"] for r in rows if r["host"] == "a.example" and r["wave"] == 0)
    assert slots == [0, 1, 2]
    with pytest.raises(ValueError, match="per_host_per_wave"):
        crawl_waves(frontier, per_host_per_wave=0)


def test_priority_crawled_first(spark, frontier):
    rows = crawl_waves(frontier, priority_col="prio").collect()
    a = {r["url"]: r["wave"] for r in rows if r["host"] == "a.example"}
    # highest priority page gets wave 0, strictly decreasing by priority
    assert a["https://a.example/p6"] == 0
    assert a["https://a.example/p0"] == 6


def test_partitioning_invariant_and_salt_redraw(spark, frontier):
    a = sorted(map(tuple, crawl_waves(frontier.repartition(1)).collect()))
    b = sorted(map(tuple, crawl_waves(frontier.repartition(7)).collect()))
    assert a == b
    c = sorted(map(tuple, crawl_waves(frontier, salt="wave-v2").collect()))
    assert {t[:1] for t in a} == {t[:1] for t in c}  # same urls survive
    assert a != c  # but the draw changed some host-a order


def test_reserved_column_collision_raises(spark, frontier):
    for col in ("host", "slot", "wave", "_rk"):
        with pytest.raises(ValueError, match="rename or drop") as err:
            crawl_waves(frontier.withColumn(col, frontier.prio))
        assert col in str(err.value).split(";")[0]  # the reserved name is explained
