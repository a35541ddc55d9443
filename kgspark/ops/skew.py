"""Explicit skew handling (SURVEY §4; north rule: "salting hot predicates").

Spark's two-phase hash aggregation already collapses duplicate-heavy keys
map-side, and AQE splits skewed join partitions; those cover most of the
reference's skew profile (乏力-like symptom fan-in, HAS_SYMPTOM = 58% of
edges). The residual cases that DO need explicit salting are aggregations
whose per-key state grows with the group (collect_set/collect_list over a
hot key) and joins against a skewed build side when AQE is off. This module
makes those explicit and testable.

``salted_collect_set(df, keys, value)``:
  phase 1 — groupBy(keys + salt) collect_set  (map-side state bounded by
            group/salt slice; hot keys spread over ``n_salts`` reducers)
  phase 2 — groupBy(keys) flatten+dedup the per-salt sets (n_salts rows per
            key, tiny)

``detect_hot_keys``: frequency scan -> broadcastable hot-key dimension, the
input to selective salting (only hot keys pay the second shuffle).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def detect_hot_keys(df: DataFrame, key_cols: list[str], min_count: int) -> DataFrame:
    """Keys whose frequency >= min_count. One two-phase count aggregate."""
    return (
        df.groupBy(*key_cols)
        .agg(F.count("*").alias("key_count"))
        .filter(F.col("key_count") >= min_count)
    )


def salted_collect_set(
    df: DataFrame, key_cols: list[str], value_col: str, n_salts: int = 32
) -> DataFrame:
    """collect_set per key with bounded per-reducer state on hot keys.

    Returns (key_cols..., values array<...> sorted). Equivalent to a plain
    ``groupBy(keys).agg(sort_array(collect_set(value)))`` — verified by test —
    but a key with 10^8 distinct values never lands on a single reducer in
    phase 1.
    """
    salted = df.withColumn(
        "_salt", F.pmod(F.xxhash64(F.col(value_col)), F.lit(n_salts))
    )
    partial = salted.groupBy(*key_cols, "_salt").agg(
        F.collect_set(value_col).alias("_vals")
    )
    return partial.groupBy(*key_cols).agg(
        F.sort_array(
            F.array_distinct(F.flatten(F.collect_list("_vals")))
        ).alias("values")
    )


def salted_count_distinct(
    df: DataFrame, key_cols: list[str], value_col: str, n_salts: int = 32
) -> DataFrame:
    """countDistinct per key without a single-reducer hot key: the salt
    shards the distinct-set state, phase 2 sums shard counts (shards are
    disjoint by construction since the salt is a function of the value)."""
    salted = df.withColumn(
        "_salt", F.pmod(F.xxhash64(F.col(value_col)), F.lit(n_salts))
    )
    partial = salted.groupBy(*key_cols, "_salt").agg(
        F.countDistinct(value_col).alias("_n")
    )
    return partial.groupBy(*key_cols).agg(F.sum("_n").alias("n_distinct"))


def broadcast_skew_join(
    facts: DataFrame, dim: DataFrame, on: list[str]
) -> DataFrame:
    """The no-salt-needed path for the reference's skew profile: when the
    dimension side fits in memory, broadcast it — hot fact keys never shuffle
    at all. (AQE skew-join handles the both-sides-big case; enabled in the
    session factory.)"""
    return facts.join(F.broadcast(dim), on)
