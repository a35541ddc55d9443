"""Deterministic sampling for training-data curation.

Both operators are hash-derived, never ``rand()``: a rerun, a different
partitioning, or a different cluster size selects the SAME rows (the
resume/determinism requirement that seeded per-partition RNG cannot give,
since Spark seeds `rand` per partition index).

- ``hash_sample``: keep a row iff pmod(xxhash64(key, salt), D) < rate*D —
  a pure narrow filter, pushes down to the scan side of any plan.
- ``stratified_sample``: per-stratum top-k by hash order — one shuffle on
  the stratum key; the window is rank-truncated so per-group state is the
  k-row heap, not the stratum. Strata are exactly the groupBy cardinality
  (e.g. language, source domain), so skew follows the stratum distribution —
  hot strata split fine because rank truncation happens after the sort
  within each partition's run (TakeOrdered-like behavior under AQE).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

_DENOM = 1_000_000


def hash_sample(
    df: DataFrame, key_col: str, rate: float, salt: str = "kgspark", hash_expr=None
) -> DataFrame:
    """Deterministic Bernoulli-style sample: keeps ~rate of rows, stable
    across runs/partitionings. 0 <= rate <= 1.

    ``hash_expr``: optional replacement hash Column in [0, 1_000_000); the
    default xxhash64 is the fast JVM path, an md5-derived expression makes
    the selection reproducible in other engines (see __spark_entry__).
    """
    if not 0 <= rate <= 1:
        raise ValueError(f"rate must be in [0, 1], got {rate}")
    bucket = (
        hash_expr
        if hash_expr is not None
        else F.pmod(F.xxhash64(F.col(key_col), F.lit(salt)), F.lit(_DENOM))
    )
    return df.filter(bucket < int(rate * _DENOM))


def stratified_sample(
    df: DataFrame, stratum_col: str, key_col: str, k: int, salt: str = "kgspark",
    hash_expr=None,
) -> DataFrame:
    """Deterministic k rows per stratum: rank by hash order within each
    stratum, keep rank <= k. Equal-size strata representation regardless of
    the corpus' stratum skew (the usual language-balancing step)."""
    order = (
        hash_expr
        if hash_expr is not None
        else F.xxhash64(F.col(key_col), F.lit(salt))
    )
    w = Window.partitionBy(stratum_col).orderBy(order, F.col(key_col))
    return (
        df.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") <= k)
        .drop("_rk")
    )


def weighted_sample_keys(
    df: DataFrame,
    weight_col: str,
    id_col: str,
    salt: str = "wsample-v1",
) -> DataFrame:
    """Efraimidis-Spirakis (2006) A-ES keys for weighted sampling WITHOUT
    replacement: taking the top-k rows by ``wsample_key`` is an exact
    weighted sample — each row's inclusion probability is proportional to
    its weight, with no sequential state (the reservoir paper's insight:
    key u^(1/w) with u ~ U(0,1) order-statistics out the sample).

    Deterministic, never ``rand()``: u derives from
    ``md5(id || '|' || salt)`` (rerun/partitioning-stable, redrawable via
    salt; 10^12 distinct values). Ranked in the log domain — maximizing
    u^(1/w) is maximizing ln(u)/w — with the weight NORMALIZED by the
    corpus max first: only relative weights matter to the ordering
    (dividing every w by a constant scales every key by it), and without
    the normalization a corpus of large weights (book-length n_chars ~
    10^6) would quantize ln(u)/w down to a handful of distinct integers
    and degenerate into id-order selection. After normalization the
    heaviest row spans the full ln(u) range, so the
    ``round(1e9 * ln(u)/w_norm)`` nanonats keep ~10^10 distinct key
    values. One engine-local ln of an identical double per row (the
    unigram_logprob pinning discipline) — the DuckDB oracle replays the
    ordering exactly. Residual ties break by id downstream.

    Returns the input plus ``wsample_key`` (bigint, HIGHER = more likely
    selected). Rows with NULL, NaN, infinite or non-positive weight get a
    NULL key — filter or assert upstream; silently ranking them would be a
    correctness trap (NaN comparisons are treacherous: ``NaN > 0`` is
    true in Spark). Pathological weight RATIOS are floored: w/wmax
    saturates at 1e-8 (below that the division can underflow to 0 —
    ANSI divide-by-zero — or the key overflow the bigint cast), so rows
    lighter than 1e-8 of the max share the 1e-8 scale and order by
    their hash draw u: deterministic, effectively-never-selected, and
    crash-free at any weight spread. Plan shape: the max-weight aggregate is one 1-row
    broadcast (the resample_temperature pattern — the corpus itself
    never shuffles); the top-k is the caller's (global
    ``orderBy(desc).limit(k)`` for driver-scale k, or
    ``weighted_sample_per_group`` below).

    100 TB note: selection pressure concentrates where weights do, but
    the KEY assignment is embarrassingly parallel; the only shuffle in
    the end-to-end sample is the top-k (TakeOrdered for global k,
    rank-truncated window per group) — same class as stratified_sample.
    """
    h = F.conv(
        F.substring(
            F.md5(F.concat(F.col(id_col).cast("string"), F.lit(f"|{salt}"))), 1, 15
        ),
        16,
        10,
    ).cast("bigint")
    # u in (0, 1), exactly representable the same way in every engine:
    # (k + 0.5) / 1e12 for integer k in [0, 1e12)
    udenom = 1_000_000_000_000
    u = (F.pmod(h, F.lit(udenom)).cast("double") + F.lit(0.5)) / F.lit(float(udenom))
    w = F.col(weight_col).cast("double")
    valid = w.isNotNull() & ~F.isnan(w) & (w > 0) & (w < F.lit(float("inf")))
    wmax = df.select(
        F.max(F.when(valid, w)).alias("_wmax")
    )
    wn = F.greatest(w / F.col("_wmax"), F.lit(1.0e-8))
    key = F.round(F.log(u) / wn * F.lit(1_000_000_000.0)).cast("bigint")
    return (
        df.crossJoin(F.broadcast(wmax))
        .withColumn(
            "wsample_key", F.when(valid, key).otherwise(F.lit(None).cast("bigint"))
        )
        .drop("_wmax")
    )


def weighted_sample_per_group(
    df: DataFrame,
    group_col: str,
    weight_col: str,
    id_col: str,
    k: int,
    salt: str = "wsample-v1",
) -> DataFrame:
    """Top-k A-ES weighted sample within each group (per-domain/per-lang
    quota filling proportional to quality weights). One window on the
    group key, rank-truncated; rows with non-positive weight are excluded
    (NULL keys sort last and are filtered). Returns the input plus
    ``wsample_key`` and ``is_sampled``."""
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    keyed = weighted_sample_keys(df, weight_col, id_col, salt=salt)
    win = Window.partitionBy(group_col).orderBy(
        F.col("wsample_key").desc_nulls_last(), F.col(id_col)
    )
    return keyed.withColumn(
        "is_sampled",
        (F.row_number().over(win) <= k) & F.col("wsample_key").isNotNull(),
    )
