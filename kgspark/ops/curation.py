"""Corpus-curation operators a web-scale training pipeline needs around the
KG engine: URL canonicalization, deterministic dataset splits, and
token-budgeted sequence packing. All pure ``pyspark.sql.functions`` —
narrow, whole-stage-codegen plans with no Python and no shuffle except
where stated; every operator has an exact ANSI-SQL replay (DuckDB oracle
in ``__spark_entry__.py``), so results are engine-portable.

The reference has no URL handling at all (its crawler stores raw strings,
spider_nursing_home.py:118-135); these are the north-rule-scale additions.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def normalize_url(col: Column) -> Column:
    """Canonical URL for exact URL-level dedup / join keys:

    - scheme and host lowercased; path/query case preserved;
    - default ports stripped (``:80`` for http, ``:443`` for https);
    - fragment dropped;
    - tracking parameters (``utm_*``, ``fbclid``, ``gclid``) dropped;
    - remaining query parameters sorted (order-insensitive equality);
    - trailing ``?`` removed when the query empties; empty path -> ``/``.

    Scheme-less inputs (``example.com/p``) pass through unchanged — a
    crawler key must never be silently mangled into ``://example.com/p``;
    callers wanting to canonicalize such strings prepend a scheme first.
    Tracking parameters are dropped whether or not they carry a value
    (``?fbclid`` and ``?fbclid=x`` both go).

    Pure string expressions (regexp_extract / split / array ops) — a narrow
    projection. Two urls that differ only in these respects normalize to
    the same string; everything else is preserved byte-for-byte.
    """
    scheme = F.lower(F.regexp_extract(col, r"^([A-Za-z][A-Za-z0-9+.-]*)://", 1))
    rest = F.regexp_replace(col, r"^[A-Za-z][A-Za-z0-9+.-]*://", "")
    hostport = F.regexp_extract(rest, r"^([^/?#]*)", 1)
    after_host = F.regexp_replace(rest, r"^[^/?#]*", "")
    host = F.lower(F.regexp_extract(hostport, r"^([^:]*)", 1))
    port = F.regexp_extract(hostport, r":(\d+)$", 1)
    keep_port = (
        (port != "")
        & ~((scheme == F.lit("http")) & (port == "80"))
        & ~((scheme == F.lit("https")) & (port == "443"))
    )
    authority = F.concat(host, F.when(keep_port, F.concat(F.lit(":"), port)).otherwise(F.lit("")))
    no_frag = F.regexp_replace(after_host, r"#.*$", "")
    path = F.regexp_extract(no_frag, r"^([^?]*)", 1)
    path = F.when(path == "", F.lit("/")).otherwise(path)
    query = F.regexp_extract(no_frag, r"\?(.*)$", 1)
    params = F.filter(
        F.split(query, "&"),
        lambda p: (p != "")
        & ~p.rlike(r"^(utm_[A-Za-z0-9_]*|fbclid|gclid)(=|$)"),
    )
    sorted_q = F.array_join(F.array_sort(params), "&")
    tail = F.when(sorted_q != "", F.concat(F.lit("?"), sorted_q)).otherwise(F.lit(""))
    return F.when(scheme == "", col).otherwise(
        F.concat(scheme, F.lit("://"), authority, path, tail)
    )


def url_host(col: Column) -> Column:
    """Lowercased host of a URL — the grouping key for host-level crawl
    policies (temperature resampling over domains, per-host caps,
    blocklist joins). Scheme optional (``example.com/p`` -> ``example.com``),
    userinfo and port stripped, pure string expressions (narrow
    projection). Inputs with no host-ish prefix give ``''``.
    """
    rest = F.regexp_replace(col, r"^[A-Za-z][A-Za-z0-9+.-]*://", "")
    hostport = F.regexp_extract(rest, r"^([^/?#]*)", 1)
    no_user = F.regexp_replace(hostport, r"^[^/@]*@", "")
    return F.lower(F.regexp_extract(no_user, r"^([^:]*)", 1))


def split_assign(
    col: Column, salt: str = "split-v1", val_pct: int = 5, test_pct: int = 5
) -> Column:
    """Deterministic train/val/test assignment from the key alone.

    bucket = first-15-hex-digits of md5(key || '|' || salt) as bigint,
    mod 100 — engine-portable (the DuckDB oracle replays it exactly),
    partitioning-invariant, and stable across reruns/resumes (the same
    document NEVER migrates between splits, the property that keeps eval
    sets uncontaminated as the corpus grows). A new salt is a fresh split.
    ``val_pct``/``test_pct`` are integer percents; the rest is train.
    """
    h = F.conv(
        F.substring(F.md5(F.concat(col.cast("string"), F.lit(f"|{salt}"))), 1, 15),
        16,
        10,
    ).cast("bigint")
    bucket = F.pmod(h, F.lit(100))
    return (
        F.when(bucket < val_pct, F.lit("val"))
        .when(bucket < val_pct + test_pct, F.lit("test"))
        .otherwise(F.lit("train"))
    )


def ngram_hashes(text: Column, n: int = 13, hash: str = "xxhash64") -> Column:
    """Hashes of a document's word ``n``-grams (whitespace tokens,
    lowercased) as one generated array column — all JVM-side expressions
    (split / sequence / transform / slice), no Python, no explode yet.

    ``hash="xxhash64"`` (production) gives ``array<bigint>`` — 8-byte join
    keys, half the shuffle/broadcast bytes of hex digests at corpus scale.
    ``hash="md5"`` gives ``array<string>`` hex — the engine-portable variant
    a DuckDB/ANSI oracle replays byte-for-byte. Documents shorter than
    ``n`` tokens yield an empty array.
    """
    toks = F.split(F.trim(F.regexp_replace(F.lower(text), r"\s+", " ")), " ")
    starts = F.when(
        F.size(toks) >= n, F.sequence(F.lit(1), F.size(toks) - F.lit(n - 1))
    ).otherwise(F.array().cast("array<int>"))
    if hash == "xxhash64":
        return F.transform(starts, lambda i: F.xxhash64(F.concat_ws(" ", F.slice(toks, i, n))))
    if hash == "md5":
        return F.transform(starts, lambda i: F.md5(F.concat_ws(" ", F.slice(toks, i, n))))
    raise ValueError(f"hash must be 'xxhash64' or 'md5', got {hash!r}")


def decontaminate(
    corpus: DataFrame,
    eval_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 13,
    hash: str = "xxhash64",
    broadcast_eval: bool = True,
) -> DataFrame:
    """Benchmark decontamination: mark training documents that share any
    word ``n``-gram with an evaluation set (the GPT-3/Llama-style 13-gram
    rule — a training pipeline that skips this reports inflated evals).

    Returns ``corpus`` plus ``contaminated_ngrams`` (distinct eval n-grams
    the document contains, 0 if clean) and ``is_contaminated``. Filter on
    ``~is_contaminated`` to drop, or keep the count for audit/thresholding.

    100 TB shape: the eval side (a benchmark suite — thousands of docs,
    ~1e7 distinct 13-gram hashes ≈ 80 MB as int64) is distinct-reduced and
    broadcast, so the corpus-side explode -> inner join runs map-side with
    NO shuffle of corpus data; the only aggregation is groupBy(id) over the
    (rare) hits. Set ``broadcast_eval=False`` when the eval set exceeds
    broadcast size — the join becomes a shuffle hash join on the 8-byte
    key. The final attach joins hit-counts (tiny) back to the corpus —
    AQE turns it into a broadcast join. The reference has no
    decontamination (no training concept at all); north-rule-scale
    addition.
    """
    ng = ngram_hashes(F.col(text_col), n=n, hash=hash)
    ev = (
        eval_df.filter(F.col(text_col).isNotNull())
        .select(F.explode(ngram_hashes(F.col(text_col), n=n, hash=hash)).alias("_ng"))
        .distinct()
    )
    if broadcast_eval:
        ev = F.broadcast(ev)
    hits = (
        corpus.filter(F.col(text_col).isNotNull())
        .select(F.col(id_col), F.explode(ng).alias("_ng"))
        .join(ev, "_ng")
        .groupBy(id_col)
        .agg(F.count_distinct("_ng").alias("contaminated_ngrams"))
    )
    return (
        corpus.join(hits, id_col, "left")
        .withColumn("contaminated_ngrams", F.coalesce("contaminated_ngrams", F.lit(0)))
        .withColumn("is_contaminated", F.col("contaminated_ngrams") > 0)
    )


def pack_greedy_contiguous(
    df: DataFrame,
    token_col: str,
    order_col: str,
    budget: int,
    partition_col: str | None = None,
) -> DataFrame:
    """Token-budgeted sequence packing: assign each document a ``pack_id``
    so consecutive documents (in ``order_col`` order, within
    ``partition_col`` if given) fill ~``budget``-token packs — the standard
    pre-tokenized-batch construction for LLM training shards.

    Deterministic contiguous fill: pack_id = floor(exclusive-running-sum /
    budget). A pack can overflow by at most one document (the straddling
    doc belongs to the pack its first token lands in) — the scheme every
    engine can replay exactly (one window sum; the oracle is plain SQL),
    unlike stateful first-fit which is neither expressible nor
    partitioning-stable. Oversized single documents (> budget) get a pack
    of their own. Returns the input plus (pack_id, pack_offset).

    Shuffle shape: one window over (partition_col, order_col) — at corpus
    scale partition by shard/bucket so no global sort exists.
    """
    part = [partition_col] if partition_col else []
    w = (
        Window.partitionBy(*part)
        .orderBy(order_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    running_incl = F.sum(token_col).over(w)
    before = (running_incl - F.col(token_col)).cast("long")
    return df.withColumn("pack_id", F.floor(before / F.lit(budget)).cast("long")).withColumn(
        "pack_offset", F.pmod(before, F.lit(budget)).cast("long")
    )


def resample_temperature(
    df: DataFrame,
    group_col: str,
    id_col: str,
    alpha: float = 0.5,
    salt: str = "mix-v1",
    modulus: int = 1_000_000,
) -> DataFrame:
    """Deterministic temperature-based domain rebalancing for training
    mixes: downsample each group (domain/host/source) so expected kept
    counts are proportional to ``n_g ** alpha`` — ``alpha=1`` keeps the
    natural mix, ``alpha=0`` flattens every group toward the smallest,
    values between (0.5 here, the multilingual-sampling convention)
    dampen dominant domains without erasing them.

    Per-group acceptance rate ``a_g = (n_min / n_g) ** (1 - alpha)``
    (downsample-only: the smallest group keeps everything). Acceptance is
    a pure function of the document key: keep iff
    ``md5_bucket(id || '|' || salt) % modulus < floor(round(a_g, 6) *
    modulus)`` — rerun/partitioning-stable (a document never flips in or
    out as the corpus is re-read), engine-portable (the DuckDB oracle
    replays it; the 6-decimal round pins the pow result across IEEE
    implementations), and redrawable via ``salt``.

    Returns the input plus ``group_n`` (group size), ``accept_ppm``
    (per-``modulus`` integer threshold) and ``is_kept``. Shuffle shape:
    one groupBy count over the group key, a 1-row global min broadcast,
    and a counts-table join back (domain-cardinality-sized — AQE
    broadcasts it); the corpus itself never shuffles.
    """
    counts = df.groupBy(group_col).agg(F.count(F.lit(1)).alias("group_n"))
    n_min = counts.agg(F.min("group_n").alias("_n_min"))
    rate = F.round(
        F.pow(F.col("_n_min").cast("double") / F.col("group_n"), F.lit(1.0 - alpha)), 6
    )
    thresholds = counts.crossJoin(F.broadcast(n_min)).select(
        group_col,
        "group_n",
        F.least(F.lit(modulus), F.floor(rate * modulus)).cast("long").alias("accept_ppm"),
    )
    h = F.conv(
        F.substring(
            F.md5(F.concat(F.col(id_col).cast("string"), F.lit(f"|{salt}"))), 1, 15
        ),
        16,
        10,
    ).cast("bigint")
    return df.join(thresholds, group_col).withColumn(
        "is_kept", F.pmod(h, F.lit(modulus)) < F.col("accept_ppm")
    )


def build_training_shards(
    spark,
    docs: DataFrame,
    out_dir: str,
    lang: str | None = "en",
    min_quality: float = 0.3,
    neardup_threshold: float = 0.8,
    budget: int = 2048,
    n_shards: int = 16,
    val_pct: int = 5,
    test_pct: int = 5,
    salt: str = "split-v1",
    eval_docs: DataFrame | None = None,
    decontam_n: int = 13,
    token_counter: str = "ws",
    gates: dict | None = None,
) -> dict:
    """The end-to-end curation deliverable: (doc_id, text) corpus ->
    [opt-in gates: blocklist -> encoding -> Gopher] -> language gate ->
    [opt-in cross-doc line dedup] -> quality gate -> exact dedup ->
    MinHash near-dup -> [optional eval decontamination] -> deterministic
    split -> token-budgeted packing -> parquet shards partitioned by
    (split, shard).

    ``gates`` opts additional verified operators into the chain (r04 —
    standalone-green gates a real pipeline would compose):

    - ``"blocklist": [domain, ...]`` — drop documents whose url host is a
      (sub)domain of a blocked domain (``blocklist_filter``; requires a
      ``url`` column). Host-cardinality join, corpus never shuffles.
    - ``"encoding_max_ppm": int`` — drop documents at or above that
      mojibake density (``textstats.encoding_bad_col`` — the exact
      ``encoding_quality`` verdict as a pure filter expression).
    - ``"gopher": True`` — keep only documents passing every Gopher rule
      (``textstats.gopher_flag_cols`` — same expressions as
      ``gopher_quality_flags``).
    - ``"line_dedup": True | {min_chars:..., min_docs:...}`` — C4-style
      cross-document boilerplate-line removal (``dedup_lines``), applied
      after the cheap predicate gates and BEFORE quality scoring so
      quality judges the cleaned text. The only gate that rewrites text
      (and the only one that shuffles — hash-keyed hit positions).

    Predicate gates are plain JVM filter expressions fused into the same
    single raw-corpus pass as the lang/quality gates — per-gate survivor
    counts ride ``observe()`` accumulators, zero extra scans; the order
    is cheapest-first so each stage sees the smallest surviving set.

    Pass ``eval_docs`` (a (doc_id, text) benchmark set) to drop documents
    sharing any ``decontam_n``-gram with it (``decontaminate``) — the gate
    runs after dedup so the n-gram explode sees the smallest surviving set.
    ``token_counter``: ``"ws"`` (whitespace, default) or ``"bpe"`` (the
    BPE-ish regex estimate) decides the token budget the packer fills —
    use ``"bpe"`` when the trainer's sequence length is subword-denominated.

    Every stage is one of the engine's verified operators composed in the
    canonical order (cheapest gates first, so dedup — the only shuffling
    stage — sees the smallest surviving set). Shard assignment is
    ``pmod(xxhash64(doc_id), n_shards)`` and packing restarts per
    (split, shard), so the window sort is per-shard, never global, and the
    output is identical at any parallelism. Returns per-stage surviving
    counts plus per-split totals — the run's audit record (written to
    ``out_dir/_stats.json`` as well).

    Stats cost ZERO extra corpus passes: per-stage counts ride the plan as
    ``observe()`` accumulators instead of per-stage ``.count()`` actions
    (the round-2 finding: ~6 raw-corpus recomputations). The raw input is
    read exactly ONCE — the gated corpus is materialized with
    ``localCheckpoint`` (which also fills the gate-stage observations) and
    every dedup/pack/write stage reads that materialization; the dedup
    counts ride the downstream actions those stages already run.
    """
    import json

    from pyspark.sql import Observation

    from kgspark.ops.dedup import exact_dedup, minhash_dedup
    from kgspark.ops.textstats import (
        lang_id,
        quality_features,
        token_count_bpe,
        token_count_ws,
    )

    if token_counter not in ("ws", "bpe"):
        raise ValueError(f"token_counter must be 'ws' or 'bpe', got {token_counter!r}")
    count_tokens = token_count_ws if token_counter == "ws" else token_count_bpe
    # None/False mean "gate disabled" for EVERY key (identity check so
    # encoding_max_ppm=0 stays a valid, strictest-possible threshold) —
    # otherwise gates={"line_dedup": False} would run the most expensive
    # gate by mere key presence while {"gopher": False} skipped it
    gates = {
        k: v for k, v in (gates or {}).items() if v is not None and v is not False
    }
    unknown = set(gates) - {"blocklist", "encoding_max_ppm", "gopher", "line_dedup"}
    if unknown:
        raise ValueError(f"unknown gates: {sorted(unknown)}")
    if "blocklist" in gates and "url" not in docs.columns:
        raise ValueError("the blocklist gate needs a 'url' column on the corpus")

    n = F.count(F.lit(1)).alias("n")
    obs_in, obs_lang, obs_qual = Observation(), Observation(), Observation()
    obs_exact, obs_nd = Observation(), Observation()
    gate_obs: list[tuple[str, Observation]] = []

    d = docs.observe(obs_in, n).filter(F.col("text").isNotNull())
    if "blocklist" in gates:
        bl = docs.sparkSession.createDataFrame(
            [(x,) for x in gates["blocklist"]], "domain string"
        )
        d = blocklist_filter(
            d.withColumn("_host", url_host(F.col("url"))), bl, host_col="_host"
        )
        d = d.filter(~F.col("is_blocked")).drop("is_blocked", "_host")
        ob = Observation()
        d = d.observe(ob, n)
        gate_obs.append(("after_blocklist", ob))
    if "encoding_max_ppm" in gates:
        from kgspark.ops.textstats import encoding_bad_col

        d = d.filter(~encoding_bad_col(F.col("text"), gates["encoding_max_ppm"]))
        ob = Observation()
        d = d.observe(ob, n)
        gate_obs.append(("after_encoding", ob))
    if gates.get("gopher"):
        from kgspark.ops.textstats import gopher_flag_cols

        passed = None
        for c in gopher_flag_cols(F.col("text")).values():
            c = F.coalesce(c, F.lit(False))
            passed = c if passed is None else (passed & c)
        d = d.filter(passed)
        ob = Observation()
        d = d.observe(ob, n)
        gate_obs.append(("after_gopher", ob))
    if lang is not None:
        d = lang_id(d).filter(F.col("lang_pred") == lang).drop("lang_pred")
    d = d.observe(obs_lang, n)
    obs_ld = None
    if "line_dedup" in gates:
        # the rewrite stage: materialize the gate survivors first (fills
        # every upstream observation under one controlled action), then
        # dedup_lines' two scans read that materialization
        d = d.select("doc_id", "text").localCheckpoint(eager=True)
        cfg = gates["line_dedup"] if isinstance(gates["line_dedup"], dict) else {}
        obs_ld = Observation()
        d = (
            dedup_lines(d, **cfg)
            .select("doc_id", F.col("text_deduped").alias("text"), "lines_removed")
            .observe(
                obs_ld,
                n,
                F.sum("lines_removed").alias("lines_removed"),
            )
            .select("doc_id", "text")
        )
    d = quality_features(d).filter(F.col("quality_score") >= min_quality)
    d = d.select("doc_id", "text").observe(obs_qual, n)
    # THE raw-corpus pass: materialize the gated survivors; filling the
    # gate observations comes free with it
    d = d.localCheckpoint(eager=True)
    stats: dict = {
        "input": int(obs_in.get["n"]),
        **{k: int(ob.get["n"]) for k, ob in gate_obs},
        "after_lang": int(obs_lang.get["n"]),
        "after_quality": int(obs_qual.get["n"]),
    }
    if obs_ld is not None:
        stats["after_line_dedup"] = int(obs_ld.get["n"])
        stats["lines_removed_total"] = int(obs_ld.get["lines_removed"] or 0)
    keep_exact = exact_dedup(d).select("doc_id")
    # checkpoint again after the exact-dedup semi-join: fills obs_exact under
    # a single controlled execution (minhash's internal partial executions
    # would otherwise fill it with an empty metrics row) AND keeps minhash's
    # several internal actions from re-running the semi-join each time
    d = (
        d.join(keep_exact, "doc_id", "left_semi")
        .observe(obs_exact, n)
        .localCheckpoint(eager=True)
    )
    reps = minhash_dedup(d, threshold=neardup_threshold).filter("is_representative")
    # same pattern: the eager checkpoint is the controlled first action that
    # fills obs_nd (a dynamic-partition write fills it with an empty metrics
    # row instead), and the final pack+write reads materialized blocks
    # rather than re-running the near-dup semi-join
    d = (
        d.join(reps.select("doc_id"), "doc_id", "left_semi")
        .observe(obs_nd, n)
        .localCheckpoint(eager=True)
    )

    stats["after_exact_dedup"] = int(obs_exact.get["n"])
    stats["after_neardup"] = int(obs_nd.get["n"])

    if eval_docs is not None:
        obs_decon = Observation()
        d = (
            decontaminate(d, eval_docs, n=decontam_n)
            .filter(~F.col("is_contaminated"))
            .select("doc_id", "text")
            .observe(obs_decon, n)
            .localCheckpoint(eager=True)
        )
        stats["after_decontam"] = int(obs_decon.get["n"])

    cur = d.select(
        "doc_id",
        "text",
        count_tokens(F.col("text")).cast("long").alias("n_tokens"),
        split_assign(F.col("doc_id"), salt=salt, val_pct=val_pct, test_pct=test_pct).alias("split"),
        F.pmod(F.xxhash64("doc_id"), F.lit(n_shards)).cast("int").alias("shard"),
    ).withColumn("_grp", F.concat_ws("|", "split", "shard"))
    packed = pack_greedy_contiguous(
        cur, "n_tokens", "doc_id", budget=budget, partition_col="_grp"
    ).drop("_grp")
    (
        packed.repartition("split", "shard")
        .sortWithinPartitions("pack_id", "pack_offset")
        .write.mode("overwrite")
        .partitionBy("split", "shard")
        .parquet(f"{out_dir}/shards")
    )
    if stats.get("after_decontam", stats["after_neardup"]) > 0:
        written = spark.read.parquet(f"{out_dir}/shards")
        for r in written.groupBy("split").agg(
            F.count("*").alias("docs"), F.sum("n_tokens").alias("tokens")
        ).collect():
            stats[f"{r['split']}_docs"] = int(r["docs"])
            stats[f"{r['split']}_tokens"] = int(r["tokens"])
    # else: every document was gated out — a fully-empty partitioned write
    # leaves no parquet footers to read back (schema inference would throw);
    # the stats record alone says what happened
    from pathlib import Path

    Path(out_dir).mkdir(parents=True, exist_ok=True)
    Path(f"{out_dir}/_stats.json").write_text(json.dumps(stats, sort_keys=True))
    return stats


def export_jsonl_shards(
    packed: DataFrame, out_dir: str, compression: str = "gzip"
) -> None:
    """Packed curation output -> compressed JSON-Lines shards partitioned
    by (split, shard) — the layout training data loaders consume directly
    (one JSON object per line under hive-style split=/shard= directories).

    Rows are sorted within partitions by (pack_id, pack_offset), so a
    sequential reader sees documents in pack order without any
    loader-side sort. Same plan shape as the parquet sink (one shuffle on
    the partition keys); only the encoder differs — at 100 TB prefer the
    parquet shards and export JSONL per-consumer, since JSON bytes are
    ~3x parquet and gzip is not splittable (one file per (split, shard)
    task is the parallelism unit, which the repartition pins).
    """
    (
        packed.repartition("split", "shard")
        .sortWithinPartitions("pack_id", "pack_offset")
        .write.mode("overwrite")
        .partitionBy("split", "shard")
        .option("compression", compression)
        .json(out_dir)
    )


def repeated_spans(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 20,
    min_count: int = 2,
    hash: str = "xxhash64",
) -> DataFrame:
    """Span-level duplicate text detection (the Lee et al. "Deduplicating
    Training Data" shape, re-expressed relationally): find every maximal
    token interval of a document that participates in an ``n``-gram
    occurring at least ``min_count`` times ACROSS THE CORPUS — boilerplate
    headers, licence blocks, templated paragraphs that document-level
    near-dup cannot see. Returns ``(id, span_start, span_end)`` in 1-based
    token indices, overlapping/adjacent hits merged per document.

    Plan: posexplode the JVM-generated n-gram hash column -> one corpus
    groupBy(hash) count -> hot set semi-joins back to (id, position) hits
    (hits ≪ grams: only repeated material survives) -> classic
    gaps-and-islands merge with one window per document (running max of
    interval end). Shuffles: the gram count (map-side combinable: repeated
    grams collapse before the exchange) and the per-doc window — both on
    8-byte keys. ``hash="md5"`` is the engine-portable variant the DuckDB
    oracle replays.
    """
    grams = docs.filter(F.col(text_col).isNotNull()).select(
        F.col(id_col),
        F.posexplode(ngram_hashes(F.col(text_col), n=n, hash=hash)).alias("_p0", "_h"),
    ).select(F.col(id_col), (F.col("_p0") + 1).alias("pos"), "_h")
    hot = (
        grams.groupBy("_h")
        .agg(F.count(F.lit(1)).alias("_c"))
        .filter(F.col("_c") >= min_count)
        .select("_h")
    )
    hits = grams.join(hot, "_h", "left_semi").select(id_col, "pos")
    return _merge_hit_islands(hits, id_col, n)


def _merge_hit_islands(hits: DataFrame, id_col: str, n: int) -> DataFrame:
    """(id, pos) n-gram hit positions -> merged 1-based token intervals
    ``(id, span_start, span_end)``: the gaps-and-islands window shared by
    repeated_spans and contaminated_spans (one window per document —
    running max of interval end splits islands)."""
    w = Window.partitionBy(id_col).orderBy("pos")
    prev_end = F.max(F.col("pos") + F.lit(n - 1)).over(
        w.rowsBetween(Window.unboundedPreceding, -1)
    )
    flagged = hits.withColumn(
        "_new", (F.col("pos") > F.coalesce(prev_end, F.lit(0)) + 1).cast("int")
    ).withColumn(
        "_island", F.sum("_new").over(w.rowsBetween(Window.unboundedPreceding, 0))
    )
    return (
        flagged.groupBy(id_col, "_island")
        .agg(
            F.min("pos").cast("long").alias("span_start"),
            (F.max("pos") + F.lit(n - 1)).cast("long").alias("span_end"),
        )
        .select(id_col, "span_start", "span_end")
    )


def contaminated_spans(
    corpus: DataFrame,
    eval_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 13,
    hash: str = "xxhash64",
    broadcast_eval: bool = True,
) -> DataFrame:
    """SURGICAL decontamination: instead of dropping every training
    document that shares an eval n-gram (``decontaminate`` — the
    GPT-3/Llama document-level rule, which at 13 tokens of overlap
    discards entire books), locate the exact token intervals that
    overlap the evaluation set — ``(id, span_start, span_end)``,
    overlapping/adjacent hits merged — and feed them to
    ``trim_repeated_spans(docs, spans)`` to excise the leaked material
    while keeping the rest of the document. The span-removal shape of
    Lee et al. applied to eval overlap instead of corpus repeats.

    Same 100 TB plan as ``decontaminate``: the distinct eval-hash set
    broadcasts (or shuffle-joins with ``broadcast_eval=False``), so the
    corpus never shuffles for the probe; only (id, pos) HIT rows — rare
    by construction — reach the per-document islands window
    (``_merge_hit_islands``, the repeated_spans machinery).
    """
    grams = (
        corpus.filter(F.col(text_col).isNotNull())
        .select(
            F.col(id_col),
            F.posexplode(ngram_hashes(F.col(text_col), n=n, hash=hash)).alias(
                "_p0", "_h"
            ),
        )
        .select(F.col(id_col), (F.col("_p0") + 1).alias("pos"), "_h")
    )
    ev = (
        eval_df.filter(F.col(text_col).isNotNull())
        .select(
            F.explode(ngram_hashes(F.col(text_col), n=n, hash=hash)).alias("_h")
        )
        .distinct()
    )
    if broadcast_eval:
        ev = F.broadcast(ev)
    hits = grams.join(ev, "_h", "left_semi").select(id_col, "pos")
    return _merge_hit_islands(hits, id_col, n)


def trim_repeated_spans(
    docs: DataFrame,
    spans: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Rebuild each document's text with the ``repeated_spans`` intervals
    removed: tokens whose 1-based position falls inside any span are
    dropped, the rest re-join with single spaces into ``text_trimmed``
    (whitespace-normalized like every dedup key in this engine).

    The spans side aggregates to one array per document (span counts are
    tiny — merged intervals), joins back (AQE-broadcast), and the token
    filter is a pure JVM expression: indexed transform -> exists() against
    the span array -> concat_ws. Documents with no spans pass through
    unchanged (normalized); the corpus never shuffles.
    """
    per_doc = spans.groupBy(id_col).agg(
        F.collect_list(F.struct("span_start", "span_end")).alias("_spans")
    )
    toks = F.split(
        F.trim(F.regexp_replace(F.lower(F.col(text_col)), r"\s+", " ")), " "
    )
    indexed = F.transform(toks, lambda t, i: F.struct(t.alias("t"), (i + 1).alias("i")))
    kept = F.filter(
        indexed,
        lambda x: ~F.exists(
            F.coalesce(
                F.col("_spans"),
                F.array().cast("array<struct<span_start:long,span_end:long>>"),
            ),
            lambda sp: (x["i"] >= sp["span_start"]) & (x["i"] <= sp["span_end"]),
        ),
    )
    return (
        docs.join(per_doc, id_col, "left")
        .withColumn(
            "text_trimmed",
            F.when(
                F.col(text_col).isNotNull(),
                F.concat_ws(" ", F.transform(kept, lambda x: x["t"])),
            ),
        )
        .drop("_spans")
    )


def ngram_novelty(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 5,
    hash: str = "xxhash64",
) -> DataFrame:
    """Per-document n-gram novelty — the originality complement of
    ``repeated_spans``: ``(id, n_grams, n_unique, novelty_ppm)`` where
    ``n_unique`` counts the document's word n-grams that occur EXACTLY
    ONCE in the whole corpus and ``novelty_ppm = (10**6 * n_unique) div
    n_grams``. Low novelty = templated/boilerplate/near-dup material
    even when no single span crosses the repeated_spans threshold; a
    standing curation-dashboard column next to quality_score. Documents
    shorter than ``n`` tokens have no grams and are omitted (no signal).

    Plan — NO join-back of the corpus-sized gram table: a gram with
    corpus count 1 belongs to exactly one document, so the count
    aggregate carries ``min(id)`` and unique grams re-aggregate straight
    to their owner — one map-side-combinable groupBy(hash) + one
    groupBy(id), plus a scan-side per-doc total (array size, no
    explode). Shuffle volume: distinct gram hashes once, nothing else.
    """
    ng = ngram_hashes(F.col(text_col), n=n, hash=hash)
    # n_grams = size(tokens) - n + 1 arithmetically (== size(ng) by the
    # ngram_hashes contract) — avoids evaluating the hash transform a
    # second time just to measure its length
    toks = F.split(
        F.trim(F.regexp_replace(F.lower(F.col(text_col)), r"\s+", " ")), " "
    )
    totals = (
        docs.filter(F.col(text_col).isNotNull())
        .select(F.col(id_col), (F.size(toks) - F.lit(n - 1)).alias("n_grams"))
        .filter(F.col("n_grams") >= 1)
    )
    uniq = (
        docs.filter(F.col(text_col).isNotNull())
        .select(F.col(id_col), F.explode(ng).alias("_h"))
        .groupBy("_h")
        .agg(F.count(F.lit(1)).alias("_c"), F.min(id_col).alias(id_col))
        .filter(F.col("_c") == 1)
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_unique"))
    )
    return (
        totals.join(uniq, id_col, "left")
        .withColumn("n_unique", F.coalesce("n_unique", F.lit(0)).cast("long"))
        .selectExpr(
            id_col,
            "n_grams::bigint AS n_grams",
            "n_unique",
            "((1000000 * n_unique) div n_grams)::bigint AS novelty_ppm",
        )
    )


def host_suffixes(col: Column) -> Column:
    """Every dot-suffix of a hostname as one generated array column:
    ``a.b.example.com`` -> ``[a.b.example.com, b.example.com, example.com,
    com]`` — the join keys for registrable-domain blocklists, where an
    entry must match the host itself OR any parent domain. Pure JVM
    expressions (split / sequence / slice / array_join); the array is
    label-count bounded (hostnames have <= ~10 labels), so the explode
    fan-out is a small constant.
    """
    labels = F.split(col, r"\.")
    n = F.size(labels)
    return F.transform(
        F.sequence(F.lit(1), n),
        lambda i: F.array_join(F.slice(labels, i, n - i + 1), "."),
    )


def blocklist_filter(
    df: DataFrame,
    blocklist: DataFrame,
    host_col: str = "host",
    domain_col: str = "domain",
) -> DataFrame:
    """Domain blocklist filtering with subdomain semantics — the crawl-
    policy gate: a row is blocked when its host, lowercased, equals a
    blocklist domain or is a subdomain of one (``evil.com`` blocks
    ``a.b.evil.com``). Returns the input plus ``is_blocked`` (auditable;
    callers filter) — never a silent drop.

    Plan — blocked-ness is a property of the host alone, so the corpus
    never shuffles: distinct hosts (host-cardinality, map-side
    combinable) -> bounded suffix explode -> left-semi join the blocklist
    (AQE broadcast: blocklists are dimension-scale) -> the blocked-host
    set joins back to the intact rows, again broadcast-sized. Blocklist
    entries are bare lowercase domains (no ``*.`` wildcards — subdomain
    matching is the semantics already).
    """
    hosts = df.select(F.lower(F.col(host_col)).alias("_h")).distinct()
    sfx = hosts.select("_h", F.explode(host_suffixes(F.col("_h"))).alias("_s"))
    bl = blocklist.select(F.lower(F.col(domain_col)).alias("_s")).distinct()
    blocked = (
        sfx.join(bl, "_s", "left_semi")
        .select("_h")
        .distinct()
        .withColumn("_blocked", F.lit(True))
    )
    return (
        df.join(blocked, F.lower(F.col(host_col)) == F.col("_h"), "left")
        .withColumn("is_blocked", F.coalesce(F.col("_blocked"), F.lit(False)))
        .drop("_h", "_blocked")
    )


def dedup_lines(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_chars: int = 15,
    min_docs: int = 2,
) -> DataFrame:
    """Cross-document duplicated-line removal — the C4 / RefinedWeb
    curation step document-level near-dup cannot express: a line (newline-
    delimited) whose trimmed length is at least ``min_chars`` and that
    appears verbatim in at least ``min_docs`` DISTINCT documents is
    boilerplate (cookie banners, nav bars, licence footers) and is deleted
    from every document it appears in; short lines are never eligible.
    Returns ``(id, text_deduped, lines_removed)`` with the surviving lines
    rejoined by ``\\n`` in original order (``''`` when nothing survives;
    NULL text passes through as NULL with 0 removed).

    Plan — NO raw line text ever shuffles (r04 fix: pass 1 previously
    aggregated on the line STRING, shuffling distinct (line, doc) pairs —
    essentially the whole eligible corpus text once; keying both passes on
    ``xxhash64(line)`` cuts pass-1 shuffle bytes by ~mean-line-length/8,
    accepting the 64-bit collision odds exactly as C4 does):
    pass 1: posexplode lines -> one groupBy(xxhash64(line)) distinct-doc
    count (partial distinct collapses repeats map-side) -> the common-hash
    set — 8 bytes per key on the wire; pass 2: the exploded line hashes
    semi-join that set (AQE broadcast — real corpora have boilerplate
    lines ≪ lines) and only the HIT positions aggregate per document
    (tiny arrays), joining back to the intact docs where a pure JVM
    indexed-filter + array_join rebuilds the text. Two corpus scans,
    shuffle bytes proportional to line COUNT (not text bytes) in pass 1
    and removed lines in pass 2. The whole operator is
    ``pyspark.sql.functions``; the DuckDB oracle in ``__spark_entry__.py``
    replays the semantics on raw lines (identical output short of a
    64-bit hash collision).
    """
    lines = docs.filter(F.col(text_col).isNotNull()).select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), "\n", -1)).alias("pos", "line"),
    ).select(
        id_col,
        "pos",
        F.xxhash64("line").alias("_lh"),
        F.length(F.trim(F.col("line"))).alias("_ll"),
    )
    common = (
        lines.filter(F.col("_ll") >= min_chars)
        .groupBy("_lh")
        .agg(F.countDistinct(id_col).alias("_nd"))
        .filter(F.col("_nd") >= min_docs)
        .select("_lh")
    )
    # common holds only hashes of >=min_chars lines; a hash hit implies
    # eligibility (mod the accepted 2^-64 collision odds)
    hits = lines.join(common, "_lh", "left_semi").select(id_col, "pos")
    per_doc = hits.groupBy(id_col).agg(
        F.collect_list("pos").alias("_rm"),
        F.count(F.lit(1)).cast("long").alias("_n_rm"),
    )
    parts = F.split(F.col(text_col), "\n", -1)
    indexed = F.transform(parts, lambda t, i: F.struct(t.alias("t"), i.alias("i")))
    rm = F.coalesce(F.col("_rm"), F.array().cast("array<int>"))
    kept = F.filter(indexed, lambda x: ~F.array_contains(rm, x["i"]))
    return docs.join(per_doc, id_col, "left").select(
        id_col,
        F.when(
            F.col(text_col).isNotNull(),
            F.array_join(F.transform(kept, lambda x: x["t"]), "\n"),
        ).alias("text_deduped"),
        F.coalesce(F.col("_n_rm"), F.lit(0)).cast("long").alias("lines_removed"),
    )


def cap_per_group(
    df: DataFrame,
    group_col: str,
    id_col: str,
    k: int,
    salt: str = "cap-v1",
) -> DataFrame:
    """Deterministic per-group cap — at most ``k`` rows survive per group
    (per-host crawl budgets, per-domain training caps). Selection is a
    hash order over the key (md5 of ``id || '|' || salt``, ties by id), so
    the kept set is rerun/partitioning-stable, unbiased by input order,
    and redrawable via ``salt`` — never ``rand()``. Returns the input plus
    ``is_kept``. One window per group; at corpus scale the group key is
    host-cardinality, so no global sort exists.
    """
    h = F.md5(F.concat(F.col(id_col).cast("string"), F.lit(f"|{salt}")))
    w = Window.partitionBy(group_col).orderBy(h, F.col(id_col))
    return df.withColumn(
        "is_kept", F.row_number().over(w) <= k
    )


# --- Bloom-filter decontamination -----------------------------------------

_BLOOM_MAX_BITS = 1 << 22  # 65,536 words -> ~512 KB inlined literal array
_BLOOM_CONFIG_IDX = -1  # sentinel row carrying the config fingerprint


def _bloom_pos(ng: Column, j: int, m_bits: int, salt: str) -> Column:
    """Bit position j for an n-gram hash: portable 60-bit md5 int mod m.
    Same digit expansion in every engine (cf. split_assign / transe)."""
    h = F.conv(
        F.substring(
            F.md5(F.concat(ng.cast("string"), F.lit(f"|{j}|{salt}"))), 1, 15
        ),
        16,
        10,
    ).cast("bigint")
    return F.pmod(h, F.lit(m_bits))


def _pow2_lit() -> Column:
    # int64 bit masks indexed by bit position (element_at is 1-based).
    # Literal table instead of shiftleft-by-column (the functions-API
    # shiftleft takes only a Python int); bit 63 is the sign bit.
    return F.array(
        *[
            F.lit((1 << b) if b < 63 else -(1 << 63)).cast("long")
            for b in range(64)
        ]
    )


def _bloom_config_fingerprint(
    n: int, m_bits: int, k_hashes: int, salt: str, hash: str
) -> int:
    import hashlib

    digest = hashlib.md5(
        f"{n}|{m_bits}|{k_hashes}|{salt}|{hash}".encode()
    ).hexdigest()
    return int(digest[:15], 16)


def bloom_words(
    eval_df: DataFrame,
    text_col: str = "text",
    n: int = 13,
    m_bits: int = 1 << 20,
    k_hashes: int = 4,
    salt: str = "bloom-v1",
    hash: str = "md5",
) -> DataFrame:
    """Build a Bloom filter over an eval set's word n-grams as a
    ``(word_idx, word)`` int64 table — the persistable decontamination
    artifact ``bloom_decontaminate`` tests against.

    Why a Bloom next to ``decontaminate``'s exact distinct-hash set: the
    filter is a FIXED-SIZE reusable artifact (m_bits/8 bytes regardless of
    eval-set growth — 2^20 bits = 128 KB vs ~80 MB of raw 13-gram hashes
    for a 1e7-n-gram suite), so a pipeline that decontaminates every
    incremental crawl batch ships kilobytes to the corpus pass instead of
    re-broadcasting the hash set, and the artifact can be published
    without exposing the eval n-grams themselves. The price is a bounded
    false-positive rate (~(1-e^(-k*n/m))^k — callers route Bloom hits
    into the exact ``decontaminate`` probe when the over-drop matters).

    Build shape: eval n-grams distinct-reduced, k bit positions per
    n-gram, one ``groupBy(word_idx)``+``bit_or`` aggregate — map-side
    combinable, output is exactly ``<= m_bits/64`` rows. Every position
    comes from the engine-portable md5 digit expansion, so a DuckDB
    oracle rebuilds the identical words INCLUDING false positives —
    the filter is bit-for-bit reproducible anywhere.

    A ``word_idx = -1`` sentinel row fingerprints (n, m_bits, k_hashes,
    salt, hash); ``bloom_decontaminate`` refuses an artifact whose
    fingerprint does not match its own parameters (the
    ``minhash_incremental`` n_perm-guard pattern).
    """
    if m_bits % 64 != 0 or not 64 <= m_bits <= _BLOOM_MAX_BITS:
        raise ValueError(
            f"m_bits must be a multiple of 64 in [64, {_BLOOM_MAX_BITS}], got {m_bits}"
        )
    if not 1 <= k_hashes <= 8:
        raise ValueError(f"k_hashes must be in [1, 8], got {k_hashes}")
    ev = (
        eval_df.filter(F.col(text_col).isNotNull())
        .select(F.explode(ngram_hashes(F.col(text_col), n=n, hash=hash)).alias("_ng"))
        .distinct()
    )
    pos = ev.select(
        F.explode(
            F.array(*[_bloom_pos(F.col("_ng"), j, m_bits, salt) for j in range(k_hashes)])
        ).alias("_pos")
    )
    words = pos.groupBy(
        F.floor(F.col("_pos") / 64).cast("long").alias("word_idx")
    ).agg(
        F.bit_or(
            F.element_at(_pow2_lit(), F.pmod("_pos", F.lit(64)).cast("int") + 1)
        ).alias("word")
    )
    spark = eval_df.sparkSession
    config = spark.createDataFrame(
        [(
            _BLOOM_CONFIG_IDX,
            _bloom_config_fingerprint(n, m_bits, k_hashes, salt, hash),
        )],
        "word_idx long, word long",
    )
    return words.unionByName(config)


def bloom_decontaminate(
    corpus: DataFrame,
    bloom: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 13,
    m_bits: int = 1 << 20,
    k_hashes: int = 4,
    salt: str = "bloom-v1",
    hash: str = "md5",
) -> DataFrame:
    """Mark corpus documents whose word n-grams hit a ``bloom_words``
    filter. Returns the corpus plus ``bloom_hits`` (distinct n-grams with
    all k bits set) and ``maybe_contaminated`` — "maybe" is honest: a
    Bloom answers "definitely clean" or "possibly contaminated"; route
    the (rare) hits through the exact ``decontaminate`` probe when the
    false-positive rate matters.

    100 TB shape: the words table is collected once (``<= m_bits/64``
    int64s, guarded — dimension-scale like the k-means centroids) and
    inlined as a literal array, so the corpus pass is PURE JVM
    expressions — n-gram slice, k md5 positions, ``element_at`` +
    bitwise AND against the literal — with no join, no shuffle, nothing
    but a narrow projection over the corpus scan. Plain
    ``decontaminate`` still shuffles its (rare) hit rows into a
    groupBy; this variant's corpus stage is shuffle-free.
    """
    fp = _bloom_config_fingerprint(n, m_bits, k_hashes, salt, hash)
    rows = bloom.collect()
    config_rows = [r for r in rows if int(r["word_idx"]) == _BLOOM_CONFIG_IDX]
    if not config_rows:
        # a sentinel-less artifact cannot be trusted: probing with smaller
        # m_bits than it was built with would silently zero-fill missing
        # words and produce FALSE NEGATIVES — the one thing a Bloom must
        # never do. Refuse instead of guessing.
        raise ValueError(
            "bloom filter artifact has no config sentinel row (word_idx = -1); "
            "rebuild it with bloom_words — do not strip the sentinel when "
            "persisting"
        )
    if int(config_rows[0]["word"]) != fp:
        raise ValueError(
            "bloom filter config mismatch: artifact was built with different "
            "(n, m_bits, k_hashes, salt, hash) than this probe"
        )
    words = [0] * (m_bits // 64)
    for r in rows:
        i = int(r["word_idx"])
        if i != _BLOOM_CONFIG_IDX:
            words[i] = int(r["word"])
    words_lit = F.array(*[F.lit(w).cast("long") for w in words])

    def member(ng: Column) -> Column:
        cond = None
        for j in range(k_hashes):
            pos = _bloom_pos(ng, j, m_bits, salt)
            word = F.element_at(words_lit, F.floor(pos / 64).cast("int") + 1)
            mask = F.element_at(_pow2_lit(), F.pmod(pos, F.lit(64)).cast("int") + 1)
            bit_set = word.bitwiseAND(mask) != 0
            cond = bit_set if cond is None else cond & bit_set
        return cond

    hits = F.size(
        F.filter(
            F.array_distinct(ngram_hashes(F.col(text_col), n=n, hash=hash)), member
        )
    )
    return corpus.withColumn(
        "bloom_hits",
        F.when(F.col(text_col).isNull(), F.lit(0)).otherwise(hits).cast("long"),
    ).withColumn("maybe_contaminated", F.col("bloom_hits") > 0)


# --- DSIR importance weights ------------------------------------------------

_DSIR_MAX_BUCKETS = 1 << 16


def _dsir_bucket(ng: Column, n_buckets: int, salt: str) -> Column:
    h = F.conv(
        F.substring(F.md5(F.concat(ng.cast("string"), F.lit(f"|{salt}"))), 1, 15),
        16,
        10,
    ).cast("bigint")
    return F.pmod(h, F.lit(n_buckets))


def _dsir_features(text: Column, n_buckets: int, salt: str) -> Column:
    """Hashed unigram+bigram feature buckets of a document (DSIR's
    hashed n-gram featurization) — one generated array, all JVM."""
    grams = F.concat(
        ngram_hashes(text, n=1, hash="md5"), ngram_hashes(text, n=2, hash="md5")
    )
    return F.transform(grams, lambda g: _dsir_bucket(g, n_buckets, salt))


def _r1000_ln(x: Column) -> Column:
    # fixed-point millinat log — the unigram_logprob determinism discipline:
    # one engine-local ln per DISTINCT value, rounded to integer millinats,
    # so every downstream aggregation is exact int64 math in any order.
    return F.round(F.log(x) * 1000).cast("bigint")


def dsir_scores(
    corpus: DataFrame,
    target: DataFrame,
    raw: DataFrame | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 8192,
    salt: str = "dsir-v1",
) -> DataFrame:
    """Data Selection via Importance Resampling (Xie et al. 2023): score
    every corpus document by how target-like it is under hashed-n-gram
    bag-of-features models of a ``target`` sample vs the ``raw`` pool
    (default: the corpus itself). Select top-weight documents (or
    Gumbel-top-k on the returned weights) to build a target-leaning
    training mix without an external classifier.

    Returns the corpus plus ``n_features`` and ``logweight_millinat``:
    ``sum_f [ln p_target(f) - ln p_raw(f)]`` over the document's unigram
    + bigram hash buckets, Laplace-smoothed, in integer millinats
    (fixed-point ``round(1000*ln)`` per distinct count — the
    ``unigram_logprob`` discipline — so the per-doc sum is exact int64
    in any partition order and the DuckDB oracle replays it
    bit-for-bit). Zero-feature documents score 0.

    100 TB shape: the two bucket-count aggregates are map-side
    combinable into ``<= n_buckets`` rows (dimension-scale, guarded);
    their log-ratio table is collected ONCE and inlined as a literal
    int64 array (the k-means-centroid pattern), so the corpus scoring
    pass is a pure-JVM narrow projection — tokenize, hash, bucket,
    ``element_at`` + integer aggregate — with NO join and NO shuffle of
    corpus data. The reference has no data-selection tier; north-rule
    addition alongside decontaminate / resample_temperature.
    """
    if not 2 <= n_buckets <= _DSIR_MAX_BUCKETS:
        raise ValueError(
            f"n_buckets must be in [2, {_DSIR_MAX_BUCKETS}], got {n_buckets}"
        )
    if raw is None:
        raw = corpus

    def bucket_counts(df: DataFrame) -> DataFrame:
        return (
            df.filter(F.col(text_col).isNotNull())
            .select(
                F.explode(_dsir_features(F.col(text_col), n_buckets, salt)).alias("_b")
            )
            .groupBy("_b")
            .agg(F.count(F.lit(1)).alias("_c"))
        )

    tc = bucket_counts(target)
    rc = bucket_counts(raw)
    llr_rows = (
        tc.withColumnRenamed("_c", "_ct")
        .join(rc.withColumnRenamed("_c", "_cr"), "_b", "full_outer")
        .select(
            "_b",
            (
                _r1000_ln(F.coalesce("_ct", F.lit(0)) + 1)
                - _r1000_ln(F.coalesce("_cr", F.lit(0)) + 1)
            ).alias("_llr"),
        )
        .collect()
    )
    totals = (
        tc.agg(F.sum("_c").alias("_nt"))
        .crossJoin(rc.agg(F.sum("_c").alias("_nr")))
        .select(
            (
                _r1000_ln(F.coalesce("_nr", F.lit(0)) + n_buckets)
                - _r1000_ln(F.coalesce("_nt", F.lit(0)) + n_buckets)
            ).alias("_const")
        )
        .first()
    )
    const_milli = int(totals["_const"])
    llr = [0] * n_buckets
    for r in llr_rows:
        llr[int(r["_b"])] = int(r["_llr"])
    llr_lit = F.array(*[F.lit(v).cast("long") for v in llr])

    feats = _dsir_features(F.col(text_col), n_buckets, salt)
    n_f = F.when(F.col(text_col).isNull(), F.lit(0)).otherwise(F.size(feats)).cast("long")
    raw_sum = F.aggregate(
        feats,
        F.lit(0).cast("long"),
        lambda acc, b: acc + F.element_at(llr_lit, b.cast("int") + 1),
    )
    return corpus.withColumn("n_features", n_f).withColumn(
        "logweight_millinat",
        F.when(F.col(text_col).isNull(), F.lit(0))
        .otherwise(raw_sum + n_f * F.lit(const_milli))
        .cast("long"),
    )


def leakage_safe_split(
    docs: DataFrame,
    clusters: DataFrame,
    id_col: str = "doc_id",
    cluster_col: str = "cluster",
    salt: str = "split-v1",
    val_pct: int = 5,
    test_pct: int = 5,
) -> DataFrame:
    """Train/val/test assignment keyed by DEDUP CLUSTER instead of
    document id — the leakage-safe split: near-duplicate documents land
    on the SAME side by construction, so a template page crawled twice
    can never sit in train while its twin sits in val (the classic
    eval-inflation trap a per-document ``split_assign`` cannot prevent —
    exact dedup upstream catches byte-duplicates, but near-dups survive
    it by definition).

    ``clusters`` is any (id, cluster) table — ``ops.dedup.minhash_dedup``
    cluster labels, SemDeDup components, or CC over any similarity edge
    list. Documents missing from ``clusters`` fall back to their own id
    as a singleton cluster (left join + coalesce), so the operator is
    safe to run over a partially-clustered corpus. The bucket math is
    ``split_assign`` verbatim on the cluster key — same portability, same
    never-migrates stability (a cluster only changes split if the salt
    changes; note that GROWING a cluster across reruns can legitimately
    move its members to the representative's split — that direction is
    leakage-safe).

    The returned ``cluster`` column is STRING — ids and cluster labels
    may have different types (string URLs vs bigint labels), and a
    silent ``cast("long")`` fallback would crash on non-numeric ids
    under ANSI (or NULL them out quietly with ANSI off, dumping every
    unclustered doc into 'train'). ``split_assign`` hashes the string
    form anyway, so numeric callers lose nothing and can cast back.

    Shuffle shape: one equi-join on the id key (AQE broadcasts the
    cluster table when it is small — it is at most corpus-cardinality,
    usually much smaller after dedup) and a narrow projection. Returns
    the input plus ``cluster`` and ``split``.
    """
    c = clusters.select(
        F.col(id_col), F.col(cluster_col).alias("_lss_cluster")
    )
    joined = docs.join(c, id_col, "left").withColumn(
        "cluster",
        F.coalesce(
            F.col("_lss_cluster").cast("string"), F.col(id_col).cast("string")
        ),
    )
    return joined.drop("_lss_cluster").withColumn(
        "split",
        split_assign(F.col("cluster"), salt=salt, val_pct=val_pct, test_pct=test_pct),
    )


def crawl_waves(
    frontier: DataFrame,
    url_col: str = "url",
    per_host_per_wave: int = 1,
    priority_col: str | None = None,
    salt: str = "wave-v1",
) -> DataFrame:
    """Politeness-aware crawl scheduling: assign every frontier URL a
    ``wave`` such that no host appears more than ``per_host_per_wave``
    times per wave — the frontier partitioned into fetch rounds a polite
    crawler can execute concurrently (one wave = one parallel burst; the
    per-host crawl-delay sits BETWEEN waves, so intra-wave order never
    hits a host twice when the budget is 1).

    Within a host, URLs are ordered by ``priority_col`` DESC when given
    (crawl important pages first — e.g. a pagerank or host-authority
    score), then by the cap_per_group salted-md5 hash (rerun- and
    partitioning-stable, unbiased by input order, redrawable via
    ``salt`` — never rand()). Returns the input plus ``host``,
    ``slot`` (0-based position within (host, wave)) and ``wave``.

    One window keyed by host — host-cardinality groups, no global sort;
    the wave histogram (``groupBy('wave').count()``) is the crawl-plan
    audit. Scale note: the max wave count is ceil(max host frontier /
    budget) — hosts do not block each other, so a single giant host
    lengthens the plan's tail without inflating any shuffle.

    The frontier must not already carry ``host``/``slot``/``wave`` columns,
    nor ``_rk`` (the internal within-host rank column); it raises
    ValueError rather than emitting duplicate names that break downstream
    selects ambiguously — rename or drop yours first.
    """
    if per_host_per_wave < 1:
        raise ValueError(f"per_host_per_wave must be >= 1, got {per_host_per_wave}")
    clash = {"host", "slot", "wave", "_rk"} & set(frontier.columns)
    if clash:
        raise ValueError(
            "crawl_waves appends host/slot/wave and uses _rk internally; frontier "
            f"already has {sorted(clash)} — rename or drop them first"
        )
    h = F.md5(F.concat(F.col(url_col).cast("string"), F.lit(f"|{salt}")))
    order = (
        [F.col(priority_col).desc()] if priority_col is not None else []
    ) + [h, F.col(url_col)]
    w = Window.partitionBy("host").orderBy(*order)
    return (
        frontier.withColumn("host", url_host(F.col(url_col)))
        .withColumn("_rk", F.row_number().over(w) - 1)
        .select(
            *frontier.columns,
            "host",
            F.pmod(F.col("_rk"), F.lit(per_host_per_wave)).cast("bigint").alias("slot"),
            F.expr(f"_rk div {per_host_per_wave}").cast("bigint").alias("wave"),
        )
    )
