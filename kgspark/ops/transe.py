"""KG-embedding training (TransE) as pure DataFrame algebra.

Closes the embedding loop the engine already feeds: the constructed KG
(construct/graph.py) -> deterministic corrupted pairs (ops/kg_sampling.py)
-> margin-loss TransE epochs here -> entity/relation vectors for the
link-prediction and ANN surfaces (ops/similarity.py consumes the same
array<float> shape). The reference repo stops at graph storage + rule
retrieval (insurance_medical_kgqa/graph_retriever.py); embeddings are part
of the 100 TB training-data story this engine adds on top.

Arithmetic is the engine's deterministic integer fixed-point discipline
(ops/graph_algs.pagerank integer mode, ops/sketch.py): every embedding
value is a bigint in units of 1/scale, every op is integer add/multiply/
exact-floor-divide, so the trained vectors are BIT-IDENTICAL under any
partitioning, executor count, or engine — the DuckDB oracle
(`transe_train_kg` in __spark_entry__.py) replays whole training epochs
and hash-matches. Floats would make distributed gradient sums
partition-order dependent in the final ulps and untestable across engines.

Model: score f(s,r,o) = sum_d floor(((e_s + r_r - e_o)[d])^2 / scale)
(squared L2, fixed-point). Hinge loss per (positive, corruption) pair:
max(0, margin + f_pos - f_neg); full-batch gradient descent, gradient of
the active pairs only. Classic TransE's per-epoch L2 normalisation needs
sqrt (not exactly replayable in integers) — instead ``amp_units`` bounds
the init and the margin objective itself bounds drift at the toy scales
the fixed-point mode targets; document-scale production training would
switch to the float path of a dedicated trainer anyway, with THIS module
supplying its deterministic batches.

Plan per epoch (the 100 TB lens):
- pairs x 4 embedding lookups: equi-joins on entity/relation id. The
  relation table is dimension-scale (broadcast); the entity joins shuffle
  on id — the same key the KG's nodes table is already bucketed by
  (construct/graph.py save_graph), so co-located at scale.
- all per-pair math (diffs, scores, hinge, per-dim gradient steps) is
  row-local JVM array algebra (zip_with/transform/aggregate) — no
  explosion until the gradient ACCUMULATION, which shuffles exploded
  (id, dim, g) rows with map-side combine (hub entities aggregate, never
  fan out).
- the update is one join of the exploded embedding table against the
  gradient table + an array_sort repack; lineage cut per epoch with
  localCheckpoint (components.py / pagerank discipline).
Total: O(epochs) x (4 joins + 2 aggregates), no driver-side loop over
data, no collect anywhere.

Mini-batching at 10^10 edges: pass ``n_batches`` — epoch e trains on the
deterministic batch ``xxhash64(s,r,o) pmod n_batches == e pmod n_batches``
(hash-assigned, rerun-stable), cutting per-epoch pair volume while every
edge still participates every n_batches epochs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from kgspark.ops.kg_sampling import negative_samples

_H15 = 15  # md5 hex digits used per draw: 60 bits, exact in bigint


def _draw(*cols) -> "F.Column":
    """Non-negative 60-bit bigint from md5 over '|'-joined columns — the
    engine-wide deterministic draw (kg_sampling.py:100, graph_algs.py
    random_walks), replayed by DuckDB via strpos digit expansion."""
    return F.conv(F.substring(F.md5(F.concat_ws("|", *cols)), 1, _H15), 16, 10).cast(
        "bigint"
    )


def _fdiv(x: "F.Column", s: int) -> "F.Column":
    """Exact floor(x / s) for bigint x, positive int s, portable across
    engines: x - pmod(x, s) is an exact multiple of s, so the final
    division is exact in IEEE doubles (|x| stays far below 2^53 at the
    fixed-point scales used here — see transe_train's bound note)."""
    return ((x - F.pmod(x, F.lit(s))) / F.lit(s)).cast("long")


def init_embeddings(
    ids: DataFrame,
    id_col: str,
    dim: int,
    amp_units: int = 500_000,
    salt: str = "transe-init-v1",
) -> DataFrame:
    """Deterministic pseudo-random init: (id, vec array<bigint>) with
    vec[d] = md5(salt|id|d) mod (2*amp+1) - amp, i.e. uniform fixed-point
    units in [-amp, +amp]. Pure JVM expression (transform over sequence);
    identical on every rerun, partitioning, and engine."""
    span = 2 * amp_units + 1
    vec = F.transform(
        F.sequence(F.lit(0), F.lit(dim - 1)),
        lambda d: F.pmod(_draw(F.lit(salt), F.col(id_col), d.cast("string")), F.lit(span))
        - F.lit(amp_units),
    )
    return ids.select(F.col(id_col), vec.alias("vec"))


def transe_score(
    triples: DataFrame,
    ent_emb: DataFrame,
    rel_emb: DataFrame,
    scale: int = 1_000_000,
    src: str = "src_id",
    rel: str = "rel",
    dst: str = "dst_id",
) -> DataFrame:
    """Fixed-point TransE energy per triple: input rows + ``score_units``
    = sum_d floor(((e_s + r_r - e_o)[d])^2 / scale). Lower = more
    plausible; rank corruption candidates with a per-(s,r) window over
    this column for link-prediction eval."""
    es = ent_emb.select(F.col(ent_emb.columns[0]).alias(src), F.col("vec").alias("_es"))
    eo = ent_emb.select(F.col(ent_emb.columns[0]).alias(dst), F.col("vec").alias("_eo"))
    rr = rel_emb.select(F.col(rel_emb.columns[0]).alias(rel), F.col("vec").alias("_rr"))
    j = triples.join(es, src).join(eo, dst).join(F.broadcast(rr), rel)
    diff = F.zip_with(
        F.zip_with("_es", "_rr", lambda a, b: a + b), "_eo", lambda a, b: a - b
    )
    score = F.aggregate(
        F.transform(diff, lambda x: x * x),
        F.lit(0).cast("long"),
        lambda acc, x: acc + ((x - F.pmod(x, F.lit(scale))) / F.lit(scale)).cast("long"),
    )
    return j.select(*triples.columns, score.alias("score_units"))


def transe_train(
    triples: DataFrame,
    dim: int = 8,
    epochs: int = 3,
    lr_units: int = 10_000,
    margin_units: int = 1_000_000,
    amp_units: int = 500_000,
    scale: int = 1_000_000,
    init_salt: str = "transe-init-v1",
    neg_salt: str = "transe-neg-v1",
    n_batches: int | None = None,
    src: str = "src_id",
    rel: str = "rel",
    dst: str = "dst_id",
) -> tuple[DataFrame, DataFrame]:
    """Full-batch fixed-point TransE over a (src_id, rel, dst_id) triple
    table -> (entity_embeddings, relation_embeddings), each
    (id, vec array<bigint>) in units of 1/scale.

    Per epoch, for every (positive, deterministic corruption) pair with
    margin_units + f_pos - f_neg > 0, descend the hinge: per-dim step
    g(x) = floor(2*x*lr_units / scale) applied with TransE's signs
    (+ on e_s and r_r via diff_pos, - via diff_neg; - on e_o; + on the
    corrupted e_o'). lr_units = lr * scale (10_000 = 0.01).

    Determinism: init, corruption draw, and every arithmetic op are exact
    integers -> gradient sums commute, result is partitioning-invariant
    and engine-replayable (the oracle unrolls entire epochs in SQL).

    Magnitude bound (keeps _fdiv's double-division exact): |values| must
    stay < ~3e7 units so diff^2 < 2^53. Holds by construction at default
    lr/amp for the epoch counts the fixed-point mode is for; a guard
    raises at init if amp_units/scale could break it.
    """
    if amp_units * 6 >= 94_000_000:
        raise ValueError("amp_units too large for exact integer arithmetic bound")
    t = (
        triples.select(
            F.col(src).alias("s"), F.col(rel).alias("r"), F.col(dst).alias("o")
        )
        .distinct()
        .localCheckpoint()
    )
    ents = (
        t.select(F.col("s").alias("id"))
        .union(t.select("o"))
        .distinct()
        .localCheckpoint()
    )
    rels = t.select(F.col("r").alias("id")).distinct().localCheckpoint()
    ent_emb = init_embeddings(ents, "id", dim, amp_units, init_salt).localCheckpoint()
    rel_emb = init_embeddings(rels, "id", dim, amp_units, init_salt).localCheckpoint()

    negs = negative_samples(
        t.select(
            F.col("s").alias("src_id"), F.col("r").alias("rel"), F.col("o").alias("dst_id")
        ),
        ents.select(F.col("id").alias("entity_id")),
        n_per_positive=1,
        salt=neg_salt,
        keep_positive=True,
    )
    pairs = negs.select(
        F.col("src_id").alias("s"),
        F.col("rel").alias("r"),
        F.col("dst_id").alias("o"),
        F.col("neg_dst_id").alias("oneg"),
    ).localCheckpoint()

    step = 2 * lr_units

    for ep in range(epochs):
        batch = pairs
        if n_batches:
            batch = pairs.filter(
                F.pmod(F.xxhash64("s", "r", "o"), F.lit(n_batches))
                == F.lit(ep % n_batches)
            )
        es = ent_emb.select(F.col("id").alias("s"), F.col("vec").alias("_es"))
        eo = ent_emb.select(F.col("id").alias("o"), F.col("vec").alias("_eo"))
        en = ent_emb.select(F.col("id").alias("oneg"), F.col("vec").alias("_en"))
        rr = rel_emb.select(F.col("id").alias("r"), F.col("vec").alias("_rr"))
        j = batch.join(es, "s").join(eo, "o").join(en, "oneg").join(F.broadcast(rr), "r")
        sr = F.zip_with("_es", "_rr", lambda a, b: a + b)
        j = j.select(
            "s",
            "r",
            "o",
            "oneg",
            F.zip_with(sr, "_eo", lambda a, b: a - b).alias("dp"),
            F.zip_with(sr, "_en", lambda a, b: a - b).alias("dn"),
        )
        f = lambda arr: F.aggregate(  # noqa: E731 — score fold, row-local
            F.transform(arr, lambda x: x * x),
            F.lit(0).cast("long"),
            lambda acc, x: acc
            + ((x - F.pmod(x, F.lit(scale))) / F.lit(scale)).cast("long"),
        )
        active = j.filter(
            F.lit(margin_units) + f(F.col("dp")) - f(F.col("dn")) > 0
        ).select(
            "s",
            "r",
            "o",
            "oneg",
            F.transform("dp", lambda x: _fdiv(x * F.lit(step), scale)).alias("gp"),
            F.transform("dn", lambda x: _fdiv(x * F.lit(step), scale)).alias("gn"),
        )
        # role contributions: d(loss)/d(e_s) = d(loss)/d(r_r) = gp - gn;
        # d/d(e_o) = -gp; d/d(e_o') = +gn. Entity and relation gradients
        # aggregate SEPARATELY — a cross-kind union would coerce the id
        # column (entity ids are often bigint hashes, relation ids strings;
        # the coercion crashes under ANSI casts — found driving
        # a TransE training loop over a save_graph output)
        gdiff = F.zip_with("gp", "gn", lambda a, b: a - b)
        contrib_e = (
            active.select(F.col("s").alias("id"), gdiff.alias("g"))
            .unionAll(
                active.select(
                    F.col("o"), F.transform("gp", lambda x: -x).alias("g")
                )
            )
            .unionAll(active.select(F.col("oneg"), F.col("gn")))
        )
        contrib_r = active.select(F.col("r").alias("id"), gdiff.alias("g"))

        def _grads(contrib: DataFrame) -> DataFrame:
            return (
                contrib.select("id", F.posexplode("g").alias("d", "gv"))
                .groupBy("id", "d")
                .agg(F.sum("gv").alias("gv"))
            ).localCheckpoint()

        def _apply(emb: DataFrame, g: DataFrame) -> DataFrame:
            upd = (
                emb.select("id", F.posexplode("vec").alias("d", "v"))
                .join(g, ["id", "d"], "left")
                .select(
                    "id", "d", (F.col("v") - F.coalesce("gv", F.lit(0))).alias("v")
                )
            )
            packed = upd.groupBy("id").agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("d", "v"))), lambda s: s["v"]
                ).alias("vec")
            )
            return packed.localCheckpoint()

        ent_emb = _apply(ent_emb, _grads(contrib_e))
        rel_emb = _apply(rel_emb, _grads(contrib_r))
    return ent_emb, rel_emb


def embeddings_to_float(emb: DataFrame, scale: int = 1_000_000) -> DataFrame:
    """Units -> array<double> view for the similarity/ANN surfaces
    (ops/similarity.py expects float vectors)."""
    return emb.select(
        "id",
        F.transform("vec", lambda x: x / F.lit(float(scale))).alias("vec"),
    )


def link_prediction_ranks(
    test: DataFrame,
    ent_emb: DataFrame,
    rel_emb: DataFrame,
    filter_triples: DataFrame | None = None,
    scale: int = 1_000_000,
    max_candidates: int = 100_000,
    src: str = "src_id",
    rel: str = "rel",
    dst: str = "dst_id",
) -> DataFrame:
    """Link-prediction evaluation ranks: for each test (s, r, o), the rank
    of the true o among ALL entities scored as candidate destinations
    (lower energy = better) -> test rows + ``rank``.

    Rank is 1 + |{cand : f(cand) < f(o)}| + |{cand : f(cand) = f(o),
    cand < o}| — ties broken by id order, a total order, so the rank is
    deterministic and the DuckDB oracle replays it (scores are exact
    integers from transe_score). ``filter_triples`` enables the standard
    "filtered" setting: for test (s, r, o), candidates that are
    known-true destinations of (s, r) OTHER than o itself never count
    against o's rank.

    Scoring cost is |distinct (s, r)| x |V| — each candidate is scored
    ONCE per query (s, r), not once per test triple; the per-o candidate
    exclusion is a flag on the shared score table, so 5 test triples
    sharing a query cost one scoring pass. The candidate list is
    broadcast (eval-tier NLJ, the ops/similarity.py exact-kernel
    pattern) and guarded by ``max_candidates`` — beyond that, shard the
    test set or type-filter candidates rather than silently exploding.
    """
    cands = ent_emb.select(F.col("id").alias("_cand"))
    n_cand = cands.count()
    if n_cand > max_candidates:
        raise ValueError(
            f"{n_cand} candidate entities exceeds max_candidates="
            f"{max_candidates}; shard the test set or type-filter candidates"
        )
    t = test.select(
        F.col(src).alias("s"), F.col(rel).alias("r"), F.col(dst).alias("o")
    ).distinct()
    pairs = t.select("s", "r").distinct().crossJoin(F.broadcast(cands))
    scored = transe_score(
        pairs.select(
            F.col("s").alias(src), F.col("r").alias(rel), F.col("_cand").alias(dst)
        ),
        ent_emb,
        rel_emb,
        scale=scale,
        src=src,
        rel=rel,
        dst=dst,
    ).select(
        F.col(src).alias("s"),
        F.col(rel).alias("r"),
        F.col(dst).alias("_cand"),
        "score_units",
    )
    if filter_triples is not None:
        known = filter_triples.select(
            F.col(src).alias("s"),
            F.col(rel).alias("r"),
            F.col(dst).alias("_cand"),
            F.lit(True).alias("_known"),
        ).distinct()
        scored = scored.join(known, ["s", "r", "_cand"], "left").withColumn(
            "_known", F.coalesce("_known", F.lit(False))
        )
    else:
        scored = scored.withColumn("_known", F.lit(False))
    true_sc = (
        scored.join(
            t.select("s", "r", F.col("o").alias("_cand"), F.col("o")),
            ["s", "r", "_cand"],
        )
        .select("s", "r", "o", F.col("score_units").alias("_tscore"))
    )
    # a known-true competitor (cand != o) never counts against o; cand == o
    # never beats itself, so the ~_known filter is safe for it too
    beats = (
        scored.join(true_sc, ["s", "r"])
        .filter(
            ~F.col("_known")
            & (
                (F.col("score_units") < F.col("_tscore"))
                | (
                    (F.col("score_units") == F.col("_tscore"))
                    & (F.col("_cand") < F.col("o"))
                )
            )
        )
        .groupBy("s", "r", "o")
        .agg(F.count(F.lit(1)).alias("_n"))
    )
    return (
        true_sc.select("s", "r", "o")
        .join(beats, ["s", "r", "o"], "left")
        .select(
            "s",
            "r",
            "o",
            (F.coalesce("_n", F.lit(0)) + 1).cast("long").alias("rank"),
        )
    )


def lp_metrics(ranks: DataFrame, ks: tuple[int, ...] = (1, 3, 10)) -> DataFrame:
    """MRR + Hits@k summary over a ``link_prediction_ranks`` table, one
    row: (n, mrr_micro, hits_1, hits_3, hits_10, ...). MRR is summed in
    exact micro-units (floor(1e6 / rank) per row, bigint) so the
    distributed aggregate is partition-order-exact; divide by n for the
    float MRR."""
    aggs = [
        F.count(F.lit(1)).alias("n"),
        F.sum(F.floor(F.lit(1_000_000) / F.col("rank")).cast("long")).alias(
            "rr_micro_sum"
        ),
    ]
    for k in ks:
        aggs.append(
            F.sum((F.col("rank") <= k).cast("long")).alias(f"hits_{k}")
        )
    return ranks.agg(*aggs)
