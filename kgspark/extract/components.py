"""X7: surface-form canonicalization via join-based connected components.

The reference canonicalizes by exact string match only and documents entity
alignment ("恶性肿瘤-重度" vs "恶性肿瘤") as its known gap
(Documents/2.16优化汇总.md:98). Here: deterministic normalization rules
produce an alias-similarity edge list (surface form <-> normalized key);
connected components over that edge list merge transitive chains of surface
forms; the canonical name per component is the shortest original form.

Connected components has one path per input size:

- below ``local_threshold`` edges, a driver-side union-find over the
  collected edge list. This is the standard endgame of distributed CC
  (GraphX/GraphFrames likewise finish small frontiers locally): an
  alias-similarity edge list is *dictionary*-scale (~10^6-10^8 forms for
  10^12 docs), each edge is two longs, and one union-find pass beats 5-10
  shuffle rounds by an order of magnitude wall clock;
- above it, iterative min-id label propagation, pure DataFrame joins (no
  GraphFrames dependency)::

      comp(v) <- min(comp(v), min_{u~v} comp(u))   until fixpoint

Propagation scale notes:
- each iteration is one shuffle on the edge list + one aggregate; iterations
  are bounded by the graph diameter — alias graphs are star-like (diameter
  ~2-4), so 5-10 iterations suffice; a graph that has not reached its
  fixpoint after ``max_iter`` rounds raises instead of returning partial
  labels;
- hot keys (a normalized key shared by millions of forms) are exactly the
  AQE skew-join case — skewJoin is enabled in the session factory; the
  aggregate side is two-phase (map-side partial min) so fan-in collapses
  before the shuffle;
- ``localCheckpoint`` every iteration cuts the exponentially growing lineage
  (the classic iterative-join pitfall).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from kgspark import schemas

_CC_LOCAL_THRESHOLD = 2_000_000  # edges; ~32 MB of (long, long) on the driver


def _local_components(spark, pairs: list[tuple[int, int]]) -> DataFrame:
    """Driver union-find with min-id canonical labels (path-halving).

    Produces exactly the iterative fixpoint's output: every node that appears
    in an edge, labeled with the minimum node id of its component.
    """
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:  # path compression
            parent[x], x = root, parent[x]
        return root

    for a, b in pairs:
        if a not in parent:
            parent[a] = a
        if b not in parent:
            parent[b] = b
        ra, rb = find(a), find(b)
        if ra != rb:  # union by min id keeps the label = min(component)
            if ra < rb:
                parent[rb] = ra
            else:
                parent[ra] = rb
    rows = [{"id": x, "component": find(x)} for x in parent]
    schema = T.StructType(
        [
            T.StructField("id", T.LongType(), False),
            T.StructField("component", T.LongType(), False),
        ]
    )
    return schemas.local_frame(spark, rows, schema)


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 15,
    local_threshold: int = _CC_LOCAL_THRESHOLD,
) -> DataFrame:
    """(src, dst) long-id edge list -> (id, component) with component = min
    node id in the component.

    Edge lists under ``local_threshold`` run as a driver union-find (see
    module doc); larger ones run min-label propagation, one shuffle + one
    aggregate per round, O(graph diameter) rounds. Propagation that has not
    reached its fixpoint after ``max_iter`` rounds raises ``RuntimeError``:
    partial labels would silently split components.
    """
    sym = edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
    sym = sym.union(sym.select(F.col("b").alias("a"), F.col("a").alias("b")))
    # materialize the edge list once (by its first action): every iteration
    # joins against it, and without this the full upstream derivation (LSH
    # joins, Python signature stages, ...) re-executes per iteration
    sym = sym.localCheckpoint(eager=False)
    if local_threshold and sym.count() <= local_threshold:
        pairs = [(r["a"], r["b"]) for r in sym.collect()]
        return _local_components(edges.sparkSession, pairs)
    comp = (
        sym.select(F.col("a").alias("id"))
        .distinct()
        .withColumn("component", F.col("id"))
        .localCheckpoint()
    )
    for _ in range(max_iter):
        # candidate component per node = min over neighbors' components
        nbr_min = (
            sym.join(comp.withColumnRenamed("id", "b"), "b")
            .groupBy("a")
            .agg(F.min("component").alias("nbr_component"))
            .withColumnRenamed("a", "id")
        )
        new_comp = (
            comp.join(nbr_min, "id", "left")
            .select(
                "id",
                F.least(
                    F.col("component"), F.coalesce("nbr_component", F.col("component"))
                ).alias("component"),
                (F.col("nbr_component") < F.col("component")).alias("changed"),
            )
        ).localCheckpoint()
        n_changed = new_comp.filter(F.col("changed")).count()
        comp = new_comp.drop("changed")
        if n_changed == 0:
            return comp
    raise RuntimeError(
        f"label propagation did not converge in max_iter={max_iter} rounds; "
        "re-run with a larger max_iter (rounds needed ~ graph diameter)"
    )


# --- pinned normalization rules (the alias-similarity generator) -----------
_SEVERITY_SUFFIX = r"[--—]\s*(重度|中度|轻度|早期|晚期|急性|慢性)$"
_PAREN_SUFFIX = r"[（(][^（()）]*[)）]$"


def normalized_forms(col):
    """Deterministic normalization chain for a surface form.

    Returns an array of progressively normalized variants (original first):
    strip whitespace -> drop trailing severity qualifier -> drop trailing
    parenthetical -> lowercase latin. Each adjacent pair becomes an
    alias-similarity edge, so chains merge transitively.
    """
    base = F.trim(col)
    no_sev = F.regexp_replace(base, _SEVERITY_SUFFIX, "")
    no_paren = F.regexp_replace(no_sev, _PAREN_SUFFIX, "")
    lowered = F.lower(no_paren)
    return F.array_distinct(F.array(base, no_sev, no_paren, lowered))


def canonical_surface_forms(names: DataFrame) -> DataFrame:
    """(label, name) -> (label, name, canonical) within each label.

    Blocking + CC: normalization variants generate the edge list (name <->
    variant, both namespaced by label so components never cross labels);
    components merge transitive chains; canonical = shortest original form
    (ties broken lexicographically) in the component.
    """
    base = names.select("label", "name").distinct()
    variants = base.select(
        "label", "name", F.explode(normalized_forms(F.col("name"))).alias("variant")
    )
    node_id = F.xxhash64("label", F.col("name"))
    var_id = F.xxhash64("label", F.col("variant"))
    edges = variants.select(node_id.alias("src"), var_id.alias("dst"))

    comp = connected_components(edges)
    labeled = base.select(
        "label", "name", F.xxhash64("label", "name").alias("id")
    ).join(comp, "id")
    # canonical per component: shortest original surface form, then
    # lexicographic (a window, so ``base`` is derived once, not per join side)
    winner = F.min(F.struct(F.length("name").alias("len"), F.col("name"))).over(
        Window.partitionBy("component")
    )
    return labeled.select("label", "name", winner["name"].alias("canonical"))


def apply_canonicalization(triples: DataFrame, mapping: DataFrame) -> DataFrame:
    """Rewrite subj/obj of extracted triples to canonical surface forms.

    ``mapping``: (label, name, canonical). A row rewrites only the subj/obj
    whose (type, name) equals its (label, name), so the caller chooses what
    gets canonicalized by the labels it maps. Broadcast joins — the mapping
    is entity-dictionary-sized, the triples are corpus-sized.
    """
    m = F.broadcast(mapping)
    subj_m = m.select(
        F.col("label").alias("subj_type"),
        F.col("name").alias("subj"),
        F.col("canonical").alias("subj_canon"),
    )
    obj_m = m.select(
        F.col("label").alias("obj_type"),
        F.col("name").alias("obj"),
        F.col("canonical").alias("obj_canon"),
    )
    out = (
        triples.join(subj_m, ["subj_type", "subj"], "left")
        .join(obj_m, ["obj_type", "obj"], "left")
        .withColumn("subj", F.coalesce("subj_canon", "subj"))
        .withColumn("obj", F.coalesce("obj_canon", "obj"))
    )
    return out.drop("subj_canon", "obj_canon")


def merge_components(existing: DataFrame, new_edges: DataFrame, src: str = "src",
                     dst: str = "dst", **cc_kwargs) -> DataFrame:
    """Incremental CC maintenance: fold a batch of NEW edges into an
    existing (id, component) labeling without re-deriving the original
    edge list (the expensive part — alias-similarity generation over the
    whole dictionary).

    Standard reduction: each existing label IS an edge (id ~ component),
    so CC over (labeling-as-edges ∪ new_edges) yields exactly the
    labeling of the union graph — min-id labels compose because the old
    component id is itself the min member id, so the re-run can only keep
    or lower labels. Input size is |V| + |batch| rows, vs |E_original| +
    |batch| for a full rebuild, and no upstream recomputation.
    Equivalence to the full rebuild is property-tested.
    """
    as_edges = existing.select(
        F.col("id").alias("src"), F.col("component").alias("dst")
    ).where(F.col("src") != F.col("dst"))
    batch = new_edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
    merged = connected_components(as_edges.unionByName(batch), **cc_kwargs)
    # nodes that were their own singleton component (and untouched by the
    # batch) don't appear in any edge — union them back unchanged
    untouched = existing.join(merged.select("id"), "id", "left_anti")
    return merged.unionByName(untouched)
