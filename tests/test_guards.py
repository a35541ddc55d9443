"""Static guards from BASELINE.md: no per-row Python UDFs anywhere; no code
copied verbatim from the reference tree; no new module off the build->serve path."""

from __future__ import annotations

import ast
import re
from pathlib import Path

PKG = Path(__file__).parent.parent / "kgspark"

# Where a build or a question enters kgspark. Every kgspark module outside
# OFF_PATH must be imported, directly or not, from one of these.
PATH_ENTRY_POINTS = (
    "kgspark.session",  # the Spark session every job script starts from
    "kgspark.sources.warc",  # WARC source scan of the web build
    "kgspark.pipeline",  # run_pipeline: extract stage + graph stage
    "kgspark.construct.reference_build",  # structured-source build
    "kgspark.construct.graph",  # build / save / merge / publish / load
    "kgspark.query.rag",  # GraphRAG retrieval over the published graph
    "kgspark.streaming",  # KG ingest of a file stream
    # test and registry support
    "kgspark.fixtures",
    "kgspark.construct.oracle",
    "kgspark.tpch_graph",
)


def _sources() -> list[tuple[Path, str]]:
    return [(p, p.read_text("utf-8")) for p in PKG.rglob("*.py")]


def test_no_row_at_a_time_udfs():
    """input_hint: vectorized pandas/Arrow UDFs only — no F.udf registrations."""
    bad = []
    for path, src in _sources():
        if re.search(r"\bF\.udf\(|\budf\(\s*lambda|@udf\b|spark\.udf\.register", src):
            bad.append(str(path))
    assert not bad, f"row-at-a-time UDFs found in: {bad}"


def test_no_rdd_usage_in_data_plane():
    bad = []
    for path, src in _sources():
        if re.search(r"\.rdd\b|sparkContext\.parallelize", src):
            bad.append(str(path))
    assert not bad, f"RDD usage found in: {bad}"


def test_no_collect_outside_dimension_scale_allowlist():
    """Fail-closed: every kgspark module is a no-collect corpus module unless
    explicitly allowlisted here with the dimension-scale reason. A new module
    that drives data to the driver must justify itself in this table (VERDICT
    r04 finding 3: the old hand-pinned module list failed open)."""
    allowed = {
        "construct/graph.py": "merge bucket probe: <= n_buckets rows",
        "extract/api.py": "user-facing .extract() result materialization",
        "extract/components.py": "union-find endgame edge list: <= _CC_LOCAL_THRESHOLD rows",
        "extract/mentions.py": "alias dict broadcast: dictionary-scale",
        "ops/asof.py": "broadcast tier is row-count guarded",
        "ops/bpe.py": "driver-local merge loop gated by max_local_vocab",
        "ops/curation.py": "Bloom 128KB registers / DSIR literal log-ratio table",
        "ops/dedup.py": "LSH band-count fixpoint: 1-row aggregates",
        "ops/kg_sampling.py": "entity/relation vocab: dimension-scale",
        "ops/kmeans.py": "k centroids per Lloyd round: k x dim floats",
        "ops/pq.py": "codebooks + query distance tables: constant-size",
        "ops/similarity.py": "IVF centroids: dimension-scale",
        "pipeline.py": "lineage rows (<= n_buckets) + Disease alias mapping: dictionary-scale",
        "query/rag.py": "Disease entity dictionary, once per snapshot",
        "query/retriever.py": "retrieval rows: LIMIT- or one-entity-degree-bounded",
        "query/subgraph.py": "BFS frontier convergence: 1-row counts",
    }
    offenders = []
    for path, src in _sources():
        rel = str(path.relative_to(PKG)).replace("\\", "/")
        if ".collect()" in src or ".toPandas()" in src:
            if rel not in allowed:
                offenders.append(rel)
    assert not offenders, (
        f"collect()/toPandas() in non-allowlisted modules {offenders}: either "
        "remove the driver-side materialization or add the module here with "
        "its dimension-scale justification"
    )
    stale = [m for m in allowed if not (PKG / m).exists()]
    assert not stale, f"allowlist entries for missing modules: {stale}"


def test_loader_plans_are_local_table_scans(spark, mini_sources):
    """The ordered catalog loaders ship their rows as one Arrow table: the
    executed plan is a JVM ``LocalTableScan``. A list passed to
    ``createDataFrame`` is a hidden ``parallelize`` (``Scan ExistingRDD``)."""
    from kgspark.sources import structured as src

    frames = {
        "load_diseases": src.load_diseases(spark, mini_sources.diseases),
        "load_drugs": src.load_drugs(spark, mini_sources.drugs),
        "load_nursing_homes": src.load_nursing_homes(spark, mini_sources.nursing_homes),
        "load_insurances": src.load_insurances(spark, mini_sources.insurances),
    }
    for name, df in frames.items():
        df.collect()
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "LocalTableScan" in plan and "ExistingRDD" not in plan, (name, plan)


def _module_file(name: str) -> Path | None:
    base = PKG.parent.joinpath(*name.split("."))
    for path in (base / "__init__.py", base.with_suffix(".py")):
        if path.exists():
            return path
    return None


def _kgspark_imports(path: Path) -> set[str]:
    """Every kgspark module an absolute import anywhere in the file may name,
    function-level imports included (``from a import b`` names ``a`` and,
    if it is a module, ``a.b``). kgspark has no relative imports; one would
    leave its target unreached, so this test fails rather than passes."""
    named = set()
    for node in ast.walk(ast.parse(path.read_text("utf-8"))):
        if isinstance(node, ast.Import):
            named |= {a.name for a in node.names}
        elif isinstance(node, ast.ImportFrom) and node.module:
            named.add(node.module)
            named |= {f"{node.module}.{a.name}" for a in node.names}
    return {m for m in named if m == "kgspark" or m.startswith("kgspark.")}


# Operator-library modules the build->serve path never imports. Each is still
# tested on its own; this list only shrinks: a module that gets wired into the
# path or deleted must leave it, and a new module must be reached from the path.
OFF_PATH = frozenset(
    f"kgspark.{m}"
    for m in (
        "construct.fusion", "construct.typecheck",
        "extract.api", "extract.cooccur", "extract.links", "extract.mentions",
        "ops.asof", "ops.audiohash", "ops.behavior", "ops.bpe", "ops.distmult",
        "ops.graph_algs", "ops.jpeg", "ops.kg_sampling", "ops.kmeans", "ops.mp4",
        "ops.multimodal", "ops.phash", "ops.pq", "ops.rake", "ops.sample",
        "ops.similarity", "ops.skew", "ops.textrank", "ops.transe",
        "ops.unicodenorm", "ops.wl",
        "query.motif", "query.stats", "query.subgraph",
    )
)


def test_every_module_is_reached_from_the_path():
    """The static import closure of the build->serve entry points covers
    every kgspark module outside OFF_PATH: code that only tests or scripts
    import is a second product to maintain. Wire it into the path or delete
    it; never add to OFF_PATH."""
    reached: set[str] = set()
    todo = list(PATH_ENTRY_POINTS)
    while todo:
        name = todo.pop()
        path = _module_file(name)
        if name in reached or path is None:
            continue
        reached.add(name)
        parts = name.split(".")
        todo += [".".join(parts[:i]) for i in range(1, len(parts))]
        todo += _kgspark_imports(path)
    every = {
        ".".join(p.relative_to(PKG.parent).with_suffix("").parts).removesuffix(".__init__")
        for p in PKG.rglob("*.py")
    }
    unreached = every - reached
    assert not sorted(unreached - OFF_PATH), "kgspark modules off the build->serve path"
    assert not sorted(OFF_PATH - unreached), "stale OFF_PATH entries (reached or deleted)"
