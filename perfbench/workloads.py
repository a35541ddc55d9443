"""The two benchmark workloads. Each runs the same operation kinds (build,
merge, ask) so every end-to-end metric has a value on both, but on inputs
that put the work in different layers.

Each workload gets a :class:`Run` and fills ``run.samples`` (wall seconds
per operation kind), counts operations and failures, and records the spans the
traced run attributes Spark's accounting to.
"""

from __future__ import annotations

import os
import random
import statistics
import time
from dataclasses import dataclass, field
from pathlib import Path

from pyspark.sql import functions as F

from perfbench import checks, gen
from perfbench.trace import Tracer

CORES = len(os.sched_getaffinity(0))  # what nproc reports: Spark runs local[CORES]
# web_build sizes: the scan and HTML->text->OpenIE stage see every page;
# Zipf hubs and surface-form variants load canonicalization and the graph
WEB = dict(pages=1500, files=8, diseases=400, variant_rate=0.1, deltas=2,
           delta_pages=100, buckets=CORES, cycles=2)
# rag_serve sizes: a structured graph well beyond the 12-row miniature
RAG = dict(diseases=300, records=300, updates=2, update_records=40, buckets=CORES,
           cycles=1)
# ``cycles``: cycles of the question mix asked after each merge. Asking
# between the merges spreads both kinds of samples over the timed part, so a
# burst of load from other tenants of a shared host skews fewer of them.


@dataclass
class Run:
    spark: object
    work: Path
    seed: int
    seconds: float
    tracer: Tracer
    traced: bool
    samples: dict = field(default_factory=lambda: {"build": [], "merge": [], "ask": []})
    attempted: int = 0
    failed: int = 0
    failures: list = field(default_factory=list)
    quality: dict = field(default_factory=dict)  # precision / recall of the checked build
    info: dict = field(default_factory=dict)  # workload facts for the traced run
    process_start: float = 0.0  # perf_counter at process start
    setup_s: float = 0.0

    def timed(self, kind: str, name: str, fn):
        """Run one operation inside a span and keep its wall time."""
        with self.tracer.span(name) as sp:
            out = fn()
        self.samples[kind].append(sp["end"] - sp["start"])
        self.attempted += 1
        return out

    def start_timing(self) -> None:
        """End of the first set-up part (session, inputs, first build)."""
        self.setup_s += time.perf_counter() - self.process_start

    def setup(self, name: str, fn):
        """Run a later set-up step (a retriever, a warm-up question) inside a
        span and add its wall time to ``setup_s``."""
        with self.tracer.span(name) as sp:
            out = fn()
        self.setup_s += sp["end"] - sp["start"]
        return out

    def fail(self, what: str) -> None:
        self.failed += 1
        self.failures.append(what)


def _dir_bytes(path: Path) -> int:
    return sum(p.stat().st_size for p in path.rglob("*") if p.is_file())


class Client:
    """One closed-loop client: the next question goes out when the previous
    answer is back. Questions come from one seeded stream cycling through
    ``mix``; every answer is checked against the model of the snapshot
    asked."""

    def __init__(self, run: Run, diseases: list[str], mix: list[str]):
        self.run, self.diseases, self.mix = run, diseases, mix
        self.stream = gen.questions(random.Random(run.seed + 1), diseases, mix)
        self.retriever = self.model = None

    def snapshot(self, nodes, edges, model) -> None:
        """Set-up, in ``setup_s``: a ``ContextRetriever`` over a newly
        written graph, as a server builds one per published snapshot; before
        the first timed question, one warm-up question."""
        from kgspark.query.rag import ContextRetriever

        warm = self.retriever is None
        self.retriever = self.run.setup("query.retriever_init",
                                        lambda: ContextRetriever(nodes, edges))
        self.model = model
        if warm:
            self._ask(*next(gen.questions(random.Random(self.run.seed + 2), self.diseases,
                                          ["disease"])), timed=False)

    def cycles(self, n: int) -> None:
        for _ in range(n * len(self.mix)):
            self._ask(*next(self.stream))

    def fill(self) -> None:
        """More cycles until the questions have run ``--seconds`` in all."""
        while sum(self.run.samples["ask"]) < self.run.seconds:
            self.cycles(1)

    def _ask(self, kind: str, q: str, arg, timed: bool = True) -> None:
        run = self.run
        call = lambda: self.retriever.ask(q)["context"]  # noqa: E731
        if timed:
            ctx = run.timed("ask", f"query.ask.{kind}", call)
        else:
            ctx = run.setup("query.ask.warmup", call)
            run.attempted += 1
        if ctx != checks.expected_context(self.model, kind, arg):
            run.fail(f"ask {kind}: {q}")


# ---------------------------------------------------------------------------
# web_build
# ---------------------------------------------------------------------------
def web_build(run: Run) -> None:
    from kgspark import pipeline
    from kgspark.construct import graph as g
    from kgspark.extract.openie import extract_doc_triples
    from kgspark.sources.warc import read_warc

    spark, work, c = run.spark, run.work, WEB
    corpus = gen.web_corpus(run.seed, c["pages"], c["deltas"], c["delta_pages"],
                            c["diseases"], c["variant_rate"])
    gen.write_warc_files(corpus.pages, work / "corpus", c["files"])
    for k, delta in enumerate(corpus.deltas):
        gen.write_warc_files(delta, work / f"delta{k}", 1)
    planted = gen.canonicalize({t for p in corpus.pages for t in p.triples})
    run.info.update(corpus.stats, corpus_bytes=_dir_bytes(work / "corpus"))
    run.info["docs"] = len(corpus.pages)

    def build(out: Path):
        return pipeline.run_pipeline(spark, read_warc(spark, str(work / "corpus")), str(out),
                                     n_buckets=c["buckets"])

    # the first build of the process is set-up and also the build sample: it
    # is what a batch job pays, and a separate warm-up build would not fit
    # the benchmark's time budget
    out = work / "graph"
    res = run.timed("build", "pipeline.run_pipeline.build", lambda: build(out))
    run.info["triples_per_doc"] = res.n_triples / max(res.n_docs, 1)
    nodes, edges, faults = checks.graph_model(spark.read.parquet(f"{out}/nodes"),
                                              spark.read.parquet(f"{out}/edges"))
    p, r = checks.precision_recall(
        {(s, st, pr, o, ot) for st, s, pr, ot, o in edges}, planted)
    run.quality = {"precision": p, "recall": r}
    if faults or p < 0.95 or r < 0.95:  # the paper's P/R target
        run.fail(f"build: precision {p:.4f} recall {r:.4f} integrity faults {faults}")

    if run.traced:
        # re-running the pipeline on a finished dir (~1.2x a warm build) is a
        # per-layer measurement: in every run it would not fit the time budget
        with run.tracer.span("pipeline.run_pipeline.resume"):
            res = build(out)
        run.attempted += 1
        if (res.n_buckets_processed, res.n_buckets_skipped) != (0, c["buckets"]):
            run.fail(f"resume redid work: {res}")
        if checks.graph_model(spark.read.parquet(f"{out}/nodes"),
                              spark.read.parquet(f"{out}/edges")) != (nodes, edges, faults):
            run.fail("resume: graph changed")

    run.start_timing()

    # merges: the contract is build_graph over the triples of all batches, i.e.
    # the graph so far plus this batch's triples, as written (no canonicalization).
    # After each, disease questions (the only branch a web-built graph has
    # facts for) over the merged graph; their expected answers come from the
    # planted facts: canonical base corpus plus the deltas so far as written.
    expect_nodes, expect_edges = dict(nodes), set(edges)
    hubs = [d for d in corpus.vocab.diseases[:50] if ("Disease", d) in expect_nodes]
    client = Client(run, hubs, ["disease"])
    answered = set(planted)
    shares = []
    for k, delta in enumerate(corpus.deltas):
        def merge(k=k):
            tri = extract_doc_triples(read_warc(spark, str(work / f"delta{k}")), fused_html=True)
            return g.merge_into_graph(
                spark, str(out), [], tri.select("subj", "subj_type", "pred", "obj", "obj_type"),
                n_buckets=c["buckets"])
        rep = run.timed("merge", "construct.merge_into_graph", merge)
        shares.append(rep["affected_buckets"] / rep["n_buckets"])
        d_nodes, d_edges = checks.model_from_triples(t for pg in delta for t in pg.triples)
        for key in d_nodes:
            expect_nodes.setdefault(key, {})
        expect_edges |= d_edges
        got_nodes, got_edges, faults = checks.graph_model(
            spark.read.parquet(f"{out}/nodes"), spark.read.parquet(f"{out}/edges"))
        if faults or got_nodes != expect_nodes or got_edges != expect_edges:
            run.fail(f"merge {k}: graph differs from build_graph over all batches")
        answered |= {t for pg in delta for t in pg.triples}
        client.snapshot(spark.read.parquet(f"{out}/nodes"), spark.read.parquet(f"{out}/edges"),
                        checks.model_from_triples(answered))
        client.cycles(c["cycles"])
    client.fill()
    run.info["merge_bucket_share"] = statistics.median(shares)
    # how far the merged graph is from the canonical form of everything planted
    all_planted = gen.canonicalize(
        {t for pg in corpus.pages + [x for d in corpus.deltas for x in d] for t in pg.triples})
    run.info["merged_precision"] = checks.precision_recall(
        {(s, st, pr, o, ot) for st, s, pr, ot, o in got_edges}, all_planted)[0]

    if run.traced:
        _web_isolation(run, out)


def _web_isolation(run: Run, out: Path) -> None:
    """Standalone calls, one layer each, on materialized inputs."""
    from kgspark.construct import graph as g
    from kgspark.extract import components
    from kgspark.extract.openie import extract_doc_triples
    from kgspark.sources.warc import read_warc

    spark, work, tr = run.spark, run.work, run.tracer
    with tr.span("iso.read"):
        read_warc(spark, str(work / "corpus")).count()
    read_warc(spark, str(work / "corpus")).write.parquet(str(work / "pages"))
    with tr.span("iso.extract"):
        extract_doc_triples(spark.read.parquet(str(work / "pages")), fused_html=True) \
            .write.format("noop").mode("overwrite").save()
    triples = spark.read.parquet(f"{out}/doc_triples").drop("bucket")
    # the Disease names graph_stage canonicalizes
    names = (
        triples.select(F.col("subj_type").alias("label"), F.col("subj").alias("name"))
        .union(triples.select("obj_type", "obj"))
        .filter(F.col("label") == "Disease").distinct()
    )
    with tr.span("iso.canonicalize"):
        components.canonical_surface_forms(names).write.format("noop").mode("overwrite").save()
    _iso_build_graph(run, lambda: g.build_graph(
        [spark.createDataFrame([], "label string, name string, props map<string,string>, seq long")],
        triples.select("subj", "subj_type", "pred", "obj", "obj_type")))


def _iso_build_graph(run: Run, build) -> None:
    with run.tracer.span("iso.build_graph"):
        nodes, edges = build()[:2]
        nodes.write.format("noop").mode("overwrite").save()
        edges.write.format("noop").mode("overwrite").save()


# ---------------------------------------------------------------------------
# rag_serve
# ---------------------------------------------------------------------------
def _disease_delta(spark, path: str):
    """MERGE records and triples of a disease-catalog update, read with the
    distributed scan (``read_diseases_spark``) and projected the way the
    ordered loader projects the catalog. Names in an update are unique, so
    their order within it does not matter."""
    from kgspark import ontology
    from kgspark.construct import graph, triples as tr
    from kgspark.sources import structured as src

    diseases = src.read_diseases_spark(spark, path).select(
        "name", *src.DISEASE_PROP_FIELDS, "symptom", "drug", "neopathy",
        F.trim(F.coalesce(F.col("cure_dept"), F.lit(""))).alias("dept"),
        F.monotonically_increasing_id().alias("seq"),
    )
    return ([graph.node_records_from_source(diseases, "Disease", src.DISEASE_PROP_FIELDS)],
            tr.triples_from_records(diseases, ontology.DISEASE_RULES))


def rag_serve(run: Run) -> None:
    from kgspark.construct import graph as g
    from kgspark.construct import oracle
    from kgspark.construct.reference_build import StructuredSources, build_structured_graph

    spark, work, c = run.spark, run.work, RAG
    rng = random.Random(run.seed)
    vocab = gen.structured_vocab(rng, c["diseases"])
    base = gen.structured_batch(rng, vocab, c["records"], 0)
    updates = [gen.disease_update(rng, vocab, c["update_records"], 100_000 * (k + 1))
               for k in range(c["updates"])]
    gen.write_structured([base], work / "base")
    # expected graph after k updates: the oracle replays base + updates[:k]
    # written as one source set (single-source updates keep the write order)
    expected = []
    for k in range(c["updates"] + 1):
        gen.write_structured([base, *updates[:k]], work / f"expect{k}")
        expected.append(oracle.replay(work / f"expect{k}"))
    for k, update in enumerate(updates):
        gen.write_structured([update], work / f"update{k}")
    base_src = StructuredSources.under(work / "base")
    diseases = sorted(n for (label, n) in expected[-1][0] if label == "Disease")

    # set-up: build and publish the served graph, the first build of the
    # process and the workload's build sample
    out = work / "graph"

    def publish() -> int:
        nodes, edges, _ = build_structured_graph(spark, base_src)
        return g.publish_graph(nodes, edges, str(out), n_buckets=c["buckets"])

    v = run.timed("build", "rag.build_and_publish", publish)
    nodes, edges, faults = checks.graph_model(*g.load_graph(spark, str(out)))
    p, r = checks.precision_recall(edges, expected[0][1])
    run.quality = {"precision": p, "recall": r}
    if faults or (nodes, edges) != expected[0]:
        run.fail(f"build: differs from oracle replay (precision {p:.4f} recall {r:.4f})")

    run.start_timing()
    client = Client(run, diseases, gen.QUESTION_MIX)
    shares = []
    for k in range(c["updates"]):
        path = str(work / f"update{k}" / "Diseases" / "diseases.json")
        rep = run.timed("merge", "construct.merge_into_graph", lambda: g.merge_into_graph(
            spark, f"{out}/v{v}", *_disease_delta(spark, path), n_buckets=c["buckets"]))
        shares.append(rep["affected_buckets"] / rep["n_buckets"])
        nodes, edges, faults = checks.graph_model(*g.load_graph(spark, str(out)))
        if faults or (nodes, edges) != expected[k + 1]:
            run.fail(f"merge {k}: differs from oracle replay of base + updates")
        client.snapshot(*g.load_graph(spark, str(out)), expected[k + 1])
        client.cycles(c["cycles"])
    client.fill()
    run.info["merge_bucket_share"] = statistics.median(shares)
    run.info["merged_precision"] = checks.precision_recall(edges, expected[-1][1])[0]
    run.info["graph_bytes"] = _dir_bytes(out / f"v{v}")

    if run.traced:
        from kgspark.sources import structured as src

        with run.tracer.span("iso.read"):
            for load, path in ((src.load_diseases, base_src.diseases),
                               (src.load_drugs, base_src.drugs),
                               (src.load_nursing_homes, base_src.nursing_homes),
                               (src.load_insurances, base_src.insurances)):
                load(spark, path).count()
        _iso_build_graph(run, lambda: build_structured_graph(spark, base_src))
