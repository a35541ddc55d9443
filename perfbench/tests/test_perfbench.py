"""Tests for the benchmark's own code (no Spark session needed).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import random
import re
from pathlib import Path

from perfbench import checks, gen, run as bench_run, workloads
from perfbench.trace import Tracer, combine, max_task_skew, parse_event_log

DATA = Path(__file__).parent / "data"
BENCHMARK = json.loads((Path(__file__).parents[2] / "BENCHMARK.json").read_text("utf-8"))


def _tree_bytes(root: Path) -> dict[str, bytes]:
    return {str(p.relative_to(root)): p.read_bytes() for p in sorted(root.rglob("*")) if p.is_file()}


def _web_files(seed: int, out: Path) -> dict[str, bytes]:
    corpus = gen.web_corpus(seed, n_pages=60, n_deltas=1, delta_pages=10, n_diseases=40,
                            variant_rate=0.2)
    gen.write_warc_files(corpus.pages, out / "corpus", 3)
    gen.write_warc_files(corpus.deltas[0], out / "delta", 1)
    return _tree_bytes(out)


def _structured_files(seed: int, out: Path) -> dict[str, bytes]:
    rng = random.Random(seed)
    vocab = gen.structured_vocab(rng, 30)
    base = gen.structured_batch(rng, vocab, 30, 0)
    update = gen.disease_update(rng, vocab, 8, 1000)
    gen.write_structured([base, update], out)
    return _tree_bytes(out)


def test_same_seed_same_bytes_other_seed_other_bytes(tmp_path):
    for make in (_web_files, _structured_files):
        a = make(7, tmp_path / make.__name__ / "a")
        b = make(7, tmp_path / make.__name__ / "b")
        c = make(8, tmp_path / make.__name__ / "c")
        assert a == b
        assert a.keys() == c.keys() and a != c


def test_planted_canonical_form_folds_variants():
    triples = {
        ("甲乙病", "Disease", "HAS_SYMPTOM", "丙痛", "Symptom"),
        ("甲乙病-重度", "Disease", "HAS_SYMPTOM", "丁痛", "Symptom"),
        ("戊己炎（急性）-重度", "Disease", "HAS_SYMPTOM", "丙痛", "Symptom"),
        ("戊己炎(慢性)", "Disease", "HAS_COMPLICATION", "甲乙病—急性", "Disease"),
    }
    assert gen.canonicalize(triples) == {
        ("甲乙病", "Disease", "HAS_SYMPTOM", "丙痛", "Symptom"),
        ("甲乙病", "Disease", "HAS_SYMPTOM", "丁痛", "Symptom"),
        # no base form of 戊己炎 is present: the shortest form present wins
        ("戊己炎(慢性)", "Disease", "HAS_SYMPTOM", "丙痛", "Symptom"),
        ("戊己炎(慢性)", "Disease", "HAS_COMPLICATION", "甲乙病", "Disease"),
    }


def test_generated_names_do_not_contain_each_other():
    v = gen.structured_vocab(random.Random(3), 200)
    names = v.diseases + v.stubs
    assert not [(a, b) for a in names for b in names if a != b and a in b]


def test_event_log_parser_counts_recorded_log():
    # recorded by data/record_eventlog.py from a local[2] session: group
    # "g-count" ran spark.range(0, 1000, 1, 4).count(), group "g-shuffle" a
    # groupBy over 4 partitions into 2, and a third job ran outside any group.
    # The expected counts are the ones Spark's status tracker reported.
    groups = parse_event_log(DATA / "eventlog.jsonl")
    assert set(groups) == {"g-count", "g-shuffle"}
    count, shuffle = groups["g-count"], groups["g-shuffle"]
    assert (count["jobs"], count["stages"], count["tasks"]) == (1, 2, 5)
    assert (shuffle["jobs"], shuffle["stages"], shuffle["tasks"]) == (1, 2, 6)
    for g in (count, shuffle):
        assert g["shuffle_write_bytes"] == g["shuffle_read_bytes"] > 0
        assert g["failed_tasks"] == g["input_bytes"] == 0
    assert [len(ms) for ms in shuffle["task_ms"].values()] == [4, 2]
    both = combine(groups, {"g-count", "g-shuffle", "absent"})
    assert (both["jobs"], both["tasks"]) == (2, 11)
    assert max_task_skew({1: [10, 20, 40], 2: [5]}) == 2.0


def test_tracer_self_time_and_descendants():
    tr = Tracer()
    with tr.span("outer") as outer:
        with tr.span("inner"):
            pass
        with tr.span("inner"):
            pass
    assert tr.descendants(outer["id"]) == {s["id"] for s in tr.spans}
    inner = sum(s["end"] - s["start"] for s in tr.named("inner"))
    assert abs(tr.self_time(outer) - ((outer["end"] - outer["start"]) - inner)) < 1e-9


def _fake_run(workload: str) -> workloads.Run:
    """A Run whose spans have the names a real run of ``workload`` records."""
    tr = Tracer()
    r = workloads.Run(None, Path("."), 1, 1.0, tr, True)
    names = (["pipeline.run_pipeline.resume", "pipeline.run_pipeline.build"]
             if workload == "web_build" else ["rag.build_and_publish"])
    for top in names:
        with tr.span(top):
            for child in ("pipeline.extract_stage", "pipeline.graph_stage"):
                with tr.span(child):
                    with tr.span("construct.save_graph"):
                        pass
    for name in ["construct.merge_into_graph", "query.retriever_init", "iso.read",
                 "iso.extract", "iso.canonicalize", "iso.build_graph"] + [
                     f"query.ask.{k}" for k in bench_run.KINDS]:
        with tr.span(name):
            pass
    for kind in r.samples:
        r.samples[kind] = [0.5, 0.25, 1.0]
    r.attempted, r.quality = 12, {"precision": 1.0, "recall": 1.0}
    r.info = {"merge_bucket_share": 1.0, "merged_precision": 0.99, "corpus_bytes": 10,
              "docs": 5, "triples_per_doc": 6.0, "graph_bytes": 10}
    return r


def test_printed_metric_names_are_declared():
    pattern = re.compile(r"[A-Za-z0-9_.-]+")
    e2e_declared = {m["name"]: m["unit"] for m in BENCHMARK["end_to_end"]}
    layer_declared = {m["name"]: m["unit"] for m in BENCHMARK["per_layer"]}
    assert [w["name"] for w in BENCHMARK["workloads"]] == list(bench_run.WORKLOADS)
    for workload in bench_run.WORKLOADS:
        r = _fake_run(workload)
        e2e = bench_run.end_to_end(r)
        layer = bench_run.per_layer(r, workload, 1.0, 100.0, {}, e2e, 0)
        assert {k: u for k, (_v, u) in e2e.items()} == e2e_declared
        assert {k: u for k, (_v, u) in layer.items()} == layer_declared
        assert all(pattern.fullmatch(k) for k in [*e2e, *layer])


def test_expected_context_branches():
    nodes = {
        ("Disease", "甲乙病"): {"intro": "简介文本"},
        ("Symptom", "丙痛"): {},
        ("Insurance", "平安甲险"): {"age_limit": "适合老年人投保", "category": "医疗险",
                                  "description": "覆盖高血压等慢病人群"},
        ("Population", "老年人"): {},
        ("NursingHome", "北京甲养老院"): {"price": "3000", "address": "北京市幸福路1号"},
    }
    edges = {
        ("Disease", "甲乙病", "HAS_SYMPTOM", "Symptom", "丙痛"),
        ("Insurance", "平安甲险", "TARGETS_POPULATION", "Population", "老年人"),
        ("Insurance", "平安甲险", "COVERS_DISEASE", "Disease", "甲乙病"),
    }
    model = (nodes, edges)
    assert checks.expected_context(model, "disease", "甲乙病") == (
        "【疾病信息】甲乙病:\n  - 简介: 简介文本\n  - 症状: 丙痛\n\n\n"
        "【推荐保险】针对 甲乙病 的相关保险产品: 平安甲险 (年龄限制: 适合老年人投保)")
    assert checks.expected_context(model, "age", 70) == (
        "【适老保险】适合 70 岁人群的保险产品: 平安甲险 (适合老年人投保)")
    assert checks.expected_context(model, "series", "平安").startswith(
        "【保险产品库】(已根据关键词 '平安' 筛选):\n【产品】平安甲险\n   - 险种: 医疗险")
    assert checks.expected_context(model, "nursing", ("北京", 2000)) == (
        "【养老机构】未找到符合条件的养老院 (城市: 北京, 预算: 2000)。")
    assert checks.expected_context(model, "empty", None) == checks.EMPTY_CONTEXT



def test_question_mix_asks_every_branch_once_per_cycle():
    stream = gen.questions(random.Random(3), ["甲乙病"])
    cycles = [[next(stream)[0] for _ in gen.QUESTION_MIX] for _ in range(3)]
    assert all(sorted(c) == sorted(bench_run.KINDS) for c in cycles)
    first = [next(gen.questions(random.Random(3), ["甲乙病"])) for _ in range(2)]
    assert first[0] == first[1]  # the same seed asks the same questions
