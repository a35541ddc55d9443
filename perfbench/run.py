"""kgspark benchmark: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload web_build --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. It starts Spark at ``nproc`` cores, writes
the seeded inputs under ``.perfbench_work/`` in the checkout, times only
calls into kgspark, checks every output against the planted facts, and
prints the end-to-end metrics (``--trace 0``) or the per-layer metrics
attributed through Spark job groups (``--trace 1``) as the last stdout line.
"""

from __future__ import annotations

import time

T0 = time.perf_counter()  # set-up time counts from here

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
from pathlib import Path  # noqa: E402

ROOT = Path(__file__).resolve().parents[1]
WORKLOADS = ("web_build", "rag_serve")
KINDS = ("disease", "age", "series", "generic", "nursing", "empty")


def _vm_hwm_kb(pid: int | str) -> int:
    with open(f"/proc/{pid}/status", encoding="ascii") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def _tail(samples: list[float]) -> tuple[float, str]:
    """Highest percentile with at least ten samples beyond it (the sample
    with exactly ten above it); the maximum when there are ten or fewer."""
    s = sorted(samples)
    n = len(s)
    if n <= 10:
        return s[-1], f"max of {n} samples (fewer than 11)"
    return s[n - 11], f"p{100 * (n - 10) / n:.1f} of {n} samples (10 beyond it)"


def end_to_end(run) -> dict:
    sm = run.samples
    return {
        "setup_s": (run.setup_s, "s"),
        "build_s": (statistics.median(sm["build"]), "s"),
        "merge_s": (statistics.median(sm["merge"]), "s"),
        "ask_qps": (len(sm["ask"]) / sum(sm["ask"]), "1/s"),
        "triple_precision": (run.quality["precision"], "ratio"),
        "triple_recall": (run.quality["recall"], "ratio"),
    }


def per_layer(run, workload: str, session_s: float, peak_rss_mb: float, groups: dict,
              e2e: dict, eventlog_bytes: int) -> dict:
    from perfbench.trace import combine, max_task_skew

    tr = run.tracer
    dur = lambda s: s["end"] - s["start"]  # noqa: E731
    acct = lambda s: combine(groups, tr.descendants(s["id"]))  # noqa: E731

    def one(name: str, under: dict | None = None) -> dict | None:
        scope = tr.descendants(under["id"]) if under else None
        for s in tr.named(name):
            if scope is None or s["id"] in scope:
                return s
        return None

    def med(values) -> float:
        values = list(values)
        return statistics.median(values) if values else 0.0

    merges = tr.named("construct.merge_into_graph")
    merges = [s for s in merges if s["parent"] is None]
    asks = [s for k in KINDS for s in tr.named(f"query.ask.{k}")]
    tail, tail_note = _tail(run.samples["ask"])
    print(f"query.ask_tail_s = {tail_note}")
    m = {
        "process.peak_rss_mb": (peak_rss_mb, "MB"),
        "session.start_s": (session_s, "s"),
        "sources.read_s": (dur(one("iso.read")), "s"),
        "construct.build_graph_s": (dur(one("iso.build_graph")), "s"),
        "construct.merge_s": (med(dur(s) for s in merges), "s"),
        "construct.merge_jobs": (med(acct(s)["jobs"] for s in merges), "count"),
        "construct.merge_bucket_share": (run.info["merge_bucket_share"], "ratio"),
        "query.retriever_init_s": (dur(one("query.retriever_init")), "s"),
        "query.ask_p50_s": (statistics.median(run.samples["ask"]), "s"),
        "query.ask_tail_s": (tail, "s"),
        "query.ask_jobs": (med(acct(s)["jobs"] for s in asks), "count"),
        "checks.failed_ops_ratio": (run.failed / run.attempted, "ratio"),
        "checks.merged_precision": (run.info["merged_precision"], "ratio"),
        "trace.eventlog_mb": (eventlog_bytes / 2**20, "MB"),
    }
    for k in KINDS:
        m[f"query.ask_s.{k}"] = (med(dur(s) for s in tr.named(f"query.ask.{k}")), "s")
    for name in ("build_s", "merge_s", "ask_qps"):
        m[f"trace.{name}"] = e2e[name]
    zero = {  # layers the workload does not run report 0
        "extract.openie_docs_per_s": (0.0, "1/s"),
        "extract.triples_per_doc": (0.0, "count"),
        "extract.canonicalize_s": (0.0, "s"),
        "extract.canonicalize_jobs": (0.0, "count"),
        "pipeline.extract_stage_s": (0.0, "s"),
        "pipeline.extract_stage_jobs": (0.0, "count"),
        "pipeline.graph_stage_s": (0.0, "s"),
        "pipeline.graph_stage_jobs": (0.0, "count"),
        "pipeline.resume_s": (0.0, "s"),
        "pipeline.resume_skip_s": (0.0, "s"),
    }
    m.update(zero)
    if workload == "web_build":
        build = one("pipeline.run_pipeline.build")
        resume = one("pipeline.run_pipeline.resume")
        ex, gs = one("pipeline.extract_stage", build), one("pipeline.graph_stage", build)
        canon = one("iso.canonicalize")
        construct_scope = gs
        m.update({
            "sources.read_amplification": (acct(build)["input_bytes"] / run.info["corpus_bytes"],
                                           "ratio"),
            "extract.openie_docs_per_s": (run.info["docs"] / dur(one("iso.extract")), "1/s"),
            "extract.triples_per_doc": (run.info["triples_per_doc"], "count"),
            "extract.canonicalize_s": (dur(canon), "s"),
            "extract.canonicalize_jobs": (acct(canon)["jobs"], "count"),
            "construct.save_graph_s": (dur(one("construct.save_graph", build)), "s"),
            "pipeline.extract_stage_s": (dur(ex), "s"),
            "pipeline.extract_stage_jobs": (acct(ex)["jobs"], "count"),
            "pipeline.graph_stage_s": (dur(gs), "s"),
            "pipeline.graph_stage_jobs": (acct(gs)["jobs"], "count"),
            "pipeline.resume_s": (dur(resume), "s"),
            "pipeline.resume_skip_s": (dur(one("pipeline.extract_stage", resume)), "s"),
        })
    else:
        build = one("rag.build_and_publish")
        construct_scope = build
        ask_bytes = med(acct(s)["input_bytes"] for s in asks)
        m.update({
            "sources.read_amplification": (ask_bytes / run.info["graph_bytes"], "ratio"),
            "construct.save_graph_s": (dur(one("construct.save_graph", build)), "s"),
        })
    c = acct(construct_scope)
    m["construct.shuffle_bytes"] = (c["shuffle_write_bytes"], "bytes")
    m["construct.max_task_skew"] = (max_task_skew(c["task_ms"]), "ratio")
    return m


def report_spans(run, groups: dict) -> None:
    """One line per traced call name: calls, median wall and self time, and
    Spark's accounting summed over the calls (nested calls included)."""
    from perfbench.trace import combine

    tr = run.tracer
    by_name: dict[str, list] = {}
    for s in tr.spans:
        by_name.setdefault(s["name"], []).append(s)
    for name, spans in by_name.items():
        c = combine(groups, set().union(*(tr.descendants(s["id"]) for s in spans)))
        wall = statistics.median(s["end"] - s["start"] for s in spans)
        self_t = statistics.median(tr.self_time(s) for s in spans)
        print(f"span {name}: calls={len(spans)} wall_s={wall:.3f} self_s={self_t:.3f} "
              f"jobs={c['jobs']} stages={c['stages']} tasks={c['tasks']} "
              f"input_bytes={c['input_bytes']} shuffle_read_bytes={c['shuffle_read_bytes']} "
              f"shuffle_write_bytes={c['shuffle_write_bytes']}")


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, str(ROOT))
    work = ROOT / ".perfbench_work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    tmp = work / "tmp"
    tmp.mkdir(parents=True)
    # keep every file Spark, the JVM and Python workers write inside the checkout
    os.environ["SPARK_LOCAL_DIRS"] = str(tmp)
    os.environ["TMPDIR"] = str(tmp)
    # a 3 GB driver heap is ample for these inputs, keeps the run small on a
    # shared machine, and stops heap growth from making peak RSS wander
    os.environ["KGSPARK_DRIVER_MEM"] = "3g"
    try:
        return _run(args, work, tmp)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            work.parent.rmdir()  # only when no other run is using it
        except OSError:
            pass


def _run(args, work: Path, tmp: Path) -> int:
    from kgspark.session import get_spark

    from perfbench import workloads
    from perfbench.trace import Tracer, parse_event_log

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": str(tmp),
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
    }
    evdir = work / "eventlog"
    if args.trace:
        evdir.mkdir()
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": str(evdir),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    t = time.perf_counter()
    spark = get_spark("perfbench", cpus=workloads.CORES, extra_conf=conf)
    session_s = time.perf_counter() - t
    sc = spark.sparkContext
    gateway = sc._gateway
    jvm = gateway.proc
    try:
        tracer = Tracer(sc if args.trace else None)
        if args.trace:
            from kgspark import pipeline
            from kgspark.construct import graph
            from kgspark.extract import components

            tracer.wrap(pipeline, "extract_stage", "pipeline.extract_stage")
            tracer.wrap(pipeline, "graph_stage", "pipeline.graph_stage")
            tracer.wrap(graph, "build_graph", "construct.build_graph")
            tracer.wrap(graph, "save_graph", "construct.save_graph")
            tracer.wrap(components, "canonical_surface_forms", "extract.canonical_surface_forms")
        run = workloads.Run(spark, work, args.seed, args.seconds, tracer, bool(args.trace),
                            process_start=T0)
        getattr(workloads, args.workload)(run)
        peak_rss_mb = (_vm_hwm_kb("self") + _vm_hwm_kb(jvm.pid)) / 1024
    finally:
        spark.stop()
        gateway.shutdown()
        jvm.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            jvm.wait(timeout=60)
        except subprocess.TimeoutExpired:
            jvm.kill()
            jvm.wait()

    for f in run.failures:
        print(f"FAILED: {f}")
    print(f"workload facts: {json.dumps(run.info, ensure_ascii=False)}")
    print("operation wall times: "
          + json.dumps({k: [round(x, 4) for x in v] for k, v in run.samples.items()}))
    e2e = end_to_end(run)
    if args.trace:
        groups = parse_event_log(evdir)
        report_spans(run, groups)
        ev_bytes = sum(p.stat().st_size for p in evdir.rglob("*") if p.is_file())
        metrics = per_layer(run, args.workload, session_s, peak_rss_mb, groups, e2e, ev_bytes)
    else:
        metrics = e2e
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
