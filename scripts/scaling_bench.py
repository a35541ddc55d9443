#!/usr/bin/env python
"""Two-parallelism scaling evidence (BASELINE.json north rule).

The rule asks for throughput scaling efficiency >= 0.8 from N to 4N
executors; the sandbox proxy (per driver instruction: "N and 4N cores") is
the same job at local[N] vs local[4N] on identical input (same partition
count, same bytes). Each level runs in a fresh subprocess (one JVM per
master setting).

Methodology notes (what a real cluster would not need):
- Python workers are warmed with a small off-the-clock pass; reported time is
  the best of 3 steady-state runs (cold import of numpy/pandas in every
  worker is a per-JVM startup artifact, not throughput).
- N=4 vs 4N=16 by default: this box has 32 physical cores, and a local[32]
  run makes 32 Python workers contend with the JVM's own scan/Arrow/shuffle
  threads on the same cores — on a real cluster executors have dedicated
  cores. 4 vs 16 keeps the JVM overhead off the measured cores at both
  levels while preserving the 4x ratio.

Usage: python scripts/scaling_bench.py [n_docs] [out_md] [N]
Writes BENCH/BASELINE.md with throughput at both levels + efficiency.
"""

from __future__ import annotations

import json
import subprocess
import sys
from pathlib import Path

WORKER = r"""
import json, sys, time
cpus = int(sys.argv[1]); n_docs = int(sys.argv[2]); parts = int(sys.argv[3])
from kgspark.session import get_spark
from kgspark import fixtures
from kgspark.extract.openie import extract_doc_triples
from kgspark.construct.graph import edges_from_triples

def jiffies():
    # (steal, total) from /proc/stat: hypervisor co-tenant time our own
    # threads cannot inflate.
    try:
        v = [int(x) for x in open("/proc/stat").readline().split()[1:]]
        return (v[7] if len(v) > 7 else 0), sum(v)
    except OSError:
        return 0, 0

spark = get_spark(f"scaling-{cpus}", cpus=cpus)
pages = fixtures.web_pages_df(spark, n_docs, partitions=parts).localCheckpoint()
pages.count()  # corpus synthesis off the clock
extract_doc_triples(pages.limit(2000), fused_html=True).count()  # warm workers
best = None
s0, j0 = jiffies()
for _ in range(3):
    t0 = time.perf_counter()
    triples = extract_doc_triples(pages, fused_html=True)
    n_edges = edges_from_triples(triples).count()
    el = time.perf_counter() - t0
    best = el if best is None else min(best, el)
s1, j1 = jiffies()
n_triples = extract_doc_triples(pages, fused_html=True).count()
print(json.dumps({
    "cpus": cpus, "n_docs": n_docs, "partitions": parts,
    "elapsed_sec": round(best, 3),
    "n_triples": n_triples, "n_edges": n_edges,
    "docs_per_sec": round(n_docs / best, 1),
    "triples_per_sec": round(n_triples / best, 1),
    "cpu_steal_pct": round(100.0 * (s1 - s0) / (j1 - j0), 2) if j1 > j0 else None,
}))
spark.stop()
"""


def run_level(cpus: int, n_docs: int, parts: int) -> dict:
    out = subprocess.run(
        [sys.executable, "-c", WORKER, str(cpus), str(n_docs), str(parts)],
        capture_output=True, text=True, cwd=str(Path(__file__).parent.parent),
        timeout=2400,
    )
    lines = [l for l in out.stdout.splitlines() if l.startswith("{")]
    if not lines:
        raise RuntimeError(f"worker cpus={cpus} failed:\n{out.stderr[-2000:]}")
    return json.loads(lines[-1])


def main() -> None:
    n_docs = int(sys.argv[1]) if len(sys.argv) > 1 else 3_840_000
    out_md = Path(sys.argv[2]) if len(sys.argv) > 2 else Path("BENCH/BASELINE.md")
    n_lo = int(sys.argv[3]) if len(sys.argv) > 3 else 4
    n_hi = 4 * n_lo
    parts = 8 * n_hi  # identical input layout at both levels
    lo = run_level(n_lo, n_docs, parts)
    print(json.dumps(lo))
    hi = run_level(n_hi, n_docs, parts)
    print(json.dumps(hi))
    speedup = hi["triples_per_sec"] / lo["triples_per_sec"]
    efficiency = speedup / (n_hi / n_lo)
    out_md.parent.mkdir(parents=True, exist_ok=True)
    out_md.write_text(
        f"""# BENCH/BASELINE — two-parallelism scaling evidence

North rule: throughput scaling efficiency >= 0.8 from N to 4N executors.
Sandbox proxy (no real cluster; driver note: "N and 4N cores"): identical
flagship job — deterministic {n_docs:,}-doc web corpus ({parts} partitions,
same bytes at both levels) -> fused HTML->text + OpenIE (single mapInPandas
Python stage) -> distinct edges — at local[{n_lo}] vs local[{n_hi}], one JVM
each, corpus synthesized and Python workers warmed off the clock, best of 3
steady-state runs.

| parallelism | elapsed (s) | docs/s | triples/s | edges |
|---|---|---|---|---|
| local[{n_lo}]  | {lo["elapsed_sec"]} | {lo["docs_per_sec"]} | {lo["triples_per_sec"]} | {lo["n_edges"]} |
| local[{n_hi}] | {hi["elapsed_sec"]} | {hi["docs_per_sec"]} | {hi["triples_per_sec"]} | {hi["n_edges"]} |

- speedup {n_lo}->{n_hi} cores (4x cores): **{speedup:.2f}x**
- scaling efficiency (speedup / 4): **{efficiency:.3f}** (target >= 0.8)
- triples extracted: {lo["n_triples"]:,} (identical at both levels: {lo["n_triples"] == hi["n_triples"]})
- why {n_lo}/{n_hi} and not 8/32: the sandbox is one 32-core machine; at
  local[32] the 32 Python UDF workers time-share cores with the JVM's scan,
  Arrow-serialization, and shuffle threads, which a multi-executor cluster
  would not do (executors own their cores). {n_lo} vs {n_hi} preserves the
  4x ratio with the JVM overhead off the measured cores at both levels.

Raw: `{json.dumps(lo)}`
     `{json.dumps(hi)}`
"""
    )
    print(f"efficiency={efficiency:.3f} -> {out_md}")


if __name__ == "__main__":
    main()
