"""Re-record ``eventlog.jsonl`` for the event-log parser test.

    python3 perfbench/tests/data/record_eventlog.py

Runs three small jobs on a local[2] session with the event log on (two in
job groups, one outside any group), then keeps only the events the parser
reads, with the bulky fields it ignores removed.
"""

from __future__ import annotations

import json
import shutil
import tempfile
from pathlib import Path

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

KEEP = {"SparkListenerJobStart", "SparkListenerJobEnd", "SparkListenerStageSubmitted",
        "SparkListenerStageCompleted", "SparkListenerTaskEnd"}


def _slim(ev: dict) -> dict:
    ev.pop("Stage Infos", None)
    for key in ("Stage Info", "Task Info"):
        if key in ev:
            ev[key] = {k: v for k, v in ev[key].items() if k not in ("RDD Info", "Accumulables")}
    if "Properties" in ev:
        ev["Properties"] = {k: v for k, v in ev["Properties"].items() if k.startswith("spark.job")}
    if "Task Metrics" in ev:
        m = ev["Task Metrics"]
        ev["Task Metrics"] = {k: m[k] for k in ("Input Metrics", "Shuffle Read Metrics",
                                                "Shuffle Write Metrics") if k in m}
    return ev


def main() -> None:
    tmp = Path(tempfile.mkdtemp())
    try:
        spark = (
            SparkSession.builder.master("local[2]")
            .config("spark.eventLog.enabled", "true")
            .config("spark.eventLog.dir", str(tmp))
            .config("spark.eventLog.compress", "false")
            .config("spark.eventLog.rolling.enabled", "false")
            .config("spark.sql.adaptive.enabled", "false")
            .config("spark.sql.shuffle.partitions", "2")
            .config("spark.ui.enabled", "false")
            .getOrCreate()
        )
        sc = spark.sparkContext
        sc.setJobGroup("g-count", "count")
        spark.range(0, 1000, 1, 4).count()
        sc.setJobGroup("g-shuffle", "shuffle")
        spark.range(0, 1000, 1, 4).groupBy((F.col("id") % 7).alias("k")).count().collect()
        sc.setLocalProperty("spark.jobGroup.id", None)
        spark.range(10).collect()
        # Spark's own status tracker: the counts the parser must reproduce
        st = sc.statusTracker()
        for g in ("g-count", "g-shuffle"):
            jobs = st.getJobIdsForGroup(g)
            stages = [s for j in jobs for s in st.getJobInfo(j).stageIds]
            tasks = sum(st.getStageInfo(s).numTasks for s in stages if st.getStageInfo(s))
            print(f"{g}: jobs={len(jobs)} stages={len(stages)} tasks={tasks}")
        spark.stop()
        (log,) = [p for p in tmp.rglob("*") if p.is_file() and not p.name.startswith(".")]
        out = Path(__file__).with_name("eventlog.jsonl")
        with open(log, encoding="utf-8") as src, open(out, "w", encoding="utf-8") as dst:
            for line in src:
                ev = json.loads(line)
                if ev["Event"] in KEEP:
                    dst.write(json.dumps(_slim(ev), ensure_ascii=False) + "\n")
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


if __name__ == "__main__":
    main()
