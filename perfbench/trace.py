"""Spans around public kgspark calls, and attribution of Spark's own event
log to them.

A span sets the Spark job group to its own id, so every job, stage and task
Spark runs inside the call (AQE sub-jobs included, since they inherit the
caller's local properties) carries the span id in the event log. Call sites
are not used: AQE jobs and writes report JVM frames, not kgspark ones.
"""

from __future__ import annotations

import functools
import json
import statistics
import time
from contextlib import contextmanager
from pathlib import Path


class Tracer:
    """Records nested spans (id, name, parent, start, end) in memory.

    With a SparkContext, each span also becomes the job group of the work it
    triggers; without one (untraced runs) spans are plain timers.
    """

    def __init__(self, sc=None):
        self.sc = sc
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    def _set_group(self, span: dict | None) -> None:
        if self.sc is None:
            return
        if span is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(span["id"], span["name"])

    @contextmanager
    def span(self, name: str):
        rec = {
            "id": f"pb-{len(self.spans)}",
            "name": name,
            "parent": self._stack[-1]["id"] if self._stack else None,
        }
        self.spans.append(rec)
        self._stack.append(rec)
        self._set_group(rec)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            self._set_group(self._stack[-1] if self._stack else None)

    def wrap(self, owner, attr: str, name: str) -> None:
        """Replace ``owner.attr`` with a version that runs inside a span, so
        calls made from inside other kgspark functions are attributed too."""
        fn = getattr(owner, attr)

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        setattr(owner, attr, traced)

    def named(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    def descendants(self, span_id: str) -> set[str]:
        """``span_id`` plus every span nested under it."""
        out = {span_id}
        for s in self.spans:  # parents are always recorded before children
            if s["parent"] in out:
                out.add(s["id"])
        return out

    def self_time(self, span: dict) -> float:
        """Wall time minus the time its direct children cover."""
        children = [s for s in self.spans if s["parent"] == span["id"]]
        return (span["end"] - span["start"]) - sum(c["end"] - c["start"] for c in children)


def _event_files(path: Path) -> list[Path]:
    if path.is_file():
        return [path]
    files = sorted(p for p in path.rglob("*") if p.is_file() and not p.name.startswith("."))
    return [p for p in files if not p.name.startswith("appstatus")]


def parse_event_log(path: str | Path) -> dict[str, dict]:
    """Per job group: jobs, stages, tasks, input bytes, shuffle bytes read and
    written, and the task durations (ms) of each stage.

    ``path`` is an uncompressed event log file or a directory of them (the
    rolling layout). Stages are attributed through the properties of their
    submission, tasks through their stage.
    """
    groups: dict[str, dict] = {}
    stage_group: dict[tuple[int, int], str] = {}

    def group(gid: str) -> dict:
        return groups.setdefault(gid, {
            "jobs": 0, "stages": 0, "tasks": 0, "failed_tasks": 0,
            "input_bytes": 0, "shuffle_read_bytes": 0, "shuffle_write_bytes": 0,
            "task_ms": {},
        })

    for f in _event_files(Path(path)):
        with open(f, encoding="utf-8") as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerJobStart":
                    gid = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if gid:
                        group(gid)["jobs"] += 1
                elif kind == "SparkListenerStageSubmitted":
                    gid = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if gid:
                        info = ev["Stage Info"]
                        stage_group[(info["Stage ID"], info["Stage Attempt ID"])] = gid
                        group(gid)["stages"] += 1
                elif kind == "SparkListenerTaskEnd":
                    gid = stage_group.get((ev["Stage ID"], ev["Stage Attempt ID"]))
                    if gid is None:
                        continue
                    g = group(gid)
                    info = ev["Task Info"]
                    g["tasks"] += 1
                    g["failed_tasks"] += int(info.get("Failed", False))
                    g["task_ms"].setdefault(ev["Stage ID"], []).append(
                        info["Finish Time"] - info["Launch Time"])
                    m = ev.get("Task Metrics") or {}
                    g["input_bytes"] += m.get("Input Metrics", {}).get("Bytes Read", 0)
                    sr = m.get("Shuffle Read Metrics", {})
                    g["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get(
                        "Local Bytes Read", 0)
                    g["shuffle_write_bytes"] += m.get("Shuffle Write Metrics", {}).get(
                        "Shuffle Bytes Written", 0)
    return groups


def combine(groups: dict[str, dict], ids: set[str]) -> dict:
    """Sum the accounting of several job groups (a span and its children)."""
    out = {"jobs": 0, "stages": 0, "tasks": 0, "failed_tasks": 0, "input_bytes": 0,
           "shuffle_read_bytes": 0, "shuffle_write_bytes": 0, "task_ms": {}}
    for gid in ids:
        g = groups.get(gid)
        if g is None:
            continue
        for k in out:
            if k == "task_ms":
                for stage, ms in g["task_ms"].items():
                    out["task_ms"].setdefault(stage, []).extend(ms)
            else:
                out[k] += g[k]
    return out


def max_task_skew(task_ms: dict[int, list[int]]) -> float:
    """Longest / median task time in the stage with the most task time."""
    if not task_ms:
        return 0.0
    slowest = max(task_ms.values(), key=sum)
    med = statistics.median(slowest)
    return max(slowest) / med if med > 0 else 1.0
