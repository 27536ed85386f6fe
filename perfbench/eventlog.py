"""Per-span Spark work, parsed from the Spark event log.

PySpark names a job after the Python caller's file:line only for some
actions (``collect``); writes and checkpoints carry JVM call sites, and
jobs started from the crawler's sink threads carry none of the caller's
local properties.  So a job is attributed to the benchmark span whose
wall-clock interval holds the job's submission time.  The benchmark's
spans around public calls run one after another on the main thread, so
the intervals never overlap; pipelined sink jobs land in the span that
was running when Spark accepted them.
"""

from __future__ import annotations

import bisect
import glob
import json
import os

_EMPTY = {
    "jobs": 0, "stages": 0, "tasks": 0, "task_run_s": 0.0, "task_cpu_s": 0.0,
    "gc_s": 0.0, "shuffle_write_bytes": 0, "shuffle_read_bytes": 0,
    "spill_bytes": 0,
}


def event_log_conf(log_dir: str) -> dict[str, str]:
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": log_dir,
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


def _events(log_dir: str):
    for path in sorted(glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)):
        if os.path.isfile(path):
            with open(path) as f:
                for line in f:
                    if line.strip():
                        yield json.loads(line)


def per_span(log_dir: str, spans: list[tuple[str, float, float]]) -> dict[str, dict]:
    """``spans``: (name, start_s, end_s) in epoch seconds, non-overlapping.
    Returns name -> summed job/stage/task metrics; work outside every
    span is reported under ``"(outside)"``."""
    spans = sorted(spans, key=lambda s: s[1])
    starts = [s[1] * 1000.0 for s in spans]
    out: dict[str, dict] = {}
    stage_span: dict[int, str] = {}
    seen_stages: set[tuple[int, int]] = set()

    def span_of(ms: float) -> str:
        i = bisect.bisect_right(starts, ms) - 1
        if i >= 0 and ms <= spans[i][2] * 1000.0:
            return spans[i][0]
        return "(outside)"

    def acc(name: str) -> dict:
        return out.setdefault(name, dict(_EMPTY))

    for e in _events(log_dir):
        kind = e.get("Event")
        if kind == "SparkListenerJobStart":
            name = span_of(e["Submission Time"])
            acc(name)["jobs"] += 1
            for sid in e.get("Stage IDs", []):
                stage_span[sid] = name
        elif kind == "SparkListenerStageSubmitted":
            info = e["Stage Info"]
            key = (info["Stage ID"], info.get("Stage Attempt ID", 0))
            if key not in seen_stages:
                seen_stages.add(key)
                acc(stage_span.get(info["Stage ID"], "(outside)"))["stages"] += 1
        elif kind == "SparkListenerTaskEnd":
            m = e.get("Task Metrics") or {}
            a = acc(stage_span.get(e["Stage ID"], "(outside)"))
            a["tasks"] += 1
            a["task_run_s"] += m.get("Executor Run Time", 0) / 1e3
            a["task_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            a["gc_s"] += m.get("JVM GC Time", 0) / 1e3
            sr = m.get("Shuffle Read Metrics") or {}
            a["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get(
                "Local Bytes Read", 0
            )
            sw = m.get("Shuffle Write Metrics") or {}
            a["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
            a["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get(
                "Disk Bytes Spilled", 0
            )
    return out


def total(rows: dict[str, dict], prefix: str = "") -> dict:
    """Sum of the per-span rows whose name starts with ``prefix``."""
    t = dict(_EMPTY)
    for name, row in rows.items():
        if name.startswith(prefix) and name != "(outside)":
            for k, v in row.items():
                t[k] += v
    return t
