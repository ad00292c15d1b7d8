"""Attribute Spark's own event log to the benchmark's spans.

The traced run tags every job with the span that submitted it
(``SparkContext.setJobGroup(span_key, ...)``) and writes an uncompressed,
non-rolling event log. This module reads that log back and folds task
metrics into stages, stages into jobs and jobs into spans.
"""

from __future__ import annotations

import json
import os
from collections import defaultdict

MB = 1024 * 1024
# SQL metric the Python exec nodes (mapInArrow, Arrow UDFs) report, in ms.
PYTHON_RUN_METRIC = "time to run Python workers"

SUFFIXES = (
    "wall_s", "spark_busy_s", "driver_s", "spark_jobs", "spark_tasks", "failed_tasks",
    "task_run_s", "gc_s", "shuffle_write_mb", "shuffle_read_mb", "spill_mb", "result_mb",
    "python_run_s",
)


def find_log(log_dir: str) -> str:
    """The single finished application log in ``log_dir``."""
    names = [n for n in os.listdir(log_dir) if not n.endswith(".inprogress")]
    if len(names) != 1:
        raise RuntimeError(f"expected one finished event log in {log_dir}, found {sorted(os.listdir(log_dir))}")
    return os.path.join(log_dir, names[0])


def read_events(path: str):
    with open(path) as f:
        for line in f:
            if line.strip():
                yield json.loads(line)


def _num(x) -> float:
    return float(x) if x not in (None, "") else 0.0


def load(path: str) -> tuple[dict, dict]:
    """(jobs, stage_totals) from one event log.

    jobs: job id -> {"group", "start", "end", "stages"} with times in
    epoch seconds. stage_totals: stage id -> summed task metrics.
    """
    jobs: dict[int, dict] = {}
    stages: dict[int, dict] = defaultdict(lambda: defaultdict(float))
    for ev in read_events(path):
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            jobs[ev["Job ID"]] = {
                "group": props.get("spark.jobGroup.id"),
                "start": ev["Submission Time"] / 1000.0,
                "end": None,
                "stages": list(ev.get("Stage IDs", [])),
            }
        elif kind == "SparkListenerJobEnd":
            if ev["Job ID"] in jobs:
                jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000.0
        elif kind == "SparkListenerTaskEnd":
            s = stages[ev["Stage ID"]]
            info = ev.get("Task Info") or {}
            m = ev.get("Task Metrics") or {}
            s["tasks"] += 1
            s["failed_tasks"] += bool(info.get("Failed") or info.get("Killed"))
            s["task_run_s"] += _num(m.get("Executor Run Time")) / 1000.0
            s["gc_s"] += _num(m.get("JVM GC Time")) / 1000.0
            s["result_mb"] += _num(m.get("Result Size")) / MB
            s["spill_mb"] += _num(m.get("Disk Bytes Spilled")) / MB
            sr = m.get("Shuffle Read Metrics") or {}
            s["shuffle_read_mb"] += (_num(sr.get("Remote Bytes Read")) + _num(sr.get("Local Bytes Read"))) / MB
            s["shuffle_write_mb"] += _num((m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written")) / MB
            s["input_mb"] += _num((m.get("Input Metrics") or {}).get("Bytes Read")) / MB
            s["output_mb"] += _num((m.get("Output Metrics") or {}).get("Bytes Written")) / MB
            for acc in info.get("Accumulables") or []:
                if acc.get("Name") == PYTHON_RUN_METRIC:
                    s["python_run_s"] += _num(acc.get("Update")) / 1000.0
    return jobs, stages


def _union_s(intervals: list[tuple[float, float]]) -> float:
    total, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in sorted(intervals):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def span_table(path: str, spans: list[dict]) -> tuple[dict, int]:
    """Per-span metrics for ``spans`` (each {"key", "t0", "t1"}, epoch s).

    A job belongs to the span whose key is its job group. A job with no
    known group (the session's own start-up jobs run before any group can
    be set) falls to the span whose interval holds its submission time. Returns ({span key: {suffix: value, "input_mb",
    "output_mb"}}, number of jobs matched by time instead of by group).
    """
    jobs, stages = load(path)
    # a shuffle stage reused by a later job is listed there as skipped;
    # its tasks ran once, for the first job that lists it
    stage_job: dict[int, int] = {}
    for jid in sorted(jobs):
        for sid in jobs[jid]["stages"]:
            stage_job.setdefault(sid, jid)
    by_key = {sp["key"]: sp for sp in spans}
    owned: dict[str, list[dict]] = defaultdict(list)
    by_time = 0
    for jid, job in jobs.items():
        job["id"] = jid
        key = job["group"] if job["group"] in by_key else None
        if key is None:
            key = next((sp["key"] for sp in spans if sp["t0"] <= job["start"] <= sp["t1"]), None)
            by_time += key is not None
        if key is not None:
            owned[key].append(job)
    table = {}
    for key, sp in by_key.items():
        row = defaultdict(float)
        row["wall_s"] = sp["t1"] - sp["t0"]
        intervals = []
        for job in owned.get(key, []):
            end = job["end"] if job["end"] is not None else sp["t1"]
            intervals.append((max(job["start"], sp["t0"]), min(end, sp["t1"])))
            row["spark_jobs"] += 1
            for sid in job["stages"]:
                if stage_job[sid] != job["id"]:
                    continue
                s = stages.get(sid, {})
                row["spark_tasks"] += s.get("tasks", 0)
                for k, v in s.items():
                    if k != "tasks":
                        row[k] += v
        row["spark_busy_s"] = _union_s([iv for iv in intervals if iv[1] > iv[0]])
        row["driver_s"] = row["wall_s"] - row["spark_busy_s"]
        table[key] = dict(row)
    return table, by_time
