"""Per-layer metrics from a Spark event log.

The harness tags every Spark job with the layer whose public function
it called (``SparkContext.setJobGroup``) and records each call's span
on the driver clock. This module reads the uncompressed JSON-lines
event log after the session stopped and attributes jobs, stages and
tasks to layers by that tag. Jobs with no tag that start inside a
span (``get_spark`` runs before a context exists to tag) go to that
span's layer.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
from collections import defaultdict
from typing import Dict, List, Tuple

# accumulable name -> (metric, scale to s or MB). Names as the Python
# execution nodes of Spark 4.x report them.
_PYTHON_ACCUMS = {
    "time to run Python workers": ("python_run_s", 1e-3),
    "time to start Python workers": ("python_init_s", 1e-3),
    "time to initialize Python workers": ("python_init_s", 1e-3),
    "data sent to Python workers": ("python_in_mb", 1e-6),
    "data returned from Python workers": ("python_out_mb", 1e-6),
}

METRICS = (
    "wall_s", "driver_s", "jobs", "stages", "tasks", "task_skew", "executor_cpu_s", "gc_s",
    "shuffle_read_mb", "shuffle_write_mb", "spill_mb", "python_run_s", "python_init_s",
    "python_in_mb", "python_out_mb", "rows_out", "written_mb",
)

# metrics whose value is a total over the layer's calls; the report
# divides them by the number of calls (task_skew is a ratio, not divided)
_PER_CALL = tuple(m for m in METRICS if m != "task_skew")


def read_events(log_dir: str) -> List[dict]:
    files = [f for f in glob.glob(os.path.join(log_dir, "**", "*"), recursive=True) if os.path.isfile(f)]
    if not files:
        raise FileNotFoundError(f"no event log under {log_dir}")
    events = []
    for f in sorted(files):
        with open(f, encoding="utf-8") as fh:
            for line in fh:
                line = line.strip()
                if line:
                    events.append(json.loads(line))
    return events


def _union_ms(intervals: List[Tuple[float, float]]) -> float:
    total, end = 0.0, None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


def layer_metrics(events: List[dict], spans: List[Tuple[str, float, float]]) -> Dict[str, Dict[str, float]]:
    """``spans`` are (layer, start_ms, end_ms) on the epoch clock the
    event log also uses. Returns layer -> metric -> value per call."""
    job_group: Dict[int, str] = {}
    job_time: Dict[int, List[float]] = {}
    stage_group: Dict[int, str] = {}
    stage_of_job: Dict[int, int] = {}
    ran_stages = set()
    tasks: Dict[int, List[dict]] = defaultdict(list)

    def span_at(t_ms: float):
        for layer, a, b in spans:
            if a <= t_ms <= b:
                return layer
        return None

    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            jid = ev["Job ID"]
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or span_at(ev["Submission Time"])
            job_group[jid] = group
            job_time[jid] = [ev["Submission Time"], ev["Submission Time"]]
            for sid in ev.get("Stage IDs", []):
                stage_of_job.setdefault(sid, jid)
        elif kind == "SparkListenerJobEnd":
            if ev["Job ID"] in job_time:
                job_time[ev["Job ID"]][1] = ev["Completion Time"]
        elif kind == "SparkListenerStageSubmitted":
            sid = ev["Stage Info"]["Stage ID"]
            props = ev.get("Properties") or {}
            group = props.get("spark.jobGroup.id")
            if group is None and sid in stage_of_job:
                group = job_group.get(stage_of_job[sid])
            stage_group[sid] = group
        elif kind == "SparkListenerStageCompleted":
            ran_stages.add(ev["Stage Info"]["Stage ID"])
        elif kind == "SparkListenerTaskEnd":
            tasks[ev["Stage ID"]].append(ev)

    calls = defaultdict(int)
    out: Dict[str, Dict[str, float]] = {}
    for layer, a, b in spans:
        calls[layer] += 1
        m = out.setdefault(layer, dict.fromkeys(METRICS, 0.0))
        m["wall_s"] += (b - a) / 1e3
        jobs = [
            (max(a, job_time[j][0]), min(b, job_time[j][1]))
            for j, g in job_group.items()
            if g == layer and job_time[j][0] <= b and job_time[j][1] >= a
        ]
        m["driver_s"] += ((b - a) - _union_ms([iv for iv in jobs if iv[1] > iv[0]])) / 1e3
    for j, g in job_group.items():
        if g in out:
            out[g]["jobs"] += 1
    largest: Dict[str, Tuple[float, List[float]]] = {}
    for sid, group in stage_group.items():
        if group not in out or sid not in ran_stages:
            continue
        m = out[group]
        m["stages"] += 1
        durations = []
        for ev in tasks.get(sid, []):
            info, tm = ev["Task Info"], ev.get("Task Metrics") or {}
            durations.append(info["Finish Time"] - info["Launch Time"])
            m["tasks"] += 1
            m["executor_cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
            m["gc_s"] += tm.get("JVM GC Time", 0) / 1e3
            sr = tm.get("Shuffle Read Metrics") or {}
            m["shuffle_read_mb"] += (sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)) / 1e6
            m["shuffle_write_mb"] += (tm.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0) / 1e6
            m["spill_mb"] += (tm.get("Memory Bytes Spilled", 0) + tm.get("Disk Bytes Spilled", 0)) / 1e6
            om = tm.get("Output Metrics") or {}
            m["rows_out"] += om.get("Records Written", 0)
            m["written_mb"] += om.get("Bytes Written", 0) / 1e6
            for acc in info.get("Accumulables", []):
                name = acc.get("Name")
                if name in _PYTHON_ACCUMS:
                    metric, scale = _PYTHON_ACCUMS[name]
                    m[metric] += float(acc.get("Update") or 0) * scale
        if durations and sum(durations) > largest.get(group, (-1, []))[0]:
            largest[group] = (sum(durations), durations)
    for layer, m in out.items():
        n = calls[layer]
        for k in _PER_CALL:
            m[k] /= n
        durations = largest.get(layer, (0, []))[1]
        med = statistics.median(durations) if durations else 0
        m["task_skew"] = max(durations) / med if med else 1.0
        m["calls"] = n
    return out


def jobs_by_group(events: List[dict]) -> Dict[str, int]:
    """Job count per job group tag; untagged jobs count under ``-``."""
    out: Dict[str, int] = defaultdict(int)
    for ev in events:
        if ev.get("Event") == "SparkListenerJobStart":
            out[(ev.get("Properties") or {}).get("spark.jobGroup.id") or "-"] += 1
    return dict(out)
