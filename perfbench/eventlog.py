"""Fold a Spark event log into per-head, per-phase counters.

The benchmark runs each head under the job group `q:<head>:build` while
the plan is built and `q:<head>:exec` while it is forced, and records
the same two windows by wall clock. Job groups are thread-local, so a
job started from a head's side thread carries no group; such a job is
attributed to the window its submission time falls in. A job that
carries no group and falls in no window is counted as unattributed.

Tasks belong to the job that first listed their stage: with adaptive
execution a later job re-lists a finished shuffle stage as skipped.
"""

from __future__ import annotations

import glob
import json
import os
from collections import defaultdict

# Task-level accumulables of the Python runners (SQL metrics; sizes in
# bytes, times in milliseconds).
PY_ACCUMS = {
    "data sent to Python workers": "py_sent_bytes",
    "data returned from Python workers": "py_returned_bytes",
    "time to run Python workers": "py_run_ms",
    "time to start Python workers": "py_start_ms",
}


def find_log(event_dir: str) -> list[str]:
    """The uncompressed `events_*` parts of the one application logged
    under `event_dir`, in order: Spark 4 writes a rolling `eventlog_v2_*`
    directory."""
    parts = sorted(glob.glob(os.path.join(event_dir, "eventlog_v2_*", "events_*")),
                   key=lambda p: int(os.path.basename(p).split("_")[1]))
    if not parts:
        raise FileNotFoundError(f"no events_* file under {event_dir}")
    return parts


def _events(paths):
    for path in paths:
        with open(path) as f:
            for line in f:
                yield json.loads(line)


def _num(v) -> float:
    return float(v) if v not in (None, "") else 0.0


def _task_counters(ev: dict) -> dict[str, float]:
    m = ev.get("Task Metrics") or {}
    sr = m.get("Shuffle Read Metrics") or {}
    sw = m.get("Shuffle Write Metrics") or {}
    inp = m.get("Input Metrics") or {}
    info = ev.get("Task Info") or {}
    reason = (ev.get("Task End Reason") or {}).get("Reason", "Success")
    c = {
        "tasks": 1.0,
        "task_failures": float(reason != "Success" or bool(info.get("Failed"))),
        "run_ms": _num(m.get("Executor Run Time")),
        "cpu_ns": _num(m.get("Executor CPU Time")),
        "gc_ms": _num(m.get("JVM GC Time")),
        "result_bytes": _num(m.get("Result Size")),
        "spill_bytes": _num(m.get("Disk Bytes Spilled")),
        "shuffle_write_bytes": _num(sw.get("Shuffle Bytes Written")),
        "shuffle_read_bytes": _num(sr.get("Remote Bytes Read"))
        + _num(sr.get("Local Bytes Read")),
        "fetch_wait_ms": _num(sr.get("Fetch Wait Time")),
        "input_bytes": _num(inp.get("Bytes Read")),
        "input_records": _num(inp.get("Records Read")),
    }
    for acc in info.get("Accumulables") or ():
        key = PY_ACCUMS.get(acc.get("Name"))
        if key:
            c[key] = c.get(key, 0.0) + _num(acc.get("Update"))
    return c


def fold(paths, windows, spans) -> dict:
    """Aggregate the log.

    `windows` lists (head, phase, start_s, end_s) in epoch seconds;
    `spans` lists the (start_s, end_s) of each traced pass. Returns
    {"heads": {(head, phase): counters}, "unattributed_jobs": n,
     "window_attributed_jobs": n}. Jobs submitted outside every span
    are ignored.
    """
    job_key: dict[int, tuple[str, str] | None] = {}
    stage_job: dict[int, int] = {}
    heads: dict = defaultdict(lambda: defaultdict(float))
    unattributed = by_window = 0
    spans = [(a * 1000, b * 1000) for a, b in spans]
    wins = [(h, p, a * 1000, b * 1000) for h, p, a, b in windows]

    for ev in _events(paths):
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            t = ev.get("Submission Time", 0)
            if not any(a <= t <= b for a, b in spans):
                continue
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
            key = None
            if group.startswith("q:"):
                _, head, phase = group.split(":")
                key = (head, phase)
            elif not group:
                for h, p, a, b in wins:
                    if a <= t <= b:
                        key = (h, p)
                        by_window += 1
                        break
                else:
                    unattributed += 1
            job = ev["Job ID"]
            job_key[job] = key
            for sid in ev.get("Stage IDs") or ():
                stage_job.setdefault(sid, job)
            if key:
                heads[key]["jobs"] += 1
        elif kind == "SparkListenerStageCompleted":
            key = job_key.get(stage_job.get(ev["Stage Info"]["Stage ID"]))
            if key:
                heads[key]["stages"] += 1
        elif kind == "SparkListenerTaskEnd":
            key = job_key.get(stage_job.get(ev.get("Stage ID")))
            if key:
                for k, v in _task_counters(ev).items():
                    heads[key][k] += v
    return {
        "heads": {k: dict(v) for k, v in heads.items()},
        "unattributed_jobs": unattributed,
        "window_attributed_jobs": by_window,
    }
