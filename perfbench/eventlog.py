"""Roll Spark's event log up into per-operation figures.

Operations run one at a time, so a job, stage or task belongs to the
operation span that holds its submission (job, stage) or launch (task)
time. Job groups are not used: pooled operator threads lose the caller's
group. ``statusTracker`` is not used either: it keeps only recent jobs.
"""

from __future__ import annotations

import bisect
import json
import os

#: per-task sums, keyed by the name used in the rollup
_TASK_SUMS = ("run_s", "cpu_s", "gc_s", "scan_bytes", "scan_records",
              "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes", "records_written")


def read(event_dir: str) -> tuple[list, list, list]:
    """(jobs, stages, tasks) from the single application log in ``event_dir``."""
    jobs, stages, tasks = [], [], []
    (name,) = [n for n in os.listdir(event_dir) if not n.startswith(".")]
    with open(os.path.join(event_dir, name)) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                jobs.append(ev["Submission Time"] / 1000.0)
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                stages.append(info["Submission Time"] / 1000.0)
            elif kind == "SparkListenerTaskEnd":
                info, m = ev["Task Info"], ev.get("Task Metrics") or {}
                sr = m.get("Shuffle Read Metrics", {})
                tasks.append({
                    "launch": info["Launch Time"] / 1000.0,
                    "finish": info["Finish Time"] / 1000.0,
                    "run_s": m.get("Executor Run Time", 0) / 1000.0,
                    "cpu_s": m.get("Executor CPU Time", 0) / 1e9,
                    "gc_s": m.get("JVM GC Time", 0) / 1000.0,
                    "scan_bytes": m.get("Input Metrics", {}).get("Bytes Read", 0),
                    "scan_records": m.get("Input Metrics", {}).get("Records Read", 0),
                    "shuffle_write_bytes": m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0),
                    "shuffle_read_bytes": sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
                    "spill_bytes": m.get("Disk Bytes Spilled", 0),
                    "records_written": m.get("Output Metrics", {}).get("Records Written", 0),
                    "peak_exec_memory": m.get("Peak Execution Memory", 0),
                })
    jobs.sort()
    stages.sort()
    tasks.sort(key=lambda t: t["launch"])
    return jobs, stages, tasks


def _in(times: list[float], lo: float, hi: float) -> tuple[int, int]:
    return bisect.bisect_left(times, lo), bisect.bisect_right(times, hi)


def _busy(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        s, e = max(s, lo), min(e, hi)
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def per_op(ops: list[list], jobs: list, stages: list, tasks: list) -> list[dict]:
    """One record per ``[name, start, end, pass]`` operation.

    Times are rounded to the event log's millisecond clock before the
    window test, so a job submitted in the operation's first millisecond
    still counts.
    """
    launches = [t["launch"] for t in tasks]
    out = []
    for name, start, end, n_pass in ops:
        lo, hi = int(start * 1000) / 1000.0, end
        j0, j1 = _in(jobs, lo, hi)
        s0, s1 = _in(stages, lo, hi)
        t0, t1 = _in(launches, lo, hi)
        mine = tasks[t0:t1]
        rec = {"name": name, "pass": n_pass, "wall_s": end - start,
               "jobs": j1 - j0, "stages": s1 - s0, "tasks": len(mine),
               "no_task_s": (end - start) - _busy([(t["launch"], t["finish"]) for t in mine], start, end),
               "peak_exec_memory": max((t["peak_exec_memory"] for t in mine), default=0)}
        for k in _TASK_SUMS:
            rec[k] = sum(t[k] for t in mine)
        out.append(rec)
    return out
