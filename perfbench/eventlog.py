"""Stdlib-JSON reducer for Spark's event log.

A traced run starts its Spark session with ``spark.eventLog.enabled`` set by
launch conf (no package change). After the session stops, this module reads
the log (one JSON event per line) and reduces it per stage: task-seconds,
p50/max task time, GC, shuffle read/write bytes, spill, and the framework
time Spark itself accounts to a task (deserialisation, result
serialisation, shuffle fetch wait, scheduler delay).
"""

from __future__ import annotations

import json
import os
import statistics

# RDD scope names of a Python mapInPandas / Arrow UDF stage
_PY_SCOPES = ("MapInPandas", "PythonMapInArrow", "MapInArrow")


def read(log_dir: str) -> dict:
    """Stages and jobs of every application log under ``log_dir``."""
    stages: dict[int, dict] = {}
    jobs: list[int] = []
    for name in sorted(os.listdir(log_dir)):
        with open(os.path.join(log_dir, name)) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    st = stages.setdefault(info["Stage ID"], {"tasks": []})
                    st.update(
                        id=info["Stage ID"],
                        scopes=[_scope(r) for r in info.get("RDD Info", [])],
                        submit_ms=info.get("Submission Time", 0),
                        end_ms=info.get("Completion Time", 0))
                elif kind == "SparkListenerTaskEnd":
                    st = stages.setdefault(ev["Stage ID"], {"tasks": []})
                    st["tasks"].append(_task(ev))
                elif kind == "SparkListenerJobStart":
                    jobs.append(ev["Submission Time"])
    return {"stages": {k: v for k, v in stages.items() if "id" in v},
            "job_submit_ms": jobs}


def _scope(rdd: dict) -> str:
    try:
        return json.loads(rdd.get("Scope") or "{}").get("name", "")
    except ValueError:
        return ""


def _task(ev: dict) -> dict:
    info, m = ev["Task Info"], ev.get("Task Metrics") or {}
    sr = m.get("Shuffle Read Metrics") or {}
    sw = m.get("Shuffle Write Metrics") or {}
    dur = (info["Finish Time"] - info["Launch Time"]) / 1000
    run = m.get("Executor Run Time", 0) / 1000
    return {
        "s": dur,
        "gc_s": m.get("JVM GC Time", 0) / 1000,
        # time outside the task's run body (deserialisation, result
        # serialisation, scheduler delay) plus shuffle fetch wait inside it
        "framework_s": max(0.0, dur - run)
        + sr.get("Fetch Wait Time", 0) / 1000,
        "shuffle_read_bytes": sr.get("Remote Bytes Read", 0)
        + sr.get("Local Bytes Read", 0),
        "shuffle_write_bytes": sw.get("Shuffle Bytes Written", 0),
        "spill_bytes": m.get("Memory Bytes Spilled", 0)
        + m.get("Disk Bytes Spilled", 0),
    }


def in_window(log: dict, t0: float, t1: float) -> list[dict]:
    """Stages submitted inside the wall-clock window [t0, t1] (seconds)."""
    lo, hi = t0 * 1000, t1 * 1000
    return [s for s in log["stages"].values() if lo <= s["submit_ms"] <= hi]


def jobs_in_window(log: dict, t0: float, t1: float) -> int:
    lo, hi = t0 * 1000, t1 * 1000
    return sum(1 for t in log["job_submit_ms"] if lo <= t <= hi)


def is_python_stage(stage: dict) -> bool:
    return any(s in _PY_SCOPES for s in stage["scopes"])


def summary(stages: list[dict]) -> dict:
    """Totals over ``stages``; wall is first submission to last completion."""
    tasks = [t for s in stages for t in s["tasks"]]
    durs = [t["s"] for t in tasks]

    def total(key):
        return sum(t[key] for t in tasks)

    return {
        "wall_s": ((max(s["end_ms"] for s in stages)
                    - min(s["submit_ms"] for s in stages)) / 1000
                   if stages else 0.0),
        "task_s": sum(durs),
        "task_p50_s": statistics.median(durs) if durs else 0.0,
        "task_max_s": max(durs, default=0.0),
        "tasks": len(tasks),
        "gc_s": total("gc_s"),
        "framework_s": total("framework_s"),
        "shuffle_read_bytes": total("shuffle_read_bytes"),
        "shuffle_write_bytes": total("shuffle_write_bytes"),
        "spill_bytes": total("spill_bytes"),
    }


def per_op(groups: list[list[dict]]) -> dict:
    """Per-operation means of ``summary`` over one stage list per op; the
    p50/max task times are over all tasks of all ops."""
    sums = [summary(g) for g in groups]
    out = {k: sum(x[k] for x in sums) / len(sums) for k in sums[0]}
    out.update({k: v for k, v in summary([s for g in groups for s in g])
                .items() if k in ("task_p50_s", "task_max_s")})
    return out
