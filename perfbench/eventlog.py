"""Spark runtime figures from an event log (``spark.eventLog.enabled``).

Only tasks that launched and finished inside a time window are counted, so
one log can serve several measured phases of a run.
"""

from __future__ import annotations

import json
import os
import statistics


def load(log_dir: str) -> tuple[list[dict], list[dict]]:
    """(tasks, stages) from every plain event log file in ``log_dir``."""
    tasks: list[dict] = []
    stages: list[dict] = []
    for name in sorted(os.listdir(log_dir)):
        if name.startswith("."):
            continue
        with open(os.path.join(log_dir, name)) as f:
            for line in f:
                if '"SparkListenerTaskEnd"' in line:
                    ev = json.loads(line)
                    info, m = ev["Task Info"], ev.get("Task Metrics") or {}
                    tasks.append(
                        {
                            "stage": (ev["Stage ID"], ev["Stage Attempt ID"]),
                            "launch": info["Launch Time"],
                            "finish": info["Finish Time"],
                            "gc_ms": m.get("JVM GC Time", 0),
                            "spill": m.get("Disk Bytes Spilled", 0),
                            "shuffle_write": (m.get("Shuffle Write Metrics") or {}).get(
                                "Shuffle Bytes Written", 0
                            ),
                        }
                    )
                elif '"SparkListenerStageCompleted"' in line:
                    si = json.loads(line)["Stage Info"]
                    stages.append(
                        {
                            "stage": (si["Stage ID"], si["Stage Attempt ID"]),
                            "submitted": si.get("Submission Time", 0),
                            "completed": si.get("Completion Time", 0),
                        }
                    )
    return tasks, stages


def summarize(tasks: list[dict], stages: list[dict], t0: float, t1: float, cores: int) -> dict:
    """Runtime figures for tasks inside [t0, t1] (epoch seconds)."""
    lo, hi = t0 * 1000.0, t1 * 1000.0
    inside = [t for t in tasks if t["launch"] >= lo and t["finish"] <= hi]
    busy_ms = sum(t["finish"] - t["launch"] for t in inside)
    width: dict = {}
    for t in inside:
        width[t["stage"]] = width.get(t["stage"], 0) + 1
    # skew needs at least two tasks to compare
    window_stages = [s for s in stages if width.get(s["stage"], 0) >= 2]
    skew = 1.0
    if window_stages:
        longest = max(window_stages, key=lambda s: s["completed"] - s["submitted"])
        durs = [t["finish"] - t["launch"] for t in inside if t["stage"] == longest["stage"]]
        med = statistics.median(durs) if durs else 0
        skew = max(durs) / med if med > 0 else 1.0
    return {
        "tasks": len(inside),
        "shuffle_write_bytes": sum(t["shuffle_write"] for t in inside),
        "spill_bytes": sum(t["spill"] for t in inside),
        "gc_s": sum(t["gc_ms"] for t in inside) / 1000.0,
        "task_skew": skew,
        "busy_share": busy_ms / max((hi - lo) * cores, 1.0),
    }
