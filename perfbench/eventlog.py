"""Per-stage task metrics from Spark's opt-in event log (traced runs only).

Jobs are attributed to the benchmark's operations through the job group
the benchmark sets around each phase (``<op index>:<phase>``).
"""

from __future__ import annotations

import json
import os

FIELDS = ("shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
          "executor_cpu_ms", "gc_ms", "scheduler_delay_ms")


def _lines(evdir: str):
    for name in sorted(os.listdir(evdir)):
        path = os.path.join(evdir, name)
        if os.path.isdir(path):  # rolling event-log directory
            parts = sorted(os.path.join(path, f) for f in os.listdir(path)
                           if "events" in f)
        else:
            parts = [path]
        for p in parts:
            with open(p, encoding="utf-8") as f:
                yield from f


def by_group(evdir: str) -> dict[str, dict[str, float]]:
    """Job group -> summed task metrics of the jobs launched under it."""
    stage_group: dict[int, str] = {}
    out: dict[str, dict[str, float]] = {}
    if not os.path.isdir(evdir):
        return out
    for line in _lines(evdir):
        try:
            ev = json.loads(line)
        except ValueError:
            continue  # a torn last line of an unfinished log
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            if group:
                for sid in ev.get("Stage IDs", []):
                    stage_group[sid] = group
        elif kind == "SparkListenerTaskEnd":
            group = stage_group.get(ev.get("Stage ID"))
            if group is None:
                continue
            ti = ev.get("Task Info") or {}
            tm = ev.get("Task Metrics") or {}
            sr = tm.get("Shuffle Read Metrics") or {}
            sw = tm.get("Shuffle Write Metrics") or {}
            dur = ti.get("Finish Time", 0) - ti.get("Launch Time", 0)
            busy = (tm.get("Executor Run Time", 0)
                    + tm.get("Executor Deserialize Time", 0)
                    + tm.get("Result Serialization Time", 0)
                    + ti.get("Getting Result Time", 0))
            g = out.setdefault(group, dict.fromkeys(FIELDS, 0.0))
            g["shuffle_read_bytes"] += (sr.get("Remote Bytes Read", 0)
                                        + sr.get("Local Bytes Read", 0))
            g["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
            g["spill_bytes"] += (tm.get("Memory Bytes Spilled", 0)
                                 + tm.get("Disk Bytes Spilled", 0))
            g["executor_cpu_ms"] += tm.get("Executor CPU Time", 0) / 1e6
            g["gc_ms"] += tm.get("JVM GC Time", 0)
            g["scheduler_delay_ms"] += max(0, dur - busy)
    return out
