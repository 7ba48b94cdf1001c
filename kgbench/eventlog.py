"""Per-job-group figures from a Spark event log (plain JSON lines).

Spark writes one JSON object per line. Jobs carry their group in
``SparkListenerJobStart.Properties["spark.jobGroup.id"]``; each task's
metrics arrive in ``SparkListenerTaskEnd`` keyed by stage id. This reader
maps stage → group through the job-start events and sums task metrics per
group.
"""

from __future__ import annotations

import json
import statistics

#: reported per group, with units
FIELDS = {"executor_run_s": "s", "executor_cpu_s": "s", "shuffle_write_mb": "MB",
          "spill_mb": "MB", "gc_s": "s", "task_skew": "ratio"}


def read_groups(lines) -> dict[str, dict[str, float]]:
    """Event-log lines → {job group: {field: value}} for FIELDS.

    ``task_skew`` is max / median task wall time (finish - launch) over the
    group's tasks; spill counts bytes spilled to disk."""
    stage_group: dict[int, str] = {}
    tasks: dict[str, list[dict]] = {}
    for line in lines:
        line = line.strip()
        if not line:
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            if group is not None:
                for sid in ev.get("Stage IDs", []):
                    stage_group[int(sid)] = group
        elif kind == "SparkListenerTaskEnd":
            group = stage_group.get(int(ev["Stage ID"]))
            if group is not None:
                tasks.setdefault(group, []).append(ev)
    return {g: _summarize(evs) for g, evs in tasks.items()}


def _summarize(evs: list[dict]) -> dict[str, float]:
    run_ms = cpu_ns = gc_ms = shuffle_b = spill_b = 0
    walls = []
    for ev in evs:
        m = ev.get("Task Metrics") or {}
        info = ev.get("Task Info") or {}
        run_ms += m.get("Executor Run Time", 0)
        cpu_ns += m.get("Executor CPU Time", 0)
        gc_ms += m.get("JVM GC Time", 0)
        spill_b += m.get("Disk Bytes Spilled", 0)
        shuffle_b += (m.get("Shuffle Write Metrics") or {}).get(
            "Shuffle Bytes Written", 0)
        walls.append(info.get("Finish Time", 0) - info.get("Launch Time", 0))
    med = statistics.median(walls)
    return {
        "executor_run_s": run_ms / 1e3,
        "executor_cpu_s": cpu_ns / 1e9,
        "shuffle_write_mb": shuffle_b / 2**20,
        "spill_mb": spill_b / 2**20,
        "gc_s": gc_ms / 1e3,
        "task_skew": max(walls) / med if med > 0 else 1.0,
    }


def read_file(path: str) -> dict[str, dict[str, float]]:
    with open(path, encoding="utf-8") as f:
        return read_groups(f)
