"""Digest of Spark's JSON event log over one time window: shuffle bytes,
spill, GC and the task-time straggler ratio of the timed job."""

from __future__ import annotations

import json
import os
import statistics


def _task_ends(log_dir: str):
    for root, _dirs, files in os.walk(log_dir):
        for name in sorted(files):
            with open(os.path.join(root, name)) as f:
                for line in f:
                    if '"SparkListenerTaskEnd"' in line:
                        yield json.loads(line)


def digest(log_dir: str, start_ms: float, end_ms: float) -> dict[str, float]:
    """Sums over the tasks launched inside ``[start_ms, end_ms]`` (epoch ms).

    ``task_s.max_over_median`` is taken in the stage (of at least four
    tasks) where the slowest task exceeds the median task by the most
    time, i.e. where a straggler costs the most wall."""
    shuffle_w = shuffle_r = spill = gc_ms = 0
    by_stage: dict[int, list[float]] = {}
    for ev in _task_ends(log_dir):
        info, m = ev.get("Task Info", {}), ev.get("Task Metrics")
        if m is None or not start_ms <= info.get("Launch Time", -1) <= end_ms:
            continue
        shuffle_w += m["Shuffle Write Metrics"]["Shuffle Bytes Written"]
        r = m["Shuffle Read Metrics"]
        shuffle_r += r["Remote Bytes Read"] + r["Local Bytes Read"]
        spill += m["Disk Bytes Spilled"]
        gc_ms += m["JVM GC Time"]
        by_stage.setdefault(ev["Stage ID"], []).append(m["Executor Run Time"])
    ratio, worst = 1.0, -1.0
    for times in by_stage.values():
        if len(times) < 4:
            continue
        med = statistics.median(times)
        if max(times) - med > worst:
            worst = max(times) - med
            ratio = max(times) / max(med, 1.0)
    return {
        "spark.shuffle_write_mb": shuffle_w / 1e6,
        "spark.shuffle_read_mb": shuffle_r / 1e6,
        "spark.spill_mb": spill / 1e6,
        "spark.gc_s": gc_ms / 1e3,
        "spark.task_s.max_over_median": ratio,
        "spark.tasks": float(sum(len(t) for t in by_stage.values())),
    }
