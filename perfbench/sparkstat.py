"""Spark-side metrics of the benchmark's repetitions and layers.

Untraced runs read shuffle bytes from the live status store, which
Spark keeps whatever the UI setting.  Traced runs enable the event log
and rebuild every per-layer number from it after the session stops,
so nothing but the log is needed to explain a run.
"""

from __future__ import annotations

import json
import os
import statistics
from collections import defaultdict


def shuffle_write_bytes(spark) -> int:
    """Shuffle bytes written so far by the live session's executors.

    Executor totals survive the status store's eviction of old stages,
    which a loop of many small jobs reaches within one repetition."""
    jsc = spark.sparkContext._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    execs = jsc.statusStore().executorList(True)
    return sum(execs.apply(i).totalShuffleWrite()
               for i in range(execs.size()))


def event_log_options(log_dir: str) -> dict:
    """``get_spark(extra=...)`` settings for one plain-JSON event log."""
    return {"spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.abspath(log_dir),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false"}


class GroupStats:
    """Task metrics of one job group, summed over its completed stages."""

    def __init__(self) -> None:
        self.jvm_cpu_s = 0.0
        self.gc_s = 0.0
        self.shuffle_write_bytes = 0
        self.spill_bytes = 0
        self.tasks_failed = 0
        self.stages: set[tuple[int, int]] = set()
        self.task_ms: dict[int, list[int]] = defaultdict(list)

    @property
    def task_skew(self) -> float:
        """Max over median task time in the stage with the most task
        time: 1.0 is perfectly even."""
        if not self.task_ms:
            return 0.0
        times = max(self.task_ms.values(), key=sum)
        med = statistics.median(times)
        return max(times) / med if med > 0 else 1.0


def read_event_log(log_dir: str) -> dict[str, GroupStats]:
    """Per job group stats from every event log file in ``log_dir``."""
    stage_group: dict[int, str] = {}
    groups: dict[str, GroupStats] = defaultdict(GroupStats)
    for name in sorted(os.listdir(log_dir)):
        path = os.path.join(log_dir, name)
        if name.startswith(".") or not os.path.isfile(path):
            continue
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get(
                        "spark.jobGroup.id")
                    for sid in ev["Stage IDs"]:
                        stage_group[sid] = group
                elif kind == "SparkListenerTaskEnd":
                    group = stage_group.get(ev["Stage ID"])
                    if group is None:
                        continue
                    g = groups[group]
                    info = ev["Task Info"]
                    if info.get("Failed"):
                        g.tasks_failed += 1
                    g.stages.add((ev["Stage ID"], ev["Stage Attempt ID"]))
                    g.task_ms[ev["Stage ID"]].append(
                        info["Finish Time"] - info["Launch Time"])
                    m = ev.get("Task Metrics") or {}
                    g.jvm_cpu_s += m.get("Executor CPU Time", 0) / 1e9
                    g.gc_s += m.get("JVM GC Time", 0) / 1e3
                    g.spill_bytes += m.get("Disk Bytes Spilled", 0)
                    g.shuffle_write_bytes += (
                        m.get("Shuffle Write Metrics") or {}).get(
                            "Shuffle Bytes Written", 0)
    return groups
