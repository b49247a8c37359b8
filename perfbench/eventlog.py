"""Per-job-group totals from Spark's own event log.

The benchmark turns the event log on through Spark confs and runs every
timed op under a job group of its own.  After ``spark.stop()`` the rolling
``eventlog_v2_*/events_*`` files are parsed once: each ``JobStart`` names
its group and stages, and each ``TaskEnd`` is charged to the group of its
stage.
"""

from __future__ import annotations

import glob
import json
import os
import re
from collections import defaultdict

FIELDS = ("jobs", "stages", "tasks", "run_s", "cpu_s", "gc_s",
          "shuffle_read_b", "shuffle_write_b", "spill_b")


def spark_confs(log_dir: str) -> list[str]:
    """``--conf`` settings that turn the uncompressed event log on."""
    return [
        "spark.eventLog.enabled=true",
        f"spark.eventLog.dir=file://{log_dir}",
        "spark.eventLog.compress=false",
    ]


class Switch:
    """Detach and re-attach the live event-log listener, so one session
    can run the same ops untraced and then traced."""

    def __init__(self, spark):
        sc = spark.sparkContext._jsc.sc()
        self._bus = sc.listenerBus()
        self._listener = sc.eventLogger().get()

    def off(self) -> None:
        self._bus.removeListener(self._listener)

    def on(self) -> None:
        self._bus.addToEventLogQueue(self._listener)


def _files(log_dir: str) -> list[str]:
    def index(p: str) -> int:
        m = re.match(r"events_(\d+)_", os.path.basename(p))
        return int(m.group(1)) if m else 0

    return sorted(glob.glob(f"{log_dir}/eventlog_v2_*/events_*"), key=index)


def totals_by_group(log_dir: str) -> dict[str, dict[str, float]]:
    stage_group: dict[int, str] = {}
    out: dict[str, dict[str, float]] = defaultdict(lambda: dict.fromkeys(FIELDS, 0))
    for path in _files(log_dir):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if group is None:
                        continue
                    out[group]["jobs"] += 1
                    for sid in ev.get("Stage IDs", []):
                        stage_group.setdefault(sid, group)
                elif kind == "SparkListenerStageSubmitted":
                    group = stage_group.get(ev["Stage Info"]["Stage ID"])
                    if group is not None:
                        out[group]["stages"] += 1
                elif kind == "SparkListenerTaskEnd":
                    group = stage_group.get(ev["Stage ID"])
                    if group is not None:
                        _add_task(out[group], ev.get("Task Metrics") or {})
    return dict(out)


def _add_task(t: dict[str, float], m: dict) -> None:
    read = m.get("Shuffle Read Metrics") or {}
    write = m.get("Shuffle Write Metrics") or {}
    t["tasks"] += 1
    t["run_s"] += m.get("Executor Run Time", 0) / 1e3
    t["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
    t["gc_s"] += m.get("JVM GC Time", 0) / 1e3
    t["shuffle_read_b"] += read.get("Remote Bytes Read", 0) + read.get("Local Bytes Read", 0)
    t["shuffle_write_b"] += write.get("Shuffle Bytes Written", 0)
    t["spill_b"] += m.get("Disk Bytes Spilled", 0)
