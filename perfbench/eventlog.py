"""Per-span Spark stage and Python-boundary metrics from Spark's event log.

The traced run launches Spark with ``spark.eventLog.enabled=true`` and
``spark.eventLog.compress=false``, so the log is JSON lines. Each traced
layer call runs under its own job group; the jobs of a group give the
stages and tasks of that call.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
from collections import defaultdict

MIB = float(1 << 20)

# SQL metric names of the Arrow / pandas Python nodes (MapInPandas,
# ArrowEvalPython, ...) -> (per-layer metric, divisor to s or MiB)
PYTHON_METRICS = {
    "time to initialize Python workers": ("python.init_s", 1e3),
    "time to run Python workers": ("python.run_s", 1e3),
    "data sent to Python workers": ("python.to_py_mb", MIB),
    "data returned from Python workers": ("python.from_py_mb", MIB),
}


def _events(log_dir: str):
    for path in sorted(glob.glob(os.path.join(log_dir, "**", "*"),
                                 recursive=True)):
        if not os.path.isfile(path):
            continue
        with open(path) as f:
            for line in f:
                if line.startswith("{"):
                    yield json.loads(line)


class EventLog:
    """Stages, tasks and SQL-metric updates grouped by job group."""

    def __init__(self, log_dir: str):
        self.group_stages: dict[str, list[int]] = defaultdict(list)
        self.group_jobs: dict[str, int] = defaultdict(int)
        self.stage_span: dict[int, tuple[int, int]] = {}
        self.tasks: dict[int, list[dict]] = defaultdict(list)
        seen: set[int] = set()
        for ev in _events(log_dir):
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                if group is None:
                    continue
                self.group_jobs[group] += 1
                for sid in ev.get("Stage IDs", ()):
                    if sid not in seen:  # a stage belongs to its first job
                        seen.add(sid)
                        self.group_stages[group].append(sid)
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                if "Submission Time" in info and "Completion Time" in info:
                    self.stage_span[info["Stage ID"]] = (
                        info["Submission Time"], info["Completion Time"])
            elif kind == "SparkListenerTaskEnd":
                self.tasks[ev["Stage ID"]].append(ev)

    def call_metrics(self, group: str, start_ms: float, end_ms: float) -> dict:
        """Stage metrics of one layer call (one job group), the call's
        span given in epoch milliseconds."""
        stages = [s for s in self.group_stages.get(group, ())
                  if s in self.stage_span]
        tasks = [t for s in stages for t in self.tasks.get(s, ())]
        tm = [t.get("Task Metrics") or {} for t in tasks]
        shuffle = sum((m.get("Shuffle Write Metrics") or {})
                      .get("Shuffle Bytes Written", 0) for m in tm)
        spill = sum(m.get("Disk Bytes Spilled", 0) for m in tm)
        skew = 0.0
        if stages:
            slow = max(stages, key=lambda s: self.stage_span[s][1]
                       - self.stage_span[s][0])
            durs = [t["Task Info"]["Finish Time"]
                    - t["Task Info"]["Launch Time"]
                    for t in self.tasks.get(slow, ())]
            med = statistics.median(durs) if durs else 0
            skew = max(durs) / med if med > 0 else 1.0
        # time inside the span during which no stage of the call ran
        busy, cur_s, cur_e = 0.0, None, None
        for s, e in sorted(self.stage_span[x] for x in stages):
            s, e = max(s, start_ms), min(e, end_ms)
            if e <= s:
                continue
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    busy += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            busy += cur_e - cur_s
        return {
            "stages": len(stages), "tasks": len(tasks),
            "shuffle_write_mb": shuffle / MIB, "spill_mb": spill / MIB,
            "task_skew": skew,
            "driver_gap_s": max(end_ms - start_ms - busy, 0.0) / 1e3,
        }

    def python_metrics(self, group: str) -> dict:
        out = {name: 0.0 for name, _ in PYTHON_METRICS.values()}
        for s in self.group_stages.get(group, ()):
            for t in self.tasks.get(s, ()):
                for acc in (t.get("Task Info") or {}).get("Accumulables", ()):
                    hit = PYTHON_METRICS.get(acc.get("Name"))
                    if hit is not None:
                        out[hit[0]] += float(acc.get("Update", 0)) / hit[1]
        return out

    def jobs(self, group: str) -> int:
        return self.group_jobs.get(group, 0)
