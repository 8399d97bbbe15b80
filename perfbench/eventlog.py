"""Spark event-log reader for the traced run.

The benchmark wraps each layer call in a job group (``SparkContext
.setJobGroup``); this module reads the uncompressed JSON event log that
``SPARK_GRAFT_EVENTLOG_DIR`` switches on and sums, per job group: jobs,
stages, tasks, task metrics (shuffle, spill, GC, executor CPU), the SQL
metrics of the Python exec nodes and file scans, and the wall time no stage
covers.  It also follows cached block sizes (block-update events) to give
the peak storage the cache holds.
"""

from __future__ import annotations

import json
import os
from collections import defaultdict

PYTHON_NODES = ("MapInPandas", "ArrowEvalPython")
PYTHON_TIMINGS = (
    "time to start Python workers",
    "time to initialize Python workers",
    "time to run Python workers",
)
SQL_PREFIX = "org.apache.spark.sql.execution.ui."


class GroupStats:
    __slots__ = (
        "jobs", "stages", "tasks", "shuffle_write_b", "shuffle_read_b",
        "spill_b", "gc_ms", "executor_cpu_ns", "python_ms", "files_read",
        "intervals",
    )

    def __init__(self):
        self.jobs = self.stages = self.tasks = 0
        self.shuffle_write_b = self.shuffle_read_b = self.spill_b = 0
        self.gc_ms = self.executor_cpu_ns = self.python_ms = self.files_read = 0
        self.intervals: list[tuple[float, float]] = []

    def covered_s(self, t0: float, t1: float) -> float:
        """Seconds of [t0, t1] (epoch seconds) that some stage covers."""
        spans = sorted((max(s, t0), min(e, t1)) for s, e in self.intervals)
        total, cur_s, cur_e = 0.0, None, None
        for s, e in spans:
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


class EventLog:
    def __init__(self, log_dir: str):
        self.groups: dict[str, GroupStats] = defaultdict(GroupStats)
        self.storage_peak_b = 0
        self._stage_group: dict[int, str] = {}
        self._exec_group: dict[int, str] = {}
        # accumulator id -> (SQL execution id, node name, metric name)
        self._acc: dict[int, tuple[int, str, str]] = {}
        self._cached: dict[str, int] = {}  # block id -> bytes held
        for path in _log_files(log_dir):
            with open(path) as f:
                for line in f:
                    self._event(json.loads(line))

    def group(self, name: str) -> GroupStats:
        return self.groups.get(name) or GroupStats()

    def _event(self, ev: dict) -> None:
        kind = ev["Event"]
        if kind == "SparkListenerJobStart":
            grp = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
            self.groups[grp].jobs += 1
            for sid in ev.get("Stage IDs", ()):
                self._stage_group[sid] = grp
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            grp = self._stage_group.get(info["Stage ID"], "")
            if info.get("Submission Time") and info.get("Completion Time"):
                g = self.groups[grp]
                g.stages += 1
                g.intervals.append(
                    (info["Submission Time"] / 1e3, info["Completion Time"] / 1e3)
                )
        elif kind == "SparkListenerBlockUpdated":
            info = ev["Block Updated Info"]
            if info["Block ID"].startswith("rdd_"):
                size = info["Memory Size"] + info["Disk Size"]
                if size:
                    self._cached[info["Block ID"]] = size
                else:
                    self._cached.pop(info["Block ID"], None)
                self.storage_peak_b = max(self.storage_peak_b, sum(self._cached.values()))
        elif kind == "SparkListenerTaskEnd":
            self._task(ev)
        elif kind == SQL_PREFIX + "SparkListenerSQLExecutionStart":
            self._exec_group[ev["executionId"]] = ev.get("jobGroupId") or ""
            self._plan(ev["executionId"], ev["sparkPlanInfo"])
        elif kind == SQL_PREFIX + "SparkListenerSQLAdaptiveExecutionUpdate":
            self._plan(ev["executionId"], ev["sparkPlanInfo"])
        elif kind == SQL_PREFIX + "SparkListenerDriverAccumUpdates":
            for acc_id, value in ev["accumUpdates"]:
                self._sql_metric(acc_id, value)

    def _plan(self, exec_id: int, node: dict) -> None:
        for m in node.get("metrics", ()):
            self._acc[m["accumulatorId"]] = (exec_id, node["nodeName"], m["name"])
        for child in node.get("children", ()):
            self._plan(exec_id, child)

    def _sql_metric(self, acc_id: int, value) -> None:
        meta = self._acc.get(acc_id)
        if meta is None:
            return
        exec_id, node, metric = meta
        g = self.groups[self._exec_group.get(exec_id, "")]
        if node.startswith(PYTHON_NODES) and metric in PYTHON_TIMINGS:
            g.python_ms += int(value)
        elif node.startswith("Scan") and metric == "number of files read":
            g.files_read += int(value)

    def _task(self, ev: dict) -> None:
        g = self.groups[self._stage_group.get(ev["Stage ID"], "")]
        g.tasks += 1
        m = ev.get("Task Metrics") or {}
        sw = m.get("Shuffle Write Metrics") or {}
        sr = m.get("Shuffle Read Metrics") or {}
        g.shuffle_write_b += sw.get("Shuffle Bytes Written", 0)
        g.shuffle_read_b += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
        g.spill_b += m.get("Disk Bytes Spilled", 0)
        g.gc_ms += m.get("JVM GC Time", 0)
        g.executor_cpu_ns += m.get("Executor CPU Time", 0)
        for acc in (ev.get("Task Info") or {}).get("Accumulables", ()):
            if "Update" in acc and acc["ID"] in self._acc:
                self._sql_metric(acc["ID"], acc["Update"])


def _log_files(log_dir: str) -> list[str]:
    """Event files in write order: Spark 4 writes one directory per
    application holding ``events_<n>_<app>`` parts."""
    out = []
    for dirpath, _dirs, files in os.walk(log_dir):
        out += [os.path.join(dirpath, f) for f in files if f.startswith("events_")]
    if not out:
        raise FileNotFoundError(f"no Spark event log under {log_dir}")
    return sorted(out, key=lambda p: (os.path.dirname(p), int(os.path.basename(p).split("_")[1])))
