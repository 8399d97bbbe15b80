#!/usr/bin/env python
"""Run one declared query N times in a session with the event log on and
attribute its wall: per-stage run time, scheduler/driver gaps between jobs,
and the serial (non-overlapped-stage) share.  The round-12 protocol tool for
"profile first" on untouched queries (round-11 VERDICT items 2/4/7).

Usage:
  python scripts/profile_query.py <query> [--runs=3] [--sf=/root/testdata/sf0.1]

Prints, per run: wall, job count, sum of stage walls, driver-gap total
(wall - union of stage intervals), and the top stages by wall with task
counts — enough to tell "serial driver chatter" from "one slow stage".
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

RUNS = 3
SF_DIR = "/root/testdata/sf0.1"
NAME = None
for a in sys.argv[1:]:
    if a.startswith("--runs="):
        RUNS = int(a.split("=", 1)[1])
    elif a.startswith("--sf="):
        SF_DIR = a.split("=", 1)[1]
    else:
        NAME = a
if not NAME:
    print("usage: profile_query.py <query> [--runs=N] [--sf=dir]")
    raise SystemExit(2)

EVDIR = tempfile.mkdtemp(prefix="mjs_ev_")
os.environ["SPARK_GRAFT_EVENTLOG_DIR"] = EVDIR

from melody_join_spark.session import get_spark  # noqa: E402

spark = get_spark(f"profile-{NAME}")
sc = spark.sparkContext
sc.setLogLevel("ERROR")

import __spark_entry__ as em  # noqa: E402

fn = em.queries()[NAME]


def run_once(tag: str) -> float:
    spark.catalog.clearCache()
    sc.setJobGroup(tag, f"{NAME} {tag}")
    t0 = time.time()
    df = fn(spark, SF_DIR)
    df.write.format("noop").mode("overwrite").save()
    wall = time.time() - t0
    sc.setJobGroup("", "")
    return wall


marks = [(f"run{i}", run_once(f"run{i}")) for i in range(RUNS)]

spark.stop()

# ---- parse the event log -------------------------------------------------
def _find_logs(root: str) -> list[str]:
    out = []
    for dirpath, _dirs, files in os.walk(root):
        for f in files:
            if f.startswith("events_") or (
                f.startswith("local-") and not f.endswith(".inprogress")
            ) or f.endswith(".inprogress"):
                out.append(os.path.join(dirpath, f))
    return sorted(out)


logfs = _find_logs(EVDIR)
if not logfs:
    print("no event log found"); raise SystemExit(1)

jobs = {}     # jobId -> dict(start, end, group, stage_ids)
stages = {}   # stageId -> dict(submit, complete, ntasks, name)
for lf in logfs:
    with open(lf) as fh:
        for line in fh:
            try:
                ev = json.loads(line)
            except json.JSONDecodeError:
                continue
            e = ev.get("Event")
            if e == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                jobs[ev["Job ID"]] = {
                    "start": ev["Submission Time"] / 1e3,
                    "end": None,
                    "group": props.get("spark.jobGroup.id", ""),
                    "stages": [s["Stage ID"] for s in ev.get("Stage Infos", [])],
                }
            elif e == "SparkListenerJobEnd":
                if ev["Job ID"] in jobs:
                    jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1e3
            elif e == "SparkListenerStageCompleted":
                si = ev["Stage Info"]
                sub = si.get("Submission Time")
                com = si.get("Completion Time")
                if sub and com:
                    stages[si["Stage ID"]] = {
                        "submit": sub / 1e3,
                        "complete": com / 1e3,
                        "ntasks": si.get("Number of Tasks", 0),
                        "name": si.get("Stage Name", "")[:60],
                    }


def union_len(intervals: list[tuple[float, float]]) -> float:
    if not intervals:
        return 0.0
    out = 0.0
    cur_s, cur_e = None, None
    for s, e in sorted(intervals):
        if cur_s is None:
            cur_s, cur_e = s, e
        elif s > cur_e:
            out += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    out += cur_e - cur_s
    return out


for tag, wall in marks:
    jids = [j for j, v in jobs.items() if v["group"] == tag and v["end"]]
    sids = sorted({s for j in jids for s in jobs[j]["stages"] if s in stages})
    ivals = [(stages[s]["submit"], stages[s]["complete"]) for s in sids]
    covered = union_len(ivals)
    stage_sum = sum(e - s for s, e in ivals)
    print(f"\n[{tag}] wall={wall:.2f}s jobs={len(jids)} stages={len(sids)} "
          f"stage-wall-sum={stage_sum:.2f}s stage-union={covered:.2f}s "
          f"uncovered-gap={wall - covered:.2f}s")
    top = sorted(sids, key=lambda s: stages[s]["submit"])
    for s in top:
        st = stages[s]
        w = st["complete"] - st["submit"]
        if w >= 0.15:
            print(f"    stage {s:>4} {w:6.2f}s  tasks={st['ntasks']:<4} {st['name']}")

print(f"\nevent logs: {logfs}")
