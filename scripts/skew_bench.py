#!/usr/bin/env python
"""Measured adversarial-skew evidence for SCALE.md (round-3 VERDICT item 6).

Two adversarial shapes (pass as arg3):

- ``cluster`` — the salting test's dataset at bench scale: N tight
  perturbations of one base histogram.  Finding: the QUANTILE grid already
  defuses this (equal-mass boundaries split any strictly-distinct centroid
  distribution), so cells stay balanced with or without the cap — skew
  defense layer 1.
- ``dup`` (default) — N bitwise-identical histograms (distinct ids): every
  centroid ties, quantile boundaries cannot split ties, ALL records land in
  ONE cell — the exact-duplicate hot key every dedup corpus contains.
  Without the cap one task enumerates all n^2/2 pairs; with it the cell
  fans into block-pair sub-groups — skew defense layer 2, and the
  measurement the 100-TB story rests on.

Total join work is identical with the cap on or off; only the distribution
over tasks changes.

Protocol (bench-hygiene: interleaved min-of-n, per-run host busy): run the
same join with the hot-cell cap disabled (one giant block-pair group) and
set to 200 (the floor of ``_derive_cell_cap``, substituted for the
derivation), alternating, and for each run pull the PER-TASK durations of the
heaviest stage from the Spark UI REST API — max task vs median task is the
straggler number the 100-TB story cares about.

Usage: python scripts/skew_bench.py [N] [runs] [shape]  (800, 3, dup)
Writes nothing; prints a markdown-ready table.
"""

from __future__ import annotations

import json
import os
import sys
import time
import urllib.request

import numpy as np

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def task_summary(spark):
    """(stage_name, max_task_sec, median_task_sec, n_tasks) of the stage
    with the largest max task duration in the application so far."""
    port = spark.conf.get("spark.ui.port", "4040")
    app = spark.sparkContext.applicationId
    base = f"http://localhost:{port}/api/v1/applications/{app}"
    stages = json.load(
        urllib.request.urlopen(f"{base}/stages?status=complete")
    )
    best = None
    for st in stages:
        sid, att = st["stageId"], st["attemptId"]
        try:
            q = json.load(
                urllib.request.urlopen(
                    f"{base}/stages/{sid}/{att}/taskSummary?quantiles=0.0,0.5,1.0"
                )
            )
        except Exception:
            continue
        dur = q.get("duration") or q.get("executorRunTime")
        if not dur:
            continue
        mx, med = dur[2] / 1e3, dur[1] / 1e3
        if best is None or mx > best[1]:
            best = (st.get("name", str(sid)).split("\n")[0], mx, med, st["numTasks"])
    return best


def host_busy() -> float:
    with open("/proc/stat") as f:
        parts = [int(x) for x in f.readline().split()[1:]]
    idle = parts[3] + parts[4]
    return sum(parts), idle


def main() -> None:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 800
    runs = int(sys.argv[2]) if len(sys.argv) > 2 else 3
    from pyspark.sql import SparkSession

    import melody_join_spark.operators.emd_join_nd as EJ

    shape = sys.argv[3] if len(sys.argv) > 3 else "dup"
    rng = np.random.default_rng(3)
    bins = np.array(
        [[i, j] for i in range(3) for j in range(3)], dtype=np.float64
    )
    base = rng.random(9) + 0.5
    if shape == "dup":
        w0 = [float(x) for x in base / base.sum()]
        rows = [(i + 1, w0) for i in range(n)]
    else:  # cluster
        rows = [
            (i + 1, [float(x) for x in base + 0.01 * rng.random(9)])
            for i in range(n)
        ]

    results = {"off": [], "on": []}
    tasks = {"off": [], "on": []}
    for r in range(runs):
        for label, cap in (("off", 10**9), ("on", 200)):
            spark = (
                SparkSession.builder.master("local[32]")
                .config("spark.sql.shuffle.partitions", "32")
                .config("spark.ui.enabled", "true")
                .appName(f"skew-{label}-{r}")
                .getOrCreate()
            )
            df = spark.createDataFrame(rows, "id long, w array<double>")
            t0, b0 = time.time(), host_busy()
            EJ._derive_cell_cap = lambda n, width, cap=cap: cap
            out = EJ.emd_join_nd(df, bins, 0.05, strategy="grid", grid=2)
            cnt = out.count()
            dt = time.time() - t0
            b1 = host_busy()
            busy = 100.0 * (1 - (b1[1] - b0[1]) / max(1, b1[0] - b0[0]))
            ts = task_summary(spark)
            results[label].append(dt)
            tasks[label].append(ts)
            print(
                f"run{r} cap={label}: {dt:.1f}s, {cnt} pairs, host_busy={busy:.0f}%, "
                f"heaviest stage: max_task={ts[1]:.1f}s median_task={ts[2]:.2f}s "
                f"({ts[3]} tasks, {ts[0]})"
            )
            spark.stop()
    print()
    summary = {}
    for label in ("off", "on"):
        i = int(np.argmin(results[label]))
        ts = tasks[label][i]
        summary[label] = (results[label][i], ts[1])
        print(
            f"cap {label}: min wall {results[label][i]:.1f}s  "
            f"max_task {ts[1]:.1f}s  median_task {ts[2]:.2f}s  "
            f"({ts[3]} tasks in heaviest stage)"
        )
    print(
        f"salting straggler gain: max_task {summary['off'][1]:.1f}s -> "
        f"{summary['on'][1]:.1f}s "
        f"({summary['off'][1] / max(summary['on'][1], 1e-9):.1f}x), "
        f"wall {summary['off'][0]:.1f}s -> {summary['on'][0]:.1f}s"
    )


if __name__ == "__main__":
    main()
