#!/usr/bin/env python3
"""The repository's benchmark: one workload, one process, one client.

    python3 perfbench/run.py --workload melody_d3 --seed 1 --seconds 20 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 20   # both modes, every workload

Run from the repository root.  A run starts one ``local[nproc]`` session
through ``melody_join_spark.session.get_spark``, prepares the workload's
seeded inputs, runs the workload's fixed number of untimed warm-up
operations, computes the reference outside the timed window (the warm-up
outputs are checked against it too), then runs operations back to back (a
closed loop with one client) for ``--seconds``.  Each operation fully
materializes its result with ``toPandas()`` and is checked against the
reference; a wrong result or an exception is a failed operation.

Untraced (``--trace 0``), the last line of stdout is the result with the
end-to-end metrics (see BENCHMARK.json and perfbench/README.md).  Traced
(``--trace 1``), the Spark event log is on, each layer call runs under its
own job group, and the last line holds the per-layer metrics.  The line
before the last is a ``context`` object: fail_frac, per-operation walls and
host steal and busy shares.

``bench.py`` at the repository root stays the 73-query ``local[32]`` series
of the ROADMAP; this benchmark does not replace or modify it.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback

import numpy as np

import eventlog
import kernelbench
import procstat
from workloads import INDEX_SEARCHES, WORKLOADS

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
# the JVM heap of the local session; the library default (half the RAM,
# pinned with -Xms) is sized for dedicated bench hosts
DRIVER_MEM = "1g"
WORKLOAD_NAMES = tuple(WORKLOADS)


def parse_args(argv: list[str]) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOAD_NAMES + ("all",))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=20.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true", help="tiny inputs")
    ap.add_argument(
        "--corrupt-reference",
        action="store_true",
        help="tamper with the reference so every check must fail (smoke test)",
    )
    return ap.parse_args(argv)


def configure_env(work: str, trace: bool) -> None:
    """Environment the session and its workers inherit; set before the JVM
    starts.  All scratch space stays inside ``work``."""
    cpus = str(len(os.sched_getaffinity(0)))
    local = os.path.join(work, "spark-local")
    tmp = os.path.join(work, "tmp")
    os.makedirs(local)
    os.makedirs(tmp)
    submit = [
        "--conf spark.ui.showConsoleProgress=false",
        f"--conf spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
    ]
    if trace:
        evdir = os.path.join(work, "eventlog")
        os.makedirs(evdir)
        os.environ["SPARK_GRAFT_EVENTLOG_DIR"] = evdir
        # cached block sizes, for the storage peak of the cache layer
        submit.append("--conf spark.eventLog.logBlockUpdates.enabled=true")
    else:
        os.environ.pop("SPARK_GRAFT_EVENTLOG_DIR", None)
    os.environ.update(
        SPARK_GRAFT_CPUS=cpus,
        SPARK_GRAFT_DRIVER_MEM=DRIVER_MEM,
        SPARK_LOCAL_DIRS=local,
        TMPDIR=tmp,
        PYTHONPATH=os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        PYSPARK_SUBMIT_ARGS=" ".join(submit + ["pyspark-shell"]),
    )
    os.environ.pop("OMP_NUM_THREADS", None)


class Runner:
    """Owns the session and the workload of one run."""

    def __init__(self, args: argparse.Namespace, work: str):
        self.args = args
        self.work = work
        self.pid = os.getpid()
        self.w = WORKLOADS[args.workload](args.seed, args.smoke)
        self.attempted = 0
        self.failed = 0
        self.spark = None

    def start_session(self) -> float:
        from melody_join_spark.session import get_spark

        t0 = time.perf_counter()
        self.spark = get_spark(f"perfbench-{self.w.name}")
        elapsed = time.perf_counter() - t0
        self.sc = self.spark.sparkContext
        self.sc.setLogLevel("ERROR")
        return elapsed

    def group(self, name: str) -> None:
        self.sc.setJobGroup(name, name)

    def prepare(self) -> tuple[float, dict[str, float]]:
        t0 = time.perf_counter()
        layers = self.w.prepare(self.spark, os.path.join(self.work, "inputs"))
        return time.perf_counter() - t0, layers

    def call(self, fn, check) -> tuple[float, float] | None:
        """One checked call: (wall s, tree CPU s), or None when it raised or
        returned a wrong result.  Afterwards the result is released as a
        caller would, the library's cache drain runs as the next call would
        run it, and ``clearCache`` drops what is left, so no operation reads
        another's cache (bench.py clears between queries too)."""
        from melody_join_spark.cache import drain

        self.attempted += 1
        sample = None
        out = None
        try:
            c0 = procstat.tree_cpu_s(self.pid)
            t0, epoch0 = time.perf_counter(), time.time()
            out = fn()
            wall = time.perf_counter() - t0
            cpu = procstat.tree_cpu_s(self.pid) - c0
            # epoch interval of the call, for the event-log attribution
            self.span = (epoch0, epoch0 + wall)
            if check(out):
                sample = (wall, cpu)
        except Exception:
            traceback.print_exc(file=sys.stderr)
        if sample is None:
            self.failed += 1
        del out
        gc.collect()
        drain()
        self.persisted_after = self.sc._jsc.getPersistentRDDs().size()
        self.spark.catalog.clearCache()
        return sample

    def op(self, i: int, stats=None) -> tuple[float, float] | None:
        return self.call(
            lambda: self.w.op(self.spark, i, stats), lambda out: self.w.check(out, i)
        )

    def warm_up(self) -> float:
        """The workload's fixed number of untimed operations.  Their outputs
        are kept and checked by ``reference``, which runs after them on the
        warmed session (cold, the reference join alone costs 3-4 s of the
        run's time budget)."""
        self.warm_outs = []
        t0 = time.perf_counter()
        for i in range(self.w.warmup_ops):
            self.call(
                lambda: self.w.op(self.spark, i),
                lambda out: self.warm_outs.append((i, out)) is None,
            )
        return time.perf_counter() - t0

    def reference(self) -> None:
        self.w.reference(self.spark)
        if self.args.corrupt_reference:
            self.w.corrupt_reference()
        for i, out in self.warm_outs:
            if not self.w.check(out, i):
                self.failed += 1
        self.warm_outs = []

    def stop(self) -> None:
        """Stop the session and the JVM, and wait for every child process."""
        spark, self.spark = self.spark, None
        if spark is None:
            return
        gateway = self.sc._gateway
        proc = getattr(gateway, "proc", None)
        spark.stop()
        gateway.shutdown()
        if proc is not None:
            try:
                proc.stdin.close()
                proc.wait(timeout=60)
            except (OSError, subprocess.TimeoutExpired):
                proc.kill()
                proc.wait()
        deadline = time.monotonic() + 30
        while len(procstat.tree_pids(self.pid)) > 1:
            if time.monotonic() > deadline:
                for pid in procstat.tree_pids(self.pid)[1:]:
                    try:
                        os.kill(pid, 9)
                    except ProcessLookupError:
                        pass
                break
            time.sleep(0.1)


def timed_run(r: Runner) -> dict:
    host0 = procstat.host_cpu_ticks()
    session_s = r.start_session()
    prep_s, _layers = r.prepare()
    warm_s = r.warm_up()
    r.reference()
    setup_s = session_s + prep_s + warm_s

    walls, cpus = [], []
    pss = procstat.PssPeak(r.pid).start()
    t_end = time.perf_counter() + r.args.seconds
    i = r.w.warmup_ops
    while time.perf_counter() < t_end:
        sample = r.op(i)
        if sample:
            walls.append(sample[0])
            cpus.append(sample[1])
        i += 1
    peak_mb = pss.stop()
    metrics = {}
    if walls:
        metrics = {
            "op_s": {"value": statistics.median(walls), "unit": "s"},
            "cpu_s": {"value": statistics.median(cpus), "unit": "s"},
            "peak_rss_mb": {"value": peak_mb, "unit": "MB"},
            "setup_s": {"value": setup_s, "unit": "s"},
        }
    context = {
        "workload": r.w.name,
        "seed": r.args.seed,
        "fail_frac": r.failed / max(1, r.attempted),
        "op_walls_s": [round(x, 4) for x in walls],
        "session_start_s": session_s,
        "prep_s": prep_s,
        "warmup_s": warm_s,
        "warmup_ops": r.w.warmup_ops,
        **procstat.host_steal_busy_pct(host0, procstat.host_cpu_ticks()),
    }
    return {"context": context, "metrics": metrics}


# event-log readings per layer call: name -> (reader, unit)
EXECUTION = {
    "jobs": (lambda g, gap: g.jobs, "count"),
    "stages": (lambda g, gap: g.stages, "count"),
    "tasks": (lambda g, gap: g.tasks, "count"),
    "python_exec_s": (lambda g, gap: g.python_ms / 1e3, "s"),
    "driver_gap_s": (lambda g, gap: gap, "s"),
    "shuffle_write_mb": (lambda g, gap: g.shuffle_write_b / 2**20, "MB"),
    "shuffle_read_mb": (lambda g, gap: g.shuffle_read_b / 2**20, "MB"),
    "spill_mb": (lambda g, gap: g.spill_b / 2**20, "MB"),
    "gc_s": (lambda g, gap: g.gc_ms / 1e3, "s"),
    "executor_cpu_s": (lambda g, gap: g.executor_cpu_ns / 1e9, "s"),
    "files_read": (lambda g, gap: g.files_read, "count"),
}
# per-layer metric -> event-log reading, for the layer each workload calls
LAYER_READINGS = {
    "melody_d3": {
        f"emd_join_nd.{f}": f
        for f in ("jobs", "stages", "tasks", "python_exec_s", "driver_gap_s", "shuffle_write_mb", "gc_s")
    },
    "dedup_jaccard": {
        f"dedup.{f}": f
        for f in (
            "jobs", "stages", "tasks", "shuffle_write_mb", "shuffle_read_mb",
            "spill_mb", "gc_s", "executor_cpu_s", "driver_gap_s",
        )
    },
}
SEARCH_READINGS = {
    "emd_index.files_read_per_search": "files_read",
    "emd_index.tasks_per_search": "tasks",
    "emd_index.jobs_per_search": "jobs",
    "emd_index.python_exec_s": "python_exec_s",
    "emd_index.driver_gap_s": "driver_gap_s",
}
KERNEL_METRICS = (
    "kernel.exact_lp_us", "kernel.cascade_us_per_candidate", "kernel.bounds_us_per_pair",
)
JOIN_COUNTS = (
    "candidates", "pruned_rubner", "pruned_projection", "pruned_dual",
    "pruned_indmin", "exact_evaluated", "guest_replicas",
)


def traced_run(r: Runner) -> dict:
    """Per-layer numbers.  Every operation in the window is traced: it runs
    under its own job group and, on melody_d3, counts into its own
    JoinStats.  A layer the workload does not call reports 0."""
    from melody_join_spark.operators.emd_join_nd import JoinStats

    w = r.w
    is_join = w.name == "melody_d3"
    host0 = procstat.host_cpu_ticks()
    session_s = r.start_session()
    r.group("prep")
    _prep_s, layers = r.prepare()
    r.group("warmup")
    r.warm_up()
    r.group("reference")
    r.reference()

    walls, spans, join_stats, persisted = [], [], [], []
    t_end = time.perf_counter() + r.args.seconds
    i = w.warmup_ops
    # past the window, keep going until one operation succeeded, within a
    # few attempts
    while time.perf_counter() < t_end or (not walls and i < w.warmup_ops + 3):
        tag = f"op{i}"
        r.group(tag)
        stats = JoinStats(r.sc) if is_join else None
        sample = r.op(i, stats)
        if sample:
            walls.append(sample[0])
            spans.append((tag, *r.span))
            persisted.append(r.persisted_after)
            if stats is not None:
                join_stats.append(stats.snapshot())
        i += 1

    index_spans, build_s, files, index_mb = [], 0.0, 0, 0.0
    if is_join:
        r.group("index_build")
        build_s = w.build_index(os.path.join(r.work, "inputs"))
        files, index_mb = w.index_files()
        # the first search pays the new plan shapes: medians skip it
        for k in range(INDEX_SEARCHES):
            tag = f"search{k}"
            r.group(tag)
            sample = r.call(lambda: w.search(r.spark, k), lambda out: w.check_search(out, k))
            if sample and k:
                index_spans.append((tag, *r.span))
    r.group("teardown")
    host = procstat.host_steal_busy_pct(host0, procstat.host_cpu_ticks())
    r.stop()
    if not walls:
        return {"context": {"workload": w.name, "seed": r.args.seed}, "metrics": {}}
    log = eventlog.EventLog(os.environ["SPARK_GRAFT_EVENTLOG_DIR"])

    def per_call(reading: str, calls: list) -> float:
        if not calls:
            return 0.0
        fn = EXECUTION[reading][0]
        return statistics.median(
            fn(log.group(tag), t1 - t0 - log.group(tag).covered_s(t0, t1))
            for tag, t0, t1 in calls
        )

    m: dict[str, tuple[float, str]] = {
        "session.start_s": (session_s, "s"),
        "tpch_bridge.hist_s": (layers.get("tpch_bridge.hist_s", 0.0), "s"),
    }
    js = join_stats[0] if join_stats else {}
    for f in JOIN_COUNTS:
        m[f"emd_join_nd.{f}"] = (js.get(f, 0), "count")
    pairs = len(w.ref) if is_join else 0
    m["emd_join_nd.result_pairs"] = (pairs, "count")
    m["emd_join_nd.exact_per_result"] = (
        js.get("exact_evaluated", 0) / pairs if pairs else 0.0, "ratio"
    )
    for wname, readings in LAYER_READINGS.items():
        for name, reading in readings.items():
            m[name] = (per_call(reading, spans) if wname == w.name else 0.0, EXECUTION[reading][1])
    m["dedup.result_pairs"] = (len(w.ref) if w.name == "dedup_jaccard" else 0, "count")
    m["cache.persisted_after_op"] = (max(persisted, default=0), "count")
    m["cache.storage_mb_peak"] = (log.storage_peak_b / 2**20, "MB")
    m["emd_index.files_written"] = (files, "count")
    m["emd_index.index_mb"] = (index_mb, "MB")
    m["emd_index.build_s"] = (build_s, "s")
    for name, reading in SEARCH_READINGS.items():
        m[name] = (per_call(reading, index_spans), EXECUTION[reading][1])

    for name in KERNEL_METRICS:
        m[name] = (0.0, "us")
    if is_join:
        for name, value in kernelbench.kernel_metrics(r.args.seed, np.stack(w.hist["w"])).items():
            m[name] = (value, "us")
    m["trace.op_s"] = (statistics.median(walls), "s")
    context = {
        "workload": w.name,
        "seed": r.args.seed,
        "fail_frac": r.failed / max(1, r.attempted),
        "traced_ops": len(walls),
        "index_searches": len(index_spans),
        **host,
    }
    return {"context": context, "metrics": {k: {"value": v, "unit": u} for k, (v, u) in m.items()}}


def run_child(args: argparse.Namespace, name: str, trace: int) -> tuple[dict, dict] | None:
    """One workload run in its own process: (context, result), or None."""
    cmd = [
        sys.executable, os.path.abspath(__file__), "--workload", name,
        "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", str(trace),
    ] + (["--smoke"] if args.smoke else [])
    proc = subprocess.run(cmd, capture_output=True, text=True, cwd=ROOT)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode or len(lines) < 2:
        print(f"{name} trace={trace}: failed (exit {proc.returncode})\n{proc.stderr[-2000:]}")
        return None
    return json.loads(lines[-2])["context"], json.loads(lines[-1])


def run_all(args: argparse.Namespace) -> int:
    """Each workload untraced and then traced, each run in its own process;
    prints one table of every metric, and ``trace.overhead_frac``: the
    traced run's median operation wall over the untraced run's, minus 1.
    Tracing (event log, job groups, JoinStats) is switched on at session
    start, so no single process can time both sides."""
    status = 0
    for name in WORKLOAD_NAMES:
        runs = [run_child(args, name, trace) for trace in (0, 1)]
        for trace, run in enumerate(runs):
            if run is None:
                status = 1
                continue
            context, result = run
            print(
                f"{name} trace={trace}: correct={result['correct']} "
                f"attempted={result['attempted']} failed={result['failed']} "
                f"fail_frac={context['fail_frac']:.3f} "
                f"host_steal={context['host_steal_pct']}% host_busy={context['host_busy_pct']}%"
            )
            for key, m in result["metrics"].items():
                print(f"  {key:40s} {m['value']:14.6g} {m['unit']}")
        if all(runs) and runs[0][1]["metrics"] and runs[1][1]["metrics"]:
            plain = runs[0][1]["metrics"]["op_s"]["value"]
            traced = runs[1][1]["metrics"]["trace.op_s"]["value"]
            print(f"  {'trace.overhead_frac':40s} {traced / plain - 1.0:14.6g} ratio")
    return status


def main(argv: list[str] | None = None) -> int:
    args = parse_args(sys.argv[1:] if argv is None else argv)
    if not os.path.isfile(os.path.join(ROOT, "melody_join_spark", "__init__.py")):
        print(f"perfbench: no melody_join_spark package under {ROOT}", file=sys.stderr)
        return 2
    if args.workload == "all":
        return run_all(args)
    sys.path.insert(0, ROOT)
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    configure_env(work, bool(args.trace))
    r = Runner(args, work)
    try:
        out = (traced_run if args.trace else timed_run)(r)
    finally:
        r.stop()
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass
    metrics = out.pop("metrics")
    print(json.dumps(out))
    print(
        json.dumps(
            {
                "correct": r.failed == 0 and bool(metrics),
                "attempted": r.attempted,
                "failed": r.failed,
                "metrics": metrics,
            }
        )
    )
    return 0 if metrics else 1


if __name__ == "__main__":
    sys.exit(main())
