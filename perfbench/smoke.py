#!/usr/bin/env python3
"""Smoke test of the benchmark itself, on tiny inputs.

    python3 perfbench/smoke.py

Checks, for every workload, that:

- an untraced run emits exactly the end_to_end metrics of BENCHMARK.json,
  each with its unit, and every operation is correct;
- a traced run emits exactly the per_layer metrics, each with its unit;
- a run with a deliberately corrupted reference reports failed operations.

In the traced runs, the figures each workload really produces must be
nonzero, so a broken event-log attribution (say, job groups that no longer
reach the SQL events) cannot pass as a layer that costs nothing.

It also checks the reference the benchmark computes without the program:
the numpy Jaccard reference against the DuckDB twin
``jaccard_pairs_oracle_sql`` (on the full-size document sample).  Last, a
copy holding only
BENCHMARK.json and perfbench/ must exit non-zero without printing a result.
Takes about five minutes on 4 cores.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SEED = 3
# per-layer figures each workload's traced run must produce (not 0)
NONZERO = {
    "melody_d3": (
        "session.start_s", "tpch_bridge.hist_s", "emd_join_nd.candidates",
        "emd_join_nd.jobs", "emd_join_nd.tasks",
        "emd_join_nd.python_exec_s", "kernel.exact_lp_us",
        "kernel.cascade_us_per_candidate", "kernel.bounds_us_per_pair",
        "emd_index.files_written", "emd_index.files_read_per_search",
        "emd_index.tasks_per_search", "emd_index.jobs_per_search",
        "emd_index.python_exec_s", "trace.op_s",
    ),
    "dedup_jaccard": (
        "session.start_s", "dedup.jobs", "dedup.stages", "dedup.tasks",
        "dedup.shuffle_write_mb", "dedup.executor_cpu_s", "cache.storage_mb_peak",
        "trace.op_s",
    ),
}


def run(args: list[str], cwd: str = ROOT) -> tuple[int, list[str]]:
    proc = subprocess.run(
        [sys.executable, os.path.join(cwd, "perfbench", "run.py")] + args,
        capture_output=True, text=True, cwd=cwd, timeout=600,
    )
    if proc.returncode:
        print(proc.stderr[-3000:], file=sys.stderr)
    return proc.returncode, proc.stdout.strip().splitlines()


def check_metrics(result: dict, declared: list[dict], what: str) -> None:
    want = {m["name"]: m["unit"] for m in declared}
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    assert got == want, f"{what}: metrics {sorted(got)} != declared {sorted(want)}"
    for k, v in result["metrics"].items():
        assert isinstance(v["value"], (int, float)), f"{what}: {k} is not a number"


def check_duckdb_twin() -> None:
    import duckdb
    import pandas as pd

    sys.path[:0] = [ROOT, HERE]
    from melody_join_spark.operators.dedup import jaccard_pairs_oracle_sql
    from workloads import DEDUP_NGRAM, DEDUP_THRESHOLD, DedupJaccard, jaccard_reference, same_pairs

    ids, texts = DedupJaccard(SEED, smoke=False).documents()
    ours = jaccard_reference(ids, texts)
    con = duckdb.connect()
    con.register("documents_df", pd.DataFrame({"doc_id": ids, "text": texts}))
    con.execute("CREATE TABLE documents AS SELECT * FROM documents_df")
    twin = con.sql(jaccard_pairs_oracle_sql(DEDUP_THRESHOLD, ngram=DEDUP_NGRAM)).df()
    assert len(ours) > 0, "the document sample has no near-duplicate pairs"
    assert same_pairs(ours, twin, ["rid", "sid"], "jaccard"), "numpy Jaccard != DuckDB twin"
    print(f"ok   numpy Jaccard reference == DuckDB twin ({len(ours)} pairs)")


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    base = ["--seed", str(SEED), "--seconds", "2", "--smoke"]
    for w in (x["name"] for x in bench["workloads"]):
        for trace, declared in ((0, bench["end_to_end"]), (1, bench["per_layer"])):
            code, lines = run(["--workload", w, "--trace", str(trace)] + base)
            assert code == 0 and lines, f"{w} trace={trace}: exit {code}"
            result = json.loads(lines[-1])
            assert set(result) == {"correct", "attempted", "failed", "metrics"}
            assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1, result
            check_metrics(result, declared, f"{w} trace={trace}")
            if trace:
                zero = [k for k in NONZERO[w] if not result["metrics"][k]["value"] > 0]
                assert not zero, f"{w} trace=1: {zero} read 0"
            print(f"ok   {w} trace={trace}: {len(result['metrics'])} metrics, {result['attempted']} ops")
        _code, lines = run(["--workload", w, "--trace", "0", "--corrupt-reference"] + base)
        result = json.loads(lines[-1])
        assert not result["correct"] and result["failed"] >= 1, result
        print(f"ok   {w} corrupted reference: {result['failed']}/{result['attempted']} failed")
    check_duckdb_twin()

    bare = os.path.join(ROOT, ".perfbench_work", "bare")
    shutil.rmtree(bare, ignore_errors=True)
    shutil.copytree(HERE, os.path.join(bare, "perfbench"), ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    code, lines = run(["--workload", "melody_d3", "--seed", "1", "--seconds", "1", "--trace", "0"], cwd=bare)
    shutil.rmtree(bare)
    try:
        os.rmdir(os.path.dirname(bare))
    except OSError:
        pass
    assert code != 0 and not lines, (code, lines)
    print(f"ok   benchmark alone exits {code} without a result")
    return 0


if __name__ == "__main__":
    sys.exit(main())
