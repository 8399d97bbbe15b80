#!/usr/bin/env python
"""Local mirror of the driver's correctness gate: run every queries() entry
at sf0.01 on Spark AND its oracle_sql() on DuckDB; compare row count, column
names, and order-insensitive value multiset.  Exit nonzero on mismatch.

Usage: python scripts/check_correctness.py [SF_DIR] [--only=q1,q2]
    [--json=OUT.json] [--against=EARLIER.json] [--check-rotation]

``--against`` compares each query's Spark ``value_hash`` with the one an
earlier ``--json`` artifact recorded (e.g. at the parent commit), lists
every query whose hash differs or that the artifact lacks, and exits
nonzero on any.  It is the cross-commit check where the oracle cannot be
one: at sf0.1 the EMD family's oracles read sf0.01 fixtures and report
MISMATCH by construction."""

from __future__ import annotations

import math
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

_args = [
    a for a in sys.argv[1:]
    if not a.startswith(("--only=", "--json=", "--against="))
    and a != "--check-rotation"
]
ONLY = None
JSON_OUT = None
AGAINST = None
for _a in sys.argv[1:]:
    if _a.startswith("--only="):  # --only=q1,q2 runs a subset while iterating
        ONLY = set(_a.split("=", 1)[1].split(","))
    elif _a.startswith("--json="):  # driver-format artifact for the round log
        JSON_OUT = _a.split("=", 1)[1]
    elif _a.startswith("--against="):  # earlier --json artifact to diff hashes
        AGAINST = _a.split("=", 1)[1]
SF_DIR = _args[0] if _args else "/root/testdata/sf0.01"
TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def canon(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return f"{v:.9g}"
    return str(v)


def check_rotation() -> list[str]:
    """Round-7 ADVICE guard: the registry rotates which 6 queries sit past
    the driver's 50-entry correctness window.  Assert (a) the live tail
    matches the latest ROTATION_TAILS entry and (b) no query is parked in
    the tail two consecutive rounds — a skipped rotation round would
    silently leave the same queries driver-unverified indefinitely."""
    import __spark_entry__ as em

    errs = []
    names = list(em.queries())
    tail = tuple(names[50:])
    hist = em.ROTATION_TAILS
    latest = max(hist)
    if tail != hist[latest]:
        errs.append(
            f"registry tail {tail} != ROTATION_TAILS[{latest}] "
            f"{hist[latest]} — append the new tail to the history"
        )
    for rnd in sorted(hist):
        if rnd - 1 in hist:
            stuck = set(hist[rnd]) & set(hist[rnd - 1])
            if stuck:
                errs.append(
                    f"queries tailed two consecutive rounds "
                    f"({rnd - 1}->{rnd}): {sorted(stuck)}"
                )
    return errs


def hash_diffs(report: dict, earlier: dict) -> list[str]:
    """Queries of ``report`` whose value_hash differs from ``earlier``'s
    (both in the --json layout), or that ``earlier`` does not have."""
    before = earlier["queries"]
    diffs = []
    for name, rec in sorted(report.items()):
        old = before.get(name, {}).get("value_hash")
        if old is None:
            diffs.append(f"{name}: not in the earlier artifact")
        elif old != rec.get("value_hash"):
            diffs.append(f"{name}: value_hash {old} -> {rec.get('value_hash')}")
    return diffs


def main() -> int:
    rot_errs = check_rotation()
    for e in rot_errs:
        print(f"  ROTATION: {e}")
    if rot_errs:
        return 2
    if "--check-rotation" in sys.argv[1:]:  # standalone guard, no Spark
        print("ROTATION OK")
        return 0

    import duckdb

    from melody_join_spark.session import get_spark

    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")

    spark = get_spark("correctness")
    spark.sparkContext.setLogLevel("ERROR")

    import __spark_entry__ as em

    qs, oracles = em.queries(), em.oracle_sql()
    failures = []
    report = {}
    for name, fn in qs.items():
        if ONLY is not None and name not in ONLY:
            continue
        sdf = fn(spark, SF_DIR)
        srows = sdf.collect()
        scols = sorted(sdf.columns)
        sset = sorted(
            tuple(canon(r[c]) for c in scols) for r in (row.asDict() for row in srows)
        )
        if name not in oracles:
            print(f"  {name}: rows-only check, {len(srows)} rows")
            report[name] = {"rows": len(srows), "check": "rows-only"}
            continue
        ores = con.sql(oracles[name])
        ocols = sorted(ores.columns)
        orows = ores.fetchall()
        names_map = {c: i for i, c in enumerate(ores.columns)}
        oset = sorted(tuple(canon(r[names_map[c]]) for c in ocols) for r in orows)
        ok = scols == ocols and len(srows) == len(orows) and sset == oset
        status = "OK" if ok else "MISMATCH"
        print(f"  {name}: {status} (spark {len(srows)} rows, oracle {len(orows)} rows)")
        import hashlib as _hl

        report[name] = {
            "rows_spark": len(srows),
            "rows_oracle": len(orows),
            "cols_match": scols == ocols,
            "rows_match": len(srows) == len(orows),
            "hash_match": sset == oset,
            "value_hash": _hl.md5(repr(sset).encode()).hexdigest()[:16],
            "status": status,
        }
        if not ok:
            failures.append(name)
            if scols != ocols:
                print(f"    cols: spark={scols} oracle={ocols}")
            for a, b in list(zip(sset, oset))[:2000]:
                if a != b:
                    print(f"    first diff: spark={a} oracle={b}")
                    break
    spark.stop()
    if JSON_OUT:
        import json as _json

        with open(JSON_OUT, "w") as fh:
            _json.dump(
                {"sf_dir": SF_DIR, "n_queries": len(report),
                 "failures": failures, "queries": report},
                fh, indent=1, sort_keys=True,
            )
    status = 0
    if AGAINST:
        import json as _json

        with open(AGAINST) as fh:
            diffs = hash_diffs(report, _json.load(fh))
        for d in diffs:
            print(f"  HASH DIFF {d}")
        print(
            f"value hashes vs {AGAINST}: "
            f"{len(report) - len(diffs)}/{len(report)} equal"
        )
        if diffs:
            status = 3
    if failures:
        print(f"FAILED: {failures}")
        return 1
    if status == 0:
        print("ALL OK")
    return status


if __name__ == "__main__":
    raise SystemExit(main())
