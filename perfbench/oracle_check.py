#!/usr/bin/env python3
"""Computes the headliners' result digests on the benchmark's lake and
checks each one against DuckDB running the query's oracle SQL
(`SparkEntry.oracleSql`) over the same parquet files. With `--write`
it stores them in headliner_digests.json, which the `headliners`
workload compares every run against. Run it from the root of a
checkout after changing genlake.py:

    python3 perfbench/oracle_check.py [--write]
"""
import json
import os
import shutil
import sys

import run
import checks


def main():
    cp = run.build()
    sf = run.BATCH_SF
    lake_dir = run.lake(sf)
    run_dir = os.path.join(run.WORK, "runs", "digests")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "inputs"))
    rep = run.jvm(cp, "digests", 0, 0, 0, run_dir)
    digests = rep["info"]["digests"]
    bad = 0
    for name, d in sorted(digests.items()):
        if d["oracle"] is None:
            d["oracle_check"] = "no oracle SQL"
        else:
            want = checks.oracle(lake_dir, d["oracle"], os.path.join(run_dir, "tmp"))
            ok = want == (d["rows"], d["digest"])
            d["oracle_check"] = "match" if ok else f"mismatch: oracle {want[0]} rows {want[1]}"
            bad += not ok
        print(f"{name}: {d['rows']} rows {d['digest']} {d['oracle_check']}")
    shutil.rmtree(run_dir, ignore_errors=True)
    if bad:
        sys.exit(f"{bad} headliners disagree with their oracle")
    if "--write" in sys.argv:
        out = {"lake_sf": sf, "digests": {n: {"rows": d["rows"], "digest": d["digest"],
                                              "oracle_check": d["oracle_check"]}
                                          for n, d in sorted(digests.items())}}
        with open(os.path.join(run.HERE, "headliner_digests.json"), "w") as f:
            json.dump(out, f, indent=1, sort_keys=True)
            f.write("\n")


if __name__ == "__main__":
    main()
