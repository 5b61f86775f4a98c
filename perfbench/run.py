#!/usr/bin/env python3
"""graft's benchmark. From the root of a checkout:

    python3 perfbench/run.py --workload <dashboard|ingest|all>
        --seed <n> --seconds <s> --trace <0|1>

Builds graft and the JVM harness from the checkout's sources (once per
source tree), generates the synthetic lakes (once) and the run's inputs
from the seed, runs the workload in one JVM, checks the results, and
prints one JSON object as its last line: `correct`, `attempted`,
`failed` and `metrics` -- the end-to-end metrics of BENCHMARK.json with
`--trace 0`, its per-layer metrics with `--trace 1`. The lines before
it name the workload's metrics as the benchmark's README describes
them. `--workload all` runs both workloads in turn and ends with
one object per workload. Everything it writes stays under
`.bench_build/` in the checkout.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".bench_build", "perfbench")
sys.path.insert(0, HERE)

import checks  # noqa: E402
import genlake  # noqa: E402
import inputs  # noqa: E402

WORKLOADS = ("dashboard", "ingest")
LAKE_SF = "0.1"
BATCH_SF = "0.01"
HEAP = "4g"
JVM_TIMEOUT_S = 165
BUILD_TIMEOUT_S = 850
JAVA_OPENS = [
    f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
        "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
        "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def tree_hash(paths):
    h = hashlib.sha256()
    for p in paths:
        files = [p] if os.path.isfile(p) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(p) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()[:16]


def call(cmd, cwd, env, log, timeout):
    """Runs `cmd` in its own process group; on timeout kills the group
    and waits for it. Returns (exit code, stdout)."""
    with open(log, "w") as err:
        p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=subprocess.PIPE, stderr=err,
                             text=True, start_new_session=True)
        try:
            out, _ = p.communicate(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            die(f"{cmd[0]} timed out after {timeout}s; log: {log}")
    return p.returncode, out


def build():
    """Classpath of the harness and graft, built by sbt once per source tree."""
    sources = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "src", "main")]
    if not all(os.path.exists(p) for p in sources):
        die("graft's sources (build.sbt, src/main) are not in this checkout")
    key = tree_hash(sources + [os.path.join(ROOT, "project", "build.properties"),
                               os.path.join(HERE, "build.sbt"),
                               os.path.join(HERE, "project", "build.properties"),
                               os.path.join(HERE, "src")])
    cp_file = os.path.join(WORK, f"classpath-{key}.txt")
    if os.path.exists(cp_file):
        with open(cp_file) as f:
            return f.read().strip()
    env = dict(os.environ, COURSIER_MODE="offline")
    env["SBT_OPTS"] = (env.get("SBT_OPTS", "") +
                       " -Dsbt.offline=true -Dsbt.server.autostart=false").strip()
    log = os.path.join(WORK, "build.log")
    code, out = call(["sbt", "-batch", "-Dsbt.log.noformat=true",
                      "export perfbench/Runtime/fullClasspath"],
                     HERE, env, log, BUILD_TIMEOUT_S)
    lines = [l for l in out.splitlines() if l.strip()]
    if code != 0 or not lines or "classes" not in lines[-1]:
        die(f"build failed (exit {code}); log: {log}\n" + "\n".join(lines[-20:]))
    with open(cp_file, "w") as f:
        f.write(lines[-1])
    return lines[-1]


def lake(sf):
    """The synthetic lake at scale `sf`, generated once per generator version."""
    d = os.path.join(WORK, "lake", f"sf{sf}")
    stamp = os.path.join(d, ".generator")
    key = tree_hash([os.path.join(HERE, "genlake.py")])
    if os.path.exists(stamp) and open(stamp).read() == key:
        return d
    shutil.rmtree(d, ignore_errors=True)
    genlake.generate(d, float(sf))
    with open(stamp, "w") as f:
        f.write(key)
    return d


def expected_digests():
    with open(os.path.join(HERE, "headliner_digests.json")) as f:
        return json.load(f)["digests"]


def jvm(cp, workload, seed, seconds, trace, run_dir):
    """Runs the JVM side and returns its report."""
    out = os.path.join(run_dir, "report.json")
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cpus = len(os.sched_getaffinity(0))
    cmd = ["java", f"-Xmx{HEAP}", *JAVA_OPENS, f"-Djava.io.tmpdir={tmp}",
           "-Dspark.ui.enabled=false", "-cp", cp, "perfbench.Main",
           "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
           "--trace", str(trace), "--lake", lake(LAKE_SF), "--batch-lake", lake(BATCH_SF),
           "--inputs", os.path.join(run_dir, "inputs"), "--work", run_dir,
           "--cpus", str(cpus), "--out", out]
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(run_dir, "spark-local"))
    log = os.path.join(run_dir, "jvm.log")
    code, _ = call(cmd, ROOT, env, log, JVM_TIMEOUT_S)
    if code != 0 or not os.path.exists(out):
        die(f"{workload} failed (exit {code}); log: {os.path.join(WORK, workload + '.log')}")
    with open(out) as f:
        return json.load(f)


def run_workload(cp, workload, seed, seconds, trace):
    lake_dir = lake(LAKE_SF)
    run_dir = os.path.join(WORK, "runs", f"{workload}-{seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    in_dir = os.path.join(run_dir, "inputs")
    os.makedirs(in_dir)
    if workload == "dashboard":
        inputs.dashboard(in_dir, seed, lake_dir)
    else:
        inputs.ingest(in_dir, seed, lake_dir)
    if trace and workload == "dashboard":
        inputs.headliners(in_dir, seed, expected_digests())
    if trace and workload == "ingest":
        inputs.kernels(in_dir, seed)
    try:
        rep = jvm(cp, workload, seed, seconds, trace, run_dir)
        tmp = os.path.join(run_dir, "tmp")
        bad = []
        if workload == "dashboard":
            if not rep["info"]["checks"]:
                bad.append("dashboard: no query was sampled for checking")
            bad += checks.dashboard(lake_dir, rep["info"]["checks"], tmp)
        elif workload == "ingest":
            bad += checks.ingest(rep["info"]["lake"], rep["info"]["views"], tmp)
        rep["failed"] += len(bad)
        rep["errors"] += bad
        if trace:
            traces = os.path.join(WORK, "traces")
            os.makedirs(traces, exist_ok=True)
            shutil.copy(os.path.join(run_dir, rep["info"]["trace_file"]), traces)
    finally:
        if os.path.exists(os.path.join(run_dir, "jvm.log")):
            shutil.copy(os.path.join(run_dir, "jvm.log"), os.path.join(WORK, f"{workload}.log"))
        shutil.rmtree(run_dir, ignore_errors=True)
    return rep


def summary(workload, rep):
    """The workload's metrics under the names its README uses."""
    m, i = rep["metrics"], rep["info"]
    rows = [("setup_s", m.get("setup_s"), "s"),
            ("error_ratio", rep["failed"] / max(1, rep["attempted"]), "failed/attempted")]
    if workload == "dashboard":
        rows += [("query_p50_ms", m.get("op_p50_ms"), "ms"), ("query_p95_ms", i.get("op_p95_ms"), "ms"),
                 ("queries_per_s", m.get("ops_per_s"), "1/s"), ("peak_mem_mb", m.get("peak_mem_mb"), "MB")]
    else:
        rows += [("ingest_rows_per_s", i.get("ingest_rows_per_s"), "rows/s"),
                 ("freshness_p50_ms", m.get("op_p50_ms"), "ms"),
                 ("freshness_p95_ms", i.get("op_p95_ms"), "ms"),
                 ("write_bytes_per_row", i.get("write_bytes_per_row"), "B/row")]
    return [f"{workload} {name} = {v} {unit}" for name, v, unit in rows if v is not None]


def result(rep, trace, bench):
    key = "per_layer" if trace else "end_to_end"
    source = rep["layers"] if trace else rep["metrics"]
    metrics = {}
    for m in bench[key]:
        v = source.get(m["name"], 0.0 if trace else None)
        if v is None:
            die(f"metric {m['name']} missing from the report")
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    return {"correct": rep["failed"] == 0 and rep["attempted"] > 0,
            "attempted": rep["attempted"], "failed": rep["failed"], "metrics": metrics}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ("all",))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    os.makedirs(WORK, exist_ok=True)
    cp = build()
    results = {}
    for w in (WORKLOADS if a.workload == "all" else (a.workload,)):
        t0 = time.time()
        rep = run_workload(cp, w, a.seed, a.seconds, a.trace)
        for line in summary(w, rep) + [f"{w} error: {e}" for e in rep["errors"]]:
            print(line)
        print(f"{w} run took {time.time() - t0:.1f} s")
        results[w] = result(rep, a.trace, bench)
    print(json.dumps(results if a.workload == "all" else results[a.workload]))


if __name__ == "__main__":
    main()
