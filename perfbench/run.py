#!/usr/bin/env python3
"""graft benchmark runner.

Run from the root of a checkout:

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

It builds the library and the harness from the checkout's sources (sbt,
offline; rebuilt only when a source changes), then runs the workload in
a fresh child JVM, which writes the seeded inputs and measures. The last line of stdout is one JSON
object: {"correct", "attempted", "failed", "metrics"}, where the
metrics are the end-to-end ones of BENCHMARK.json with --trace 0 and
the per-layer ones with --trace 1. Logs go to .bench_build/logs/.

Workloads: zonal_polygons, job_percentiles, daily_append, query_replay
(see perfbench/NOTES.md).
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".bench_build")
LOGS = os.path.join(OUT, "logs")
WORKLOADS = ("zonal_polygons", "job_percentiles", "daily_append",
             "query_replay")
# heap of the measuring JVM: fixed in size, so runs on any host compare
# and the collector never resizes it while a run measures
HEAP = ["-Xms3g", "-Xmx3g"]
DEADLINE_S = 175.0


def die(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def run(cmd, cwd, log, timeout, env=None):
    """Run `cmd` to completion (its whole process group is killed on
    timeout); output goes to `log`. Returns the exit code."""
    with open(log, "w") as f:
        p = subprocess.Popen(cmd, cwd=cwd, stdout=f, stderr=subprocess.STDOUT,
                             env=env, start_new_session=True)
        try:
            return p.wait(timeout=max(1.0, timeout))
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            return -9


def source_hash():
    h = hashlib.sha256()
    tops = ["build.sbt", "project/build.properties",
            "perfbench/build.sbt", "perfbench/project/build.properties"]
    files = [os.path.join(ROOT, t) for t in tops]
    for d in ("src/main", "perfbench/src"):
        for base, _, names in os.walk(os.path.join(ROOT, d)):
            files += [os.path.join(base, n) for n in names]
    for p in sorted(files):
        if os.path.isfile(p):
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()[:16]


def build(deadline):
    """Compile with sbt unless the current sources were built already;
    returns (classpath, jvm options)."""
    stamp = source_hash()
    launch = os.path.join(OUT, f"launch-{stamp}.txt")
    if not os.path.exists(launch):
        for n in os.listdir(OUT):
            if n.startswith("launch-"):
                os.remove(os.path.join(OUT, n))
        env = dict(os.environ, COURSIER_MODE="offline")
        opts = ["-Dsbt.server.autostart=false", "-Dsbt.supershell=false",
                "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true",
                     f"-Dsbt.repository.config={repos}", "-Dsbt.offline=true"]
        env["SBT_OPTS"] = " ".join(opts)
        code = run(["sbt", "--batch", "-Dsbt.log.noformat=true",
                    "perfbench/benchLaunch"], HERE,
                   os.path.join(LOGS, "build.log"), deadline - time.time(),
                   env)
        made = os.path.join(HERE, "target", "launch.txt")
        if code != 0 or not os.path.exists(made):
            die(f"build failed (exit {code}); see .bench_build/logs/build.log")
        shutil.copy(made, launch)
    with open(launch) as f:
        lines = [l.rstrip("\n") for l in f if l.strip()]
    opts = [o for o in lines[1:] if not o.startswith("-Xmx")]
    return lines[0], opts


def java_cmd(cp, opts, ncpu, args, tiny):
    local = os.path.join(OUT, "tmp")
    os.makedirs(local, exist_ok=True)
    return (["java"] + opts +
            HEAP + [f"-Dspark.master=local[{ncpu}]", f"-Dperfbench.tiny={str(tiny).lower()}",
             f"-Dspark.local.dir={local}", f"-Djava.io.tmpdir={local}",
             f"-Dspark.sql.warehouse.dir={os.path.join(OUT, 'warehouse')}",
             "-cp", cp, "graft.perfbench.Main"] + args)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--inject-wrong", action="store_true",
                    help="perturb every expected output (harness self-test)")
    ap.add_argument("--tiny", action="store_true",
                    help="small inputs and few reps (harness self-test)")
    a = ap.parse_args()

    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt")) and
            os.path.isdir(os.path.join(ROOT, "src", "main")) and
            os.path.isfile(spec_path)):
        die("run from a graft checkout: build.sbt, src/main and "
            "BENCHMARK.json must sit next to perfbench/")
    with open(spec_path) as f:
        spec = json.load(f)
    want = spec["per_layer"] if a.trace else spec["end_to_end"]

    start = time.time()
    os.makedirs(LOGS, exist_ok=True)
    cp, opts = build(start + 850.0)
    # the build may take the long first-run allowance; the run itself
    # gets the normal deadline from here on
    deadline = time.time() + DEADLINE_S - min(5.0, time.time() - start)
    ncpu = len(os.sched_getaffinity(0))
    t_build = time.time()
    run_dir = os.path.join(OUT, "run", a.workload)
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)

    result = os.path.join(run_dir, "result.json")
    args = ["--mode", "measure", "--workload", a.workload,
            "--seed", str(a.seed), "--dir", os.path.join(run_dir, "input"),
            "--scratch", os.path.join(run_dir, "scratch"),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--result", result]
    if a.inject_wrong:
        args += ["--inject-wrong", "1"]
    log = os.path.join(LOGS, f"{a.workload}-trace{a.trace}.log")
    code = run(java_cmd(cp, opts, ncpu, args, a.tiny), run_dir, log,
               deadline - time.time())
    if code != 0 or not os.path.exists(result):
        die(f"measurement failed (exit {code}); see {os.path.relpath(log, ROOT)}",
            1)
    with open(result) as f:
        res = json.load(f)
    print(f"perfbench: build {t_build - start:.1f} s, run "
          f"{time.time() - t_build:.1f} s", file=sys.stderr)
    shutil.copy(result, os.path.join(
        LOGS, f"{a.workload}-seed{a.seed}-trace{a.trace}.json"))
    shutil.rmtree(os.path.join(run_dir, "scratch"), ignore_errors=True)

    got = res["per_layer" if a.trace else "end_to_end"]
    missing = [m["name"] for m in want
               if not isinstance(got.get(m["name"]), (int, float)) or
               not math.isfinite(got[m["name"]])]
    if missing:
        die(f"the harness reported no finite value for {missing}", 1)
    for msg in res["detail"]["failures"][:10]:
        print(f"perfbench: check failed: {msg}", file=sys.stderr)
    print(json.dumps({
        "correct": res["correct"], "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": {m["name"]: {"value": got[m["name"]], "unit": m["unit"]}
                    for m in want}}))


if __name__ == "__main__":
    main()
