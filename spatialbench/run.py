"""Spatial-join benchmark entry point.

    python3 spatialbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 spatialbench/run.py --self-test

Run from the checkout root. Builds the library and the benchmark from source
(see build.py), then runs one workload with Spark in local mode.

An untraced run (`--trace 0`) splits `--seconds` over FORKS fresh JVMs, one
after the other, and pools their set-ups and timed queries: one JVM's JIT
and memory layout, or a burst of load from other tenants during it, then
moves only part of the samples behind each median. A traced run is one JVM.
Each JVM prints its lines (prefixed `fork<k>` when pooled); then the pooled
metrics follow, one `metric <name> <value> <unit> n=<samples>` line each,
and as the last line one JSON object: {"correct", "attempted", "failed",
"metrics"}. The exit code is non-zero on a wrong answer, a failed query or a
failed build. Results and spans go to .bench_out/, inputs and Spark scratch
space to .bench_build/ (removed after the run).
"""

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

DEFAULT_SEED = 20261017
WORKLOADS = ["poi_nearest_bcast", "zone_within_bcast", "grid_withindist"]
FORKS = 2
# set-ups per fork; the first in each JVM is cold, so 3 + 2 leaves three warm
# ones of five and the median is a warm set-up
FORK_SETUPS = [3, 2]
DEADLINE_S = 170

procs = []


def run_jvm(classpath, args, run_dir, deadline, prefix=None):
    """Runs one benchmark JVM until it exits or the deadline passes; returns
    its exit code (3 on time-out). With a prefix, its stdout is passed on
    line by line behind that prefix."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (build.jvm_command(classpath, archive=build.ARCHIVE)
           + args + ["--out", os.path.join(build.ROOT, ".bench_out"), "--data", os.path.join(run_dir, "data")])
    cmd.insert(1, f"-Djava.io.tmpdir={tmp}")
    proc = subprocess.Popen(cmd, cwd=build.ROOT, stdout=subprocess.PIPE if prefix else None, text=True)
    procs.append(proc)
    timer = threading.Timer(max(deadline - time.monotonic(), 1), proc.kill)
    timer.start()
    try:
        if prefix:
            for line in proc.stdout:
                print(f"{prefix} {line}", end="", flush=True)
        code = proc.wait()
    finally:
        timer.cancel()
    if code < 0 or time.monotonic() >= deadline:
        print("spatialbench: run timed out", file=sys.stderr)
        code = 3
    shutil.rmtree(os.path.join(run_dir, "data"), ignore_errors=True)
    return code


def median(xs):
    """Median, or None (JSON null) when every query failed."""
    return statistics.median(xs) if xs else None


def pooled(a, classpath, run_dir, deadline):
    """Runs the FORKS JVMs of an untraced run and prints the pooled result."""
    out = os.path.join(build.ROOT, ".bench_out")
    files = [os.path.join(out, f"{a.workload}-seed{a.seed}-trace0-fork{k}.json") for k in range(1, FORKS + 1)]
    for f in files:
        if os.path.exists(f):
            os.remove(f)
    codes = []
    for k in range(1, FORKS + 1):
        args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds / FORKS),
                "--trace", "0", "--setups", str(FORK_SETUPS[k - 1]), "--fork", str(k)]
        code = run_jvm(classpath, args, run_dir, deadline, prefix=f"fork{k}")
        codes.append(code)
        if code not in (0, 1):
            return code
    forks = []
    for f in files:
        with open(f) as fh:
            forks.append(json.load(fh))

    def ok_samples(key):
        return [x for r in forks for x, ok in zip(r[key], r["query_ok"]) if ok]

    probes = forks[0]["environment"]["probe_rows"]
    rows = [probes / w for w in ok_samples("query_wall_s_samples")]
    cpu = ok_samples("query_cpu_s_samples")
    setups = [s for r in forks for s in r["setup_s_samples"]]
    attempted = sum(r["attempted"] for r in forks)
    failed = sum(r["failed"] for r in forks)
    refs = {r["reference_checksum"] for r in forks}
    problems = [p for r in forks for p in r["problems"]]
    if len(refs) != 1:
        problems.append("forks disagree on the reference checksum: " + " ".join(sorted(refs)))
    correct = all(c == 0 for c in codes) and len(refs) == 1 and "" not in refs and failed == 0
    metrics = [("rows_per_s", median(rows), "1/s", len(rows)), ("cpu_s", median(cpu), "s", len(cpu)),
               ("setup_s", median(setups), "s", len(setups))]
    error_rate = failed / max(attempted, 1)
    for name, v, unit, n in metrics:
        print(f"metric {name:<28} {'-' if v is None else f'{v:.6f}':>14} {unit:<6} n={n}")
    print(f"metric {'error_rate':<28} {error_rate:14.6f} ratio  n={attempted}")
    for p in problems[:10]:
        print(f"WRONG {p}")
    with open(os.path.join(out, f"{a.workload}-seed{a.seed}-trace0.json"), "w") as fh:
        json.dump({"workload": a.workload, "seed": a.seed, "seconds": a.seconds, "forks": FORKS,
                   "correct": correct, "error_rate": error_rate, "attempted": attempted, "failed": failed,
                   "problems": problems[:20], "reference_checksum": sorted(refs),
                   "metrics": {n: {"median": v, "unit": u, "n": c} for n, v, u, c in metrics},
                   "fork_files": [os.path.basename(f) for f in files]}, fh)
        fh.write("\n")
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": {n: {"value": v, "unit": u} for n, v, u, _ in metrics}}))
    return 0 if correct else 1


def main():
    p = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    p.add_argument("--workload", choices=WORKLOADS)
    p.add_argument("--seed", type=int, default=DEFAULT_SEED)
    p.add_argument("--seconds", type=float, default=20)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--self-test", action="store_true",
                   help="check that deliberately perturbed results are caught")
    a = p.parse_args()
    if not a.self_test and not a.workload:
        p.error("--workload is required")

    try:
        classpath = build.build()
    except (subprocess.SubprocessError, OSError) as e:
        print(f"spatialbench: build failed: {e}", file=sys.stderr)
        return 2

    run_dir = os.path.join(build.BUILD_DIR, f"run-{os.getpid()}")

    def stop(*_):
        for proc in procs:
            proc.kill()
            proc.wait()
        shutil.rmtree(run_dir, ignore_errors=True)
        sys.exit(3)

    signal.signal(signal.SIGTERM, stop)
    signal.signal(signal.SIGINT, stop)
    try:
        if a.self_test:
            return run_jvm(classpath, ["--self-test"], run_dir, time.monotonic() + 3 * DEADLINE_S)
        if a.trace:
            args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds), "--trace", "1"]
            return run_jvm(classpath, args, run_dir, time.monotonic() + DEADLINE_S)
        return pooled(a, classpath, run_dir, time.monotonic() + DEADLINE_S)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
