"""App-flow benchmark entry point.

    python3 perfbench/run.py --workload sync|docs --seed N \
        --seconds S --trace 0|1

Run from the repository root. Builds the engine and the benchmark
(``perfbench/build.py``) when their sources changed, runs one workload
in a fresh run directory under ``.bench_build/runs``, relays the
``metric`` lines and prints the result object as the last line of
standard output. The result's metrics are the ones ``BENCHMARK.json``
lists: ``end_to_end`` for an untraced run, ``per_layer`` for a traced
one. Spark's own log goes to ``.bench_build/logs``. See
``perfbench/README.md`` for the workloads and metrics.
"""
import argparse
import json
import math
import os
import shutil
import subprocess
import sys

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

RUN_TIMEOUT_S = 170
WORKLOADS = ("sync", "docs")
BENCHMARK_JSON = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "BENCHMARK.json")


def contract_metrics(trace):
    """The (name, unit) pairs the result must carry for this run."""
    with open(BENCHMARK_JSON) as f:
        spec = json.load(f)
    return [(m["name"], m["unit"])
            for m in spec["per_layer" if trace == "1" else "end_to_end"]]


def result_line(result, measured, trace):
    """The result object with the contract's metrics added, or None
    (with the reason on standard error) when one is missing."""
    out = json.loads(result)
    out["metrics"] = {}
    for name, unit in contract_metrics(trace):
        got = measured.get(name)
        if got is None or got[1] != unit or not math.isfinite(got[0]):
            print("metric %s: got %r, expected a number in %s"
                  % (name, got, unit), file=sys.stderr)
            return None
        out["metrics"][name] = {"value": got[0], "unit": unit}
    return json.dumps(out)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    a = ap.parse_args()

    try:
        cp = build.build()
    except build.BuildError as e:
        print("build failed: %s" % e, file=sys.stderr)
        return 2

    name = "%s-s%d-t%s" % (a.workload, a.seed, a.trace)
    run_dir = os.path.abspath(os.path.join(build.BUILD_DIR, "runs", name))
    shutil.rmtree(run_dir, ignore_errors=True)
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    logs = os.path.join(build.BUILD_DIR, "logs")
    os.makedirs(logs, exist_ok=True)
    env = dict(os.environ, GRAFT_SCRATCH_DIR=tmp, SPARK_LOCAL_DIRS=tmp,
               SPARK_LOCAL_IP="127.0.0.1")
    cmd = [build.java_bin()] + build.jvm_options() + [
        "-Xmx2g", "-Xss8m", "-Djava.io.tmpdir=" + tmp,
        "-cp", cp, "graft.perfbench.Harness",
        "--workload", a.workload, "--seed", str(a.seed),
        "--seconds", str(a.seconds), "--trace", a.trace, "--dir", run_dir]
    with open(os.path.join(logs, name + ".log"), "w") as log:
        proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=log,
                                env=env, text=True)
        try:
            out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            print("run timed out after %d s" % RUN_TIMEOUT_S, file=sys.stderr)
            return 1
    result = None
    measured = {}
    for line in out.splitlines():
        if line.startswith("RESULT "):
            result = line[len("RESULT "):]
            continue
        print(line)
        f = line.split()
        if len(f) == 5 and f[0] == "metric":
            measured[f[1]] = (float("nan") if f[2] == "null" else float(f[2]),
                              f[3])
    if proc.returncode != 0 or result is None:
        print("run failed (exit %d), see %s" % (proc.returncode, log.name),
              file=sys.stderr)
        return 1
    if a.trace == "1":
        print("trace written to %s" % os.path.join(run_dir, "trace.json"))
    for sub in ("store", "inbox", "tmp", "spark-local", "warehouse"):
        shutil.rmtree(os.path.join(run_dir, sub), ignore_errors=True)
    line = result_line(result, measured, a.trace)
    if line is None:
        return 1
    print(line)
    return 0


if __name__ == "__main__":
    sys.exit(main())
