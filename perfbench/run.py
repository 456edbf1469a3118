#!/usr/bin/env python3
"""Run one benchmark workload and print its result record.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the repository and
the benchmark program from source with sbt (perfbench/build.sbt) and writes
the JVM launch line to perfbench/target/launch.txt; later runs start the
JVM directly. Human-readable lines go to stdout first; the last stdout line
is one JSON object {"correct", "attempted", "failed", "metrics"} holding the
end-to-end metrics of BENCHMARK.json (--trace 0) or its per-layer metrics
(--trace 1). Exits non-zero, without that line, if the build or the run
fails; exits non-zero after it if any output check failed.
"""
import argparse
import json
import os
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
LAUNCH = os.path.join(HERE, "target", "launch.txt")
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 170
# A fixed heap and young generation: with G1 sizing them adaptively, some
# runs settled into a state that cost 40-90 % more CPU per pass than others.
HEAP = ["-Xms4g", "-Xmx4g", "-Xmn1g"]
# The root build caps the JIT at C1, whose default code cache is 48 MB.
# Spark's generated classes overflow it, and the sweeper then flushes and
# recompiles in bursts.
CODE_CACHE = "-XX:ReservedCodeCacheSize=256m"
# Per-layer metric prefixes of layers a workload never calls. A traced run
# reports 0 for these when the JVM emits nothing; any other missing metric
# is an error.
OFF_PATH = {
    "recount_many_projects": ("queries.", "streaming."),
    "llm_ops_sf001": ("locate.", "cache.", "loaders.", "transform."),
}


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def newest_source_mtime():
    newest = 0.0
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
                os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")):
        if os.path.isfile(top):
            newest = max(newest, os.path.getmtime(top))
        for dirpath, _, files in os.walk(top):
            for f in files:
                newest = max(newest, os.path.getmtime(os.path.join(dirpath, f)))
    return newest


def build():
    """Compile with sbt unless the launch line is newer than every source."""
    if not os.path.isfile(os.path.join(ROOT, "build.sbt")) or \
            not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        fail(f"no repository sources to build next to {HERE}")
    if os.path.isfile(LAUNCH) and os.path.getmtime(LAUNCH) >= newest_source_mtime():
        return
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    proc = subprocess.run(["sbt", "-batch", "-Dsbt.log.noformat=true", "writeLaunch"],
                          cwd=HERE, env=env, stdout=sys.stderr, stderr=sys.stderr,
                          timeout=BUILD_TIMEOUT_S)
    if proc.returncode != 0 or not os.path.isfile(LAUNCH):
        fail(f"build failed (sbt exit {proc.returncode})")


def declared_metrics(trace):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return [(m["name"], m["unit"]) for m in spec["per_layer" if trace else "end_to_end"]]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    metrics_spec = declared_metrics(args.trace)
    build()
    with open(LAUNCH) as f:
        launch = [l for l in f.read().splitlines() if l]
    work = os.path.join(ROOT, ".bench_work", args.workload)
    tmp = os.path.join(ROOT, ".bench_work", "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java"] + HEAP + [CODE_CACHE, f"-Djava.io.tmpdir={tmp}"] + launch + [
        "perfbench.Main", "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--work", work, "--bench", HERE]
    log_path = os.path.join(ROOT, ".bench_work", f"{args.workload}.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=log,
                                text=True, start_new_session=True)
        try:
            out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            fail(f"run exceeded {RUN_TIMEOUT_S} s; JVM log in {log_path}")

    record = None
    for line in out.splitlines():
        if line.startswith("PERFBENCH "):
            record = json.loads(line[len("PERFBENCH "):])
        else:
            print(line)
    if record is None:
        fail(f"JVM exited {proc.returncode} without a result; log in {log_path}")
    got = record["metrics"]
    off_path = OFF_PATH.get(args.workload, ()) if args.trace else ()
    missing = [n for n, _ in metrics_spec if n not in got]
    unexpected = [n for n in missing if not n.startswith(off_path)]
    if unexpected:
        fail(f"metrics missing from the run: {', '.join(unexpected)}")
    # a layer this workload never calls did no work
    for name in missing:
        got[name] = 0.0
    for name, unit in metrics_spec:
        print(f"{args.workload} {name} = {got[name]!r} {unit}")
    correct = proc.returncode == 0 and record["failed"] == 0
    print(json.dumps({
        "correct": correct,
        "attempted": int(record["attempted"]),
        "failed": int(record["failed"]),
        "metrics": {n: {"value": float(got[n]), "unit": u} for n, u in metrics_spec},
    }))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
