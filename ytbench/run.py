#!/usr/bin/env python3
"""Run one workload of the graft YouTube benchmark.

    python3 ytbench/run.py --workload nightly --seed 1 --seconds 20 --trace 0

Run from the repository root. The first run builds the library (through the
root build) and the benchmark with sbt, in about a minute; later runs reuse
the build until a source or build file changes. The last line of standard
output is the result:

    {"correct": true, "attempted": N, "failed": 0, "metrics": {...}}

with the end-to-end metrics for --trace 0 and the per-layer metrics for
--trace 1. Every file the run writes (build stamp, inputs, state, artifacts)
goes under .bench_build/ytbench/ in the repository root; sbt's own output goes
to the target/ directories.
"""

import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".bench_build", "ytbench")
LIB_SRC = os.path.join(ROOT, "src", "main", "scala")
BENCH_SRC = os.path.join(HERE, "src", "main")
WORKLOADS = ("nightly", "serve", "maintain")
BUILD_TIMEOUT_S = 840


def run_timeout_s(seconds):
    """Wall allowed for one run: set-up, three nightly passes or a serve
    warm-up, the traced coverage sweeps and teardown take about 130 s on
    4 cores; the timed region adds its own length."""
    return 130 + 4 * seconds


def fail(msg):
    print(f"[ytbench] {msg}", file=sys.stderr)
    sys.exit(2)


def source_files():
    files = []
    for top in (LIB_SRC, BENCH_SRC):
        for d, _, names in os.walk(top):
            files += [os.path.join(d, n) for n in names if n.endswith(".scala")]
    for base in (ROOT, HERE):
        files += [os.path.join(base, "build.sbt"), os.path.join(base, "project", "build.properties")]
    return sorted(files)


def source_sha():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build(sha):
    """Compile with sbt when the sources changed; returns the runtime
    classpath and the JVM flags of the root build."""
    stamp = os.path.join(OUT, "build.json")
    if os.path.isfile(stamp):
        with open(stamp) as fh:
            got = json.load(fh)
        if got.get("source_sha") == sha:
            return got["classpath"], got["jvm_flags"]
    print("[ytbench] building with sbt", file=sys.stderr)
    # every dependency is local (Spark's jars, the test libraries' cache)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    info = os.path.join(HERE, "target", "run-info.txt")
    if os.path.exists(info):
        os.remove(info)
    proc = subprocess.run(
        ["sbt", "-batch", "-Dsbt.log.noformat=true", "runInfo"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
        timeout=BUILD_TIMEOUT_S, stdin=subprocess.DEVNULL)
    if proc.returncode != 0 or not os.path.isfile(info):
        sys.stderr.write(proc.stdout)
        fail(f"sbt build failed (exit {proc.returncode})")
    with open(info) as fh:
        lines = fh.read().splitlines()
    classpath, jvm_flags = lines[0], lines[1:]
    os.makedirs(OUT, exist_ok=True)
    with open(stamp, "w") as fh:
        json.dump({"source_sha": sha, "classpath": classpath, "jvm_flags": jvm_flags}, fh)
    return classpath, jvm_flags


def commit():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                              text=True, timeout=10).stdout.strip() or "unavailable"
    except (OSError, subprocess.SubprocessError):
        return "unavailable"


def expected_metrics(trace):
    path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isfile(path):
        return None
    with open(path) as fh:
        spec = json.load(fh)
    return {m["name"] for m in spec["per_layer" if trace else "end_to_end"]}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    args = ap.parse_args()

    graft_vars = sorted(k for k in os.environ if k.startswith("SPARK_GRAFT_"))
    if graft_vars:
        fail(f"refusing to run with {', '.join(graft_vars)} set: they change what the library does")
    if not os.path.isdir(os.path.join(LIB_SRC, "graft")):
        fail(f"library sources not found under {os.path.relpath(LIB_SRC, ROOT)}; "
             "run from a checkout of the repository")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        fail("sbt and java must be on PATH")

    sha = source_sha()
    classpath, jvm_flags = build(sha)
    tag = f"{args.workload}-{args.seed}-{args.trace}"
    work = os.path.join(OUT, "work", tag)
    local = os.path.join(work, "spark-local")
    os.makedirs(local, exist_ok=True)
    env = dict(os.environ, SPARK_LOCAL_DIRS=local)
    cmd = ["java"] + jvm_flags + [
        f"-Djava.io.tmpdir={local}",
        "-Dspark.sql.catalogImplementation=in-memory",
        f"-Dspark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
        f"-Dspark.local.dir={local}",
        "-cp", classpath, "ytbench.Main",
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--work", os.path.join(work, "run"), "--artifacts", os.path.join(OUT, "artifacts"),
        "--commit", commit(), "--source-sha", sha]
    proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=subprocess.PIPE, stderr=sys.stderr,
                            text=True, start_new_session=True)

    def stop(*_):
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        fail("interrupted")

    signal.signal(signal.SIGTERM, stop)
    try:
        out, _ = proc.communicate(timeout=run_timeout_s(args.seconds))
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        fail(f"run exceeded {run_timeout_s(args.seconds)} s")
    shutil.rmtree(work, ignore_errors=True)
    lines = [l for l in out.splitlines() if l.strip()]
    if not lines or not lines[-1].startswith("{"):
        fail(f"benchmark exited {proc.returncode} without a result")
    result = json.loads(lines[-1])
    if proc.returncode != 0:
        print(json.dumps(result))
        fail(f"benchmark exited {proc.returncode}")
    want = expected_metrics(args.trace)
    if want is not None and set(result["metrics"]) != want:
        fail("metrics differ from BENCHMARK.json: "
             f"missing {sorted(want - set(result['metrics']))}, "
             f"extra {sorted(set(result['metrics']) - want)}")
    print(json.dumps(result))


if __name__ == "__main__":
    main()
