#!/usr/bin/env python3
"""Repository benchmark launcher.

Builds the harness (an sbt project in this directory that compiles the
repository's main sources with the files under src/), runs one workload in
a fresh JVM, checks the outputs, and prints the result as the last line of
standard output:

    {"correct": true, "attempted": N, "failed": M, "metrics": {...}}

With --trace 0 the metrics are the end-to-end metrics of BENCHMARK.json,
with --trace 1 its per-layer metrics. A line before it holds the full
report: the run stamp, failures with their messages, output mismatches and
every measured number.

Usage, from the repository root:
    python3 perfbench/run.py --workload battery --seed 1 --seconds 10 --trace 0
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD_DIR = os.path.join(HERE, "target", "launcher")
WORK_DIR = os.path.join(HERE, "work")
HEAP = "2g"
CORES = 4
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840
WORKLOADS = ("battery", "etl_events")
# Spark 4 on JDK 17 outside spark-submit, as in the repository's build.sbt.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_home():
    if os.environ.get("SPARK_HOME"):
        return os.environ["SPARK_HOME"]
    submit = shutil.which("spark-submit")
    if not submit:
        fail("no SPARK_HOME and no spark-submit on PATH")
    return os.path.dirname(os.path.dirname(os.path.realpath(submit)))


def fingerprint():
    h = hashlib.sha256()
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
                 os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")):
        paths = [base] if os.path.isfile(base) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(base) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build(env):
    """Compile once per source state; returns the runtime classpath."""
    cp_file = os.path.join(BUILD_DIR, "classpath.txt")
    fp_file = os.path.join(BUILD_DIR, "fingerprint.txt")
    fp = fingerprint()
    if os.path.exists(cp_file) and os.path.exists(fp_file) and open(fp_file).read() == fp:
        return open(cp_file).read().strip()
    benv = dict(env, COURSIER_MODE="offline",
                SBT_OPTS=(env.get("SBT_OPTS", "") + " -Dsbt.offline=true").strip())
    try:
        p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                            "export Runtime/fullClasspath"], cwd=HERE, env=benv,
                           stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
                           timeout=BUILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        fail("build timed out")
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines or "classes" not in lines[-1]:
        sys.stderr.write(p.stdout[-4000:])
        fail("build failed")
    os.makedirs(BUILD_DIR, exist_ok=True)
    with open(cp_file, "w") as f:
        f.write(lines[-1])
    with open(fp_file, "w") as f:
        f.write(fp)
    return lines[-1]


def java(cp, work, env):
    """The JVM command line up to the main class. The heap has a cap but no
    floor, so resident memory follows the heap the program actually uses."""
    exe = os.path.join(env["JAVA_HOME"], "bin", "java") if env.get("JAVA_HOME") else "java"
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    return [exe, f"-Xmx{HEAP}", f"-Djava.io.tmpdir={work}/tmp", *opens, "-cp", cp]


def cores():
    return str(min(CORES, os.cpu_count() or 1))


def run_jvm(args, cp, work, env):
    cmd = [*java(cp, work, env),
           "perfbench.Main", "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--work", work, "--cores", cores()]
    try:
        p = subprocess.run(cmd, cwd=ROOT, env=env, stdout=subprocess.PIPE,
                           stderr=subprocess.PIPE, text=True, timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        fail(f"workload {args.workload} did not finish within {RUN_TIMEOUT_S} s")
    found = [l for l in p.stdout.splitlines() if l.startswith("PERFBENCH_RESULT ")]
    if p.returncode != 0 or not found:
        sys.stderr.write(p.stderr[-6000:])
        fail(f"workload {args.workload} exited with code {p.returncode}")
    return json.loads(found[-1][len("PERFBENCH_RESULT "):])


def oracle_check(result, work):
    """The battery's results against the DuckDB oracle (tools/check.py)."""
    out = os.path.join(work, "battery_out")
    sf = os.path.join(result["stamp"]["fixtures"], result["detail"]["oracle_scale"])
    p = subprocess.run([sys.executable, os.path.join(ROOT, "tools", "check.py"), out, sf],
                       cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
                       timeout=RUN_TIMEOUT_S)
    fails = [l for l in p.stdout.splitlines() if l.startswith("FAIL")]
    passed = len([l for l in p.stdout.splitlines() if l.startswith("PASS")])
    if p.returncode != 0 and not fails:
        fails = ["oracle check failed: " + p.stdout[-500:]]
    result["detail"]["oracle_pass"] = passed
    return fails


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail(f"no program sources under {ROOT}/src/main/scala/graft")
    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(spec_path):
        fail("no BENCHMARK.json at the repository root")
    with open(spec_path) as f:
        spec = json.load(f)

    env = dict(os.environ, SPARK_HOME=spark_home())
    cp = build(env)
    work = os.path.join(WORK_DIR, args.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    try:
        result = run_jvm(args, cp, work, env)
        if args.workload == "battery":
            result["mismatches"] += oracle_check(result, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        if not os.listdir(WORK_DIR):
            os.rmdir(WORK_DIR)

    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    values = result["layers"] if args.trace else result["e2e"]
    missing = [m["name"] for m in wanted if m["name"] not in values]
    if missing:
        fail(f"workload {args.workload} did not measure {', '.join(missing)}")
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in wanted}
    correct = not result["mismatches"]
    print(json.dumps(result, sort_keys=True))
    print(json.dumps({"correct": correct, "attempted": result["attempted"],
                      "failed": result["failed"], "metrics": metrics}))
    for m in result["mismatches"]:
        print(f"perfbench: mismatch: {m}", file=sys.stderr)
    for f in result["failures"]:
        print(f"perfbench: failed: {f['op']}: {f['error']}", file=sys.stderr)
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
