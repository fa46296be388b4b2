#!/usr/bin/env python3
"""Run one benchmark workload and print its result as the last stdout line.

    python3 perfbench/run.py --workload race_live --seed 1 --seconds 15 --trace 0

Run from the repository root. The first run builds the library and the
benchmark program from source with sbt (offline) into perfbench/target and
records the runtime classpath; later runs reuse it until a source changes.
Each run then starts one JVM (Spark in local mode on every core) that warms
the workload up, measures it for --seconds, checks the outputs and prints a
REPORT line (details, host context) and a RESULT line. This script echoes
the report and prints the result last:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end ones; with --trace 1 they are
the per-layer ones, the span file goes to perfbench/.run/traces/, and the
tracing overhead is taken against the median latency of the last ten
untraced runs of the workload in this checkout.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
RUNS = os.path.join(BENCH, ".run")
TARGET = os.path.join(BENCH, "target")
CLASSPATH = os.path.join(TARGET, "runtime-classpath.txt")
STAMP = os.path.join(TARGET, "build-stamp.txt")
WORKLOADS = ("race_live", "curation_live")
# untraced runs kept as the tracing-overhead baseline
BASELINE_RUNS = 10
# a first run builds, then runs: both together stay under 900 s
BUILD_TIMEOUT_S = 700
JVM_TIMEOUT_S = 170

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def run_group(cmd, timeout, **kw):
    """Run cmd in its own process group; on timeout kill the whole group
    (sbt's launcher script starts a JVM child) and wait for it."""
    proc = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, _ = proc.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise SystemExit(f"perfbench: {cmd[0]} exceeded {timeout} s")
    return proc.returncode, out


def build_inputs():
    """Every file the build reads, for the up-to-date check."""
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src", "main")]
    files = [os.path.join(BENCH, "build.sbt"),
             os.path.join(BENCH, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names]
    return sorted(files)


def source_stamp():
    h = hashlib.sha256()
    for f in build_inputs():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compile with sbt unless the recorded classpath is current."""
    stamp = source_stamp()
    if os.path.exists(CLASSPATH) and os.path.exists(STAMP):
        with open(STAMP) as fh:
            if fh.read().strip() == stamp:
                return
    log("building library and benchmark with sbt")
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    repos = os.path.expanduser("~/.sbt/repositories")
    # sbt's own per-user state goes under the build directory too
    opts = ["-Dsbt.offline=true", "-Dsbt.server.forcestart=false", "-Xmx3g",
            f"-Dsbt.global.base={os.path.join(TARGET, 'sbt-global')}"]
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    code, _ = run_group(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "writeClasspath"],
        BUILD_TIMEOUT_S, cwd=BENCH, env=env, stdout=sys.stderr, stderr=sys.stderr)
    if code != 0 or not os.path.exists(CLASSPATH):
        raise SystemExit(f"perfbench: build failed (sbt exit {code})")
    with open(STAMP, "w") as fh:
        fh.write(stamp)


def run_jvm(args, work):
    with open(CLASSPATH) as fh:
        cp = fh.read().strip()
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    cmd = ["java", "-Xmx3g", "-XX:+UseG1GC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += [f"-Djava.io.tmpdir={tmp}",
            f"-Dlog4j2.configurationFile={os.path.join(BENCH, 'log4j2.properties')}",
            "-cp", cp, "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--work-dir", work, "--data-dir", os.path.join(BENCH, "data")]
    code, out = run_group(cmd, JVM_TIMEOUT_S, cwd=ROOT, stdout=subprocess.PIPE,
                          stderr=sys.stderr, text=True)
    report = result = None
    for line in out.splitlines():
        if line.startswith("REPORT "):
            report = json.loads(line[len("REPORT "):])
        elif line.startswith("RESULT "):
            result = json.loads(line[len("RESULT "):])
    if code != 0 or result is None:
        raise SystemExit(f"perfbench: run failed (jvm exit {code})")
    return report, result


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, "src", "main", "scala", "graft", "SparkEntry.scala")):
        raise SystemExit("perfbench: library sources not found; run from a repository checkout")
    build()

    work = os.path.join(RUNS, f"{args.workload}-seed{args.seed}-trace{args.trace}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        report, result = run_jvm(args, work)
        baseline = os.path.join(RUNS, f"untraced-{args.workload}.json")
        history = []
        if os.path.exists(baseline):
            with open(baseline) as fh:
                history = json.load(fh)
        metrics = result["metrics"]
        if args.trace:
            traces = os.path.join(RUNS, "traces")
            os.makedirs(traces, exist_ok=True)
            spans = os.path.join(work, "spans.jsonl")
            if os.path.exists(spans):
                shutil.move(spans, os.path.join(
                    traces, f"{args.workload}-seed{args.seed}.jsonl"))
            # tracing overhead: this run's latency against the median of the
            # recent untraced runs of the workload in this checkout
            ratio = 0.0
            if history:
                base = statistics.median(history)
                ratio = metrics["trace.latency_p50_s"]["value"] / base - 1.0
                report["trace_overhead_base_s"] = base
                report["trace_overhead_base_runs"] = len(history)
            metrics["trace.overhead_ratio"] = {"value": ratio, "unit": "1"}
        else:
            history = (history + [metrics["latency_p50_s"]["value"]])[-BASELINE_RUNS:]
            with open(baseline, "w") as fh:
                json.dump(history, fh)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(report), flush=True)
    print(json.dumps(result), flush=True)


if __name__ == "__main__":
    main()
