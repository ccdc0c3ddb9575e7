#!/usr/bin/env python3
"""One run of the graft pipeline benchmark.

Usage:
  python3 perfbench/run.py --workload {serve,analytics} \\
      --seed N --seconds S --trace {0,1}
  python3 perfbench/run.py --selftest

Builds the library and the benchmark from source on first use (see
build.py), then runs the workload in one JVM on local[nproc]. The last line
of standard output is the result: {"correct", "attempted", "failed",
"metrics"}, with the end-to-end metrics of BENCHMARK.json when --trace 0 and
its per-layer metrics when --trace 1. A traced run writes its spans to
.bench_build/traces/ and reports its tracing overhead against the untraced
runs recorded in .bench_build/untraced/. Everything is read and written
inside the checkout.
"""
import argparse
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True  # leave no __pycache__ in the checkout
import build  # noqa: E402

DEADLINE_S = 170  # a run's JVM, after the build
WORKLOADS = ["serve", "analytics"]
# Spark on JDK 17 outside spark-submit needs these opened (as in build.sbt).
OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
         "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
         "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def fail(msg):
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(1)


def declared(trace):
    with open(os.path.join(build.ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return [m["name"] for m in spec["per_layer" if trace else "end_to_end"]]


def history(workload):
    """Where this checkout records its untraced runs' latency_ms, the
    baseline a traced run measures its tracing overhead against."""
    return os.path.join(build.OUT, "untraced", workload + ".jsonl")


def baseline(workload):
    try:
        with open(history(workload)) as f:
            return statistics.median(json.loads(l)["latency_ms"] for l in f if l.strip())
    except (OSError, ValueError, statistics.StatisticsError):
        return None


def validate(line, names):
    res = json.loads(line)
    if set(res) != {"correct", "attempted", "failed", "metrics"}:
        fail("result keys %s" % sorted(res))
    if not isinstance(res["attempted"], int) or res["attempted"] < 1:
        fail("attempted must be a whole number >= 1")
    if not isinstance(res["failed"], int):
        fail("failed must be a whole number")
    return res
    if list(res["metrics"]) != names:
        fail("metrics %s differ from BENCHMARK.json %s" % (list(res["metrics"]), names))
    for name, m in res["metrics"].items():
        v = m["value"]
        if isinstance(v, bool) or not isinstance(v, (int, float)) or not math.isfinite(v):
            fail("metric %s is not a finite number: %r" % (name, v))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--selftest", action="store_true")
    args = ap.parse_args()
    if not args.selftest and not args.workload:
        ap.error("--workload is required")
    classes = build.build()
    tag = "selftest" if args.selftest else "%s-%d" % (args.workload, args.seed)
    work = os.path.join(build.OUT, "work", "%s-%d" % (tag, os.getpid()))
    os.makedirs(os.path.join(work, "tmp"))
    cmd = [build.java()] + [a for p in OPENS for a in ("--add-opens", "java.base/%s=ALL-UNNAMED" % p)]
    cmd += ["-Xmx3g", "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
            "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties"),
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", os.pathsep.join([classes] + build.spark_jars()), "graft.perfbench.Main"]
    if args.selftest:
        cmd.append("--selftest")
    else:
        cmd += ["--workload", args.workload, "--seed", str(args.seed),
                "--seconds", str(args.seconds), "--trace", str(args.trace),
                "--work", work, "--bench-dir", HERE,
                "--trace-out", os.path.join(build.OUT, "traces", tag + ".jsonl")]
        base = baseline(args.workload) if args.trace else None
        if base is not None:
            cmd += ["--baseline-latency-ms", repr(base)]

    # a stopped run still stops its JVM and removes its scratch directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True)
    try:
        out, _ = proc.communicate(timeout=DEADLINE_S)
    except subprocess.TimeoutExpired:
        fail("run exceeded %d s" % DEADLINE_S)
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)
    lines = out.splitlines()
    if proc.returncode != 0 or not lines:
        fail("JVM exited with %d" % proc.returncode)
    for line in lines[:-1]:
        print(line)
    if not args.selftest:
        res = validate(lines[-1], declared(args.trace == 1))
        if not args.trace:
            os.makedirs(os.path.dirname(history(args.workload)), exist_ok=True)
            with open(history(args.workload), "a") as f:
                f.write(json.dumps({"seed": args.seed,
                                    "latency_ms": res["metrics"]["latency_ms"]["value"]}) + "\n")
    print(lines[-1])


if __name__ == "__main__":
    main()
