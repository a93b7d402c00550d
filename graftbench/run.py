#!/usr/bin/env python3
"""graft benchmark launcher.

    python3 graftbench/run.py --workload scan --seed 1 --seconds 20 --trace 0
    python3 graftbench/run.py --self-test

Run from the root of a checkout. Builds graft from the checkout's sources
together with the benchmark code (graftbench/build.sbt, output under
.bench_build/), then runs one workload in a fresh JVM with Spark in
local[min(4, nproc)]. The JVM's report line is passed through and the
result JSON is printed as the last line. Exits non-zero, without a result,
when the sources or the toolchain are missing or the build fails; exits 1
after the result when any answer was wrong.
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
BUILD = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(BUILD, "sbt", "scala-2.13", "classes")
SPARK_JARS = "/opt/spark/jars"
WORKLOADS = ["scan", "lookup"]
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"graftbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_files():
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    return sorted(files)


def source_hash():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile when the sources differ from the last build's."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        fail("no src/main/scala next to graftbench/: run from a full checkout of graft")
    if not os.path.isdir(SPARK_JARS) or shutil.which("sbt") is None or shutil.which("java") is None:
        fail("needs sbt, java and the Spark jars under " + SPARK_JARS)
    digest = source_hash()
    stamp = os.path.join(BUILD, "stamp")
    if os.path.isdir(CLASSES) and os.path.exists(stamp) and open(stamp).read() == digest:
        return digest
    os.makedirs(BUILD, exist_ok=True)
    with open(os.path.join(BUILD, "build.log"), "w") as log:
        try:
            r = subprocess.run(["sbt", "-batch", "compile"], cwd=HERE, stdout=log,
                               stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL,
                               timeout=BUILD_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            fail("build timed out", 3)
    if r.returncode != 0 or not os.path.isdir(CLASSES):
        fail("build failed, see .bench_build/build.log", 3)
    with open(stamp, "w") as fh:
        fh.write(digest)
    return digest


def git_sha(digest):
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                           text=True, timeout=10)
        if r.returncode == 0:
            return r.stdout.strip()
    except (OSError, subprocess.TimeoutExpired):
        pass
    return "none; sources sha256 " + digest[:16]


def jvm(args, timeout):
    """Run the benchmark JVM; returns its stdout lines. Kills it on timeout."""
    cp = os.pathsep.join([CLASSES, os.path.join(ROOT, "src", "main", "resources"),
                          os.path.join(SPARK_JARS, "*")])
    cmd = ["java"] + [x for p in ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")] + [
        "-Xmx3g", "-XX:+UseG1GC", "-XX:-UseDynamicNumberOfCompilerThreads", "-cp", cp, "graftbench.Main"] + args
    p = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                         text=True, start_new_session=True)
    try:
        out, err = p.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        fail(f"run exceeded {timeout}s", 4)
    if p.returncode != 0:
        sys.stderr.write(err[-4000:])
        fail(f"benchmark JVM exited with {p.returncode}", 5)
    return out.splitlines()


def self_test():
    build()
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    work = os.path.join(BUILD, "work", f"self-test-{os.getpid()}")
    try:
        lines = jvm(["--self-test", work], 600)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    problems = []
    seen = set()
    for line in lines:
        if not line.startswith("SELFTEST "):
            continue
        r = json.loads(line[len("SELFTEST "):])
        w = r["workload"]
        if r["check"] == "digest":
            seen.add((w, "digest"))
            if not (r["same_seed_same_digest"] and r["other_seed_other_digest"]):
                problems.append(f"{w}: input digest is not a function of the seed")
            continue
        kind = "per_layer" if r["trace"] else "end_to_end"
        seen.add((w, kind))
        res = r["result"]
        if not res["correct"] or res["failed"]:
            problems.append(f"{w}/{kind}: {res['failed']} of {res['attempted']} ops wrong")
        want = {m["name"]: m["unit"] for m in spec[kind]}
        got = {k: v["unit"] for k, v in res["metrics"].items()}
        if got != want:
            problems.append(f"{w}/{kind}: metrics {sorted(set(got.items()) ^ set(want.items()))}")
        for k in want:
            if not isinstance(res["metrics"].get(k, {}).get("value"), (int, float)):
                problems.append(f"{w}/{kind}: {k} is not a number")
        print(f"self-test {w} {kind}: correct={res['correct']} attempted={res['attempted']}")
    for w in WORKLOADS:
        for kind in ("digest", "end_to_end", "per_layer"):
            if (w, kind) not in seen:
                problems.append(f"{w}/{kind}: no self-test result")
    for p in problems:
        print("self-test FAILED: " + p)
    print("self-test " + ("passed" if not problems else "failed"))
    sys.exit(1 if problems else 0)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--self-test", action="store_true")
    a = ap.parse_args()
    if a.self_test:
        self_test()
    if a.workload is None or a.seed is None or a.seconds is None:
        ap.error("--workload, --seed and --seconds are required")
    digest = build()
    work = os.path.join(BUILD, "work", f"{a.workload}-{os.getpid()}")
    try:
        lines = jvm(["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                     "--trace", str(a.trace), "--work", work,
                     "--trace-dir", os.path.join(BUILD, "trace"), "--git-sha", git_sha(digest)],
                    RUN_TIMEOUT_S)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    results = [l[len("RESULT "):] for l in lines if l.startswith("RESULT ")]
    if len(results) != 1:
        fail("benchmark JVM printed no result", 6)
    for l in lines:
        if not l.startswith("RESULT "):
            print(l)
    print(results[0])
    sys.exit(0 if json.loads(results[0])["correct"] else 1)


if __name__ == "__main__":
    main()
