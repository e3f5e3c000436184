#!/usr/bin/env python3
"""Benchmark runner: builds the library and the benchmark from source, runs
one workload in a fresh JVM and prints its result as the last line.

    python3 perfbench/run.py --workload <name|all> --seed <n> --seconds <s> --trace <0|1>

Run it from the root of the repository. `--workload all` runs every
workload in BENCHMARK.json, untraced and then traced, and prints every
metric by name with its unit. See perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys

BUILD_DIR = ".bench_build"
# a run with the default 10 s loop ends well inside 180 s
JVM_TIMEOUT_S = 150
BUILD_TIMEOUT_S = 840
JVM_OPTS = [
    "-Xmx3g",
    "-Dspark.ui.enabled=false",
    "-Dspark.sql.session.timeZone=UTC",
] + [
    a
    for p in (
        "java.base/java.lang", "java.base/java.lang.invoke",
        "java.base/java.lang.reflect", "java.base/java.io",
        "java.base/java.net", "java.base/java.nio",
        "java.base/java.util", "java.base/java.util.concurrent",
        "java.base/java.util.concurrent.atomic",
        "java.base/sun.nio.ch", "java.base/sun.nio.cs",
        "java.base/sun.security.action", "java.base/sun.util.calendar",
    )
    for a in ("--add-opens", p + "=ALL-UNNAMED")
]
# what the build reads: a change to any of these rebuilds
SOURCES = ["build.sbt", "project/build.properties", "src/main",
           "perfbench/build.sbt", "perfbench/project/build.properties", "perfbench/src"]


def fail(msg, code=1):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_digest():
    h = hashlib.sha256()
    for s in SOURCES:
        paths = [s] if os.path.isfile(s) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(s) for f in fs)
        for p in paths:
            h.update(p.encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()[:16]


def sbt_env():
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    return env


def run_bounded(cmd, timeout, **kw):
    """Runs cmd in its own process group; kills the group on timeout and
    always waits for it to end."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, err = p.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.communicate()
        return None, p
    return (out, err), p


def build(digest):
    """Compiles once per source digest; returns the runtime classpath."""
    stamp = os.path.join(BUILD_DIR, "perfbench.stamp")
    cp_file = os.path.join("perfbench", "target", "classpath.txt")
    if os.path.exists(stamp) and os.path.exists(cp_file):
        with open(stamp) as f:
            if f.read().strip() == digest:
                with open(cp_file) as c:
                    return c.read().strip()
    os.makedirs(BUILD_DIR, exist_ok=True)
    log = os.path.join(BUILD_DIR, "build.log")
    with open(log, "w") as lf:
        res, p = run_bounded(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "writeClasspath"],
            BUILD_TIMEOUT_S, cwd="perfbench", env=sbt_env(), stdin=subprocess.DEVNULL,
            stdout=lf, stderr=subprocess.STDOUT)
    if res is None or p.returncode != 0:
        with open(log) as lf:
            sys.stderr.write("".join(lf.readlines()[-40:]))
        fail("build failed")
    with open(stamp, "w") as f:
        f.write(digest)
    with open(cp_file) as c:
        return c.read().strip()


def git_head():
    if not os.path.isdir(".git"):
        return "unknown"
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], capture_output=True,
                              text=True, timeout=10).stdout.strip() or "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def run_workload(cp, bench, workload, seed, seconds, trace, digest):
    """One run in a fresh JVM. Returns (report, result) or exits."""
    work = os.path.abspath(os.path.join(BUILD_DIR, f"work-{workload}-{os.getpid()}"))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    spans = os.path.abspath(os.path.join(BUILD_DIR, f"spans-{workload}-seed{seed}.jsonl"))
    cmd = (["java"] + JVM_OPTS + [f"-Djava.io.tmpdir={work}/tmp", "-cp", cp, "perfbench.Main",
           "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
           "--trace", str(trace), "--work", work, "--spans", spans,
           "--head", f"{git_head()} src:{digest}"])
    try:
        with open(os.path.join(BUILD_DIR, f"jvm-{workload}.log"), "w") as errf:
            res, p = run_bounded(cmd, JVM_TIMEOUT_S + seconds, stdin=subprocess.DEVNULL,
                                 stdout=subprocess.PIPE, stderr=errf, text=True)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if res is None:
        fail(f"{workload}: timed out after {JVM_TIMEOUT_S + seconds} s")
    lines = [l for l in res[0].splitlines() if l.startswith("{")]
    if p.returncode != 0 or len(lines) < 2:
        fail(f"{workload}: exit code {p.returncode}; see {BUILD_DIR}/jvm-{workload}.log")
    report, result = json.loads(lines[-2]), json.loads(lines[-1])
    key = "per_layer" if trace else "end_to_end"
    want = {m["name"]: m["unit"] for m in bench[key]}
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    if got != want:
        fail(f"{workload}: metrics {sorted(got.items())} do not match BENCHMARK.json {key}")
    return report, result


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    if not (os.path.isfile("build.sbt") and os.path.isdir("src/main/scala/graft")):
        fail("run from the repository root: the library sources are missing", 2)
    with open("BENCHMARK.json") as f:
        bench = json.load(f)
    names = [w["name"] for w in bench["workloads"]]
    if a.workload != "all" and a.workload not in names:
        fail(f"unknown workload {a.workload}; expected one of {names} or all", 2)
    if shutil.which("java") is None or shutil.which("sbt") is None:
        fail("java and sbt are required", 2)

    digest = source_digest()
    cp = build(digest)

    if a.workload != "all":
        report, result = run_workload(cp, bench, a.workload, a.seed, a.seconds, a.trace, digest)
        print(json.dumps(report))
        print(json.dumps(result))
        return

    ok = True
    for w in names:
        for trace in (0, 1):
            report, result = run_workload(cp, bench, w, a.seed, a.seconds, trace, digest)
            ok = ok and result["correct"]
            print(f"== {w} (trace {trace}): correct={result['correct']} "
                  f"attempted={result['attempted']} failed={result['failed']}")
            rows = result["metrics"].items() if trace else \
                list(result["metrics"].items()) + list(report["report"].items())
            for name, m in rows:
                print(f"  {name:40s} {m['value']!s:>24} {m['unit']}")
            print(f"  context: {json.dumps(report['context'])}")
    print(json.dumps({"correct": ok}))


if __name__ == "__main__":
    main()
