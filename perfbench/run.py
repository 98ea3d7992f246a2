#!/usr/bin/env python3
"""Engine benchmark: builds the engine and the benchmark driver from the
checkout it sits in, runs one seeded workload, checks its outputs and prints
one JSON result as the last line of standard output.

    python3 perfbench/run.py --workload planet-serve --seed 1 --seconds 15 --trace 0
    python3 perfbench/run.py --self-check

Run it from the root of a checkout. `--trace 0` reports the end-to-end
metrics of BENCHMARK.json, `--trace 1` the per-layer ones. `--self-check`
runs every workload at toy size in both modes and validates each result
against BENCHMARK.json. Workloads and metrics are described in
perfbench/WORKLOADS.md.
"""
import argparse
import fcntl
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
BUILD_DIR = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(BUILD_DIR, "target", "scala-2.13", "classes")
STAMP = os.path.join(BUILD_DIR, "sources.sha256")
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840

# The default tiered JIT (C1 then C2), with one C2 compiler thread: in a
# fresh JVM the default two C2 threads of a 4-CPU host compile for most of a
# one-minute run and compete with the task slots.
JIT = ["-XX:CICompilerCount=2"]

# Spark on JDK 17 outside spark-submit needs these (the engine's build.sbt
# passes the same list to its forked runs).
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
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(msg)
    sys.exit(code)


def load_spec():
    path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isfile(path):
        fail(f"no BENCHMARK.json at {ROOT}")
    with open(path) as f:
        return json.load(f)


def source_files():
    roots = [ENGINE_SRC, os.path.join(BENCH_DIR, "src")]
    files = [os.path.join(BENCH_DIR, "build.sbt"),
             os.path.join(BENCH_DIR, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names if n.endswith((".scala", ".java"))]
    return sorted(files)


def sources_digest():
    h = hashlib.sha256()
    for p in source_files():
        h.update(os.path.relpath(p, ROOT).encode() + b"\0")
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def spark_home():
    """The Spark installation the engine builds and runs on: $SPARK_HOME, or
    the first PATH entry holding a spark-submit with a jars/ directory
    beside it."""
    homes = [os.environ.get("SPARK_HOME")] + [
        os.path.dirname(os.path.abspath(d)) for d in os.environ.get("PATH", "").split(os.pathsep)
        if os.path.isfile(os.path.join(d, "spark-submit"))]
    for home in homes:
        if home and os.path.isdir(os.path.join(home, "jars")):
            return home
    fail("Spark not found: set SPARK_HOME")


def build():
    """Compile the engine and the driver with sbt unless the compiled classes
    already match the sources."""
    if not os.path.isdir(os.path.join(ENGINE_SRC, "graft")):
        fail(f"engine sources not found under {ENGINE_SRC}: run from a full checkout")
    os.makedirs(BUILD_DIR, exist_ok=True)
    digest = sources_digest()
    with open(os.path.join(BUILD_DIR, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if os.path.isfile(STAMP) and open(STAMP).read() == digest and os.path.isdir(CLASSES):
            return
        log("building engine + benchmark driver (sbt compile)")
        env = dict(os.environ)
        env["COURSIER_MODE"] = "offline"
        env["SPARK_HOME"] = spark_home()
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true "
                           "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories") +
                           " -Dsbt.offline=true -Xmx2g")
        t0 = time.time()
        rc = run_child(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"],
                       cwd=BENCH_DIR, env=env, timeout=BUILD_TIMEOUT_S,
                       stdout=sys.stderr)[0]
        if rc != 0:
            fail(f"build failed (exit {rc})", 1)
        with open(STAMP, "w") as f:
            f.write(digest)
        log(f"build done in {time.time() - t0:.0f} s")


def run_child(cmd, cwd, env, timeout, stdout):
    """Run `cmd` in its own process group; on timeout kill the whole group.
    Always waits for the child to end."""
    p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=stdout,
                         start_new_session=True)
    try:
        out, _ = p.communicate(timeout=timeout)
        return p.returncode, out
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise


def run_workload(workload, seed, seconds, trace, toy=False):
    """Run one workload in a fresh JVM; returns its raw result object."""
    work = os.path.join(BUILD_DIR, "work", f"run-{os.getpid()}-{time.time_ns()}")
    os.makedirs(os.path.join(work, "tmp"))
    try:
        cmd = (["java", "-Xms2g", "-Xmx2g", "-XX:+UseG1GC"] + JIT
               + [f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}", "-Dspark.ui.enabled=false"]
               + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
               + ["-cp", CLASSES + os.pathsep + os.path.join(spark_home(), "jars", "*"),
                  "perfbench.Main", "--workload", workload, "--seed", str(seed),
                  "--seconds", str(seconds), "--trace", "1" if trace else "0",
                  "--work-dir", work] + (["--toy"] if toy else []))
        try:
            rc, out = run_child(cmd, cwd=ROOT, env=dict(os.environ),
                                timeout=RUN_TIMEOUT_S, stdout=subprocess.PIPE)
        except subprocess.TimeoutExpired:
            fail(f"{workload} did not finish within {RUN_TIMEOUT_S} s", 1)
        lines = [l for l in out.decode().splitlines() if l.strip()]
        if rc != 0 or not lines:
            fail(f"{workload} failed (exit {rc})", 1)
        return json.loads(lines[-1])
    finally:
        shutil.rmtree(work, ignore_errors=True)


def select_metrics(spec, raw, trace):
    """Keep exactly the metrics BENCHMARK.json declares for this mode. A
    per-layer metric of a layer the workload does not exercise did no work
    and reads 0. Returns (result, names filled with 0)."""
    declared = spec["per_layer"] if trace else spec["end_to_end"]
    metrics, filled = {}, []
    for m in declared:
        got = raw["metrics"].get(m["name"])
        if got is None:
            if not trace:
                fail(f"end-to-end metric {m['name']} missing from the result", 1)
            got = {"value": 0.0, "unit": m["unit"]}
            filled.append(m["name"])
        if got["unit"] != m["unit"]:
            fail(f"metric {m['name']} has unit {got['unit']}, declared {m['unit']}", 1)
        if not isinstance(got["value"], (int, float)):
            fail(f"metric {m['name']} has no numeric value: {got['value']!r}", 1)
        metrics[m["name"]] = {"value": got["value"], "unit": m["unit"]}
    result = {"correct": bool(raw["correct"]), "attempted": int(raw["attempted"]),
              "failed": int(raw["failed"]), "metrics": metrics}
    return result, filled


def self_check(spec):
    """Every workload at toy size, untraced and traced: each result must be
    correct and carry every declared metric with its unit, and every declared
    per-layer metric must be measured by at least one workload."""
    measured, ok = set(), True
    for w in spec["workloads"]:
        for trace in (False, True):
            t0 = time.time()
            raw = run_workload(w["name"], 1, 2, trace, toy=True)
            res, filled = select_metrics(spec, raw, trace)
            if trace:
                measured |= set(res["metrics"]) - set(filled)
            good = res["correct"] and res["failed"] == 0 and res["attempted"] >= 1
            ok &= good
            log(f"self-check {w['name']} trace={int(trace)}: "
                f"{'ok' if good else 'FAILED'} in {time.time() - t0:.0f} s, "
                f"{len(res['metrics'])} metrics"
                + (f", not exercised: {', '.join(filled)}" if filled else ""))
    never = [m["name"] for m in spec["per_layer"] if m["name"] not in measured]
    if never:
        ok = False
        log("per-layer metrics no workload measures: " + ", ".join(never))
    log("self-check " + ("passed" if ok else "FAILED"))
    return 0 if ok else 1


def main():
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=int)
    ap.add_argument("--trace", type=int, choices=(0, 1))
    ap.add_argument("--self-check", action="store_true")
    a = ap.parse_args()
    spec = load_spec()
    names = [w["name"] for w in spec["workloads"]]
    if not a.self_check:
        if a.workload not in names or a.seed is None or a.seconds is None or a.trace is None:
            fail(f"need --workload ({'|'.join(names)}), --seed, --seconds and --trace")
        if a.seconds < 1:
            fail("--seconds must be at least 1")
    build()
    if a.self_check:
        sys.exit(self_check(spec))
    raw = run_workload(a.workload, a.seed, a.seconds, a.trace == 1)
    result, filled = select_metrics(spec, raw, a.trace == 1)
    if filled:
        log(f"layers not exercised by {a.workload} (reported as 0): {', '.join(filled)}")
    print(json.dumps(result), flush=True)


if __name__ == "__main__":
    main()
