#!/usr/bin/env python3
"""Benchmark entry point for the engine in the enclosing checkout.

    python3 perfbench/run.py --workload orders_stream --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --self-check
    python3 perfbench/run.py --record-golden

A run builds the engine and the benchmark package from source once per
checkout (sbt, offline; the runtime classpath is kept in
perfbench/target/classpath.txt), starts one JVM for the workload, and prints
that JVM's JSON result as the last line of stdout. It writes only under the
checkout: build output in target/ directories, run work dirs in perfbench/.work/.
It exits non-zero without a result when the engine sources are missing, the
build fails, or the run fails or overruns.
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

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
TARGET = os.path.join(BENCH, "target")
CLASSPATH = os.path.join(TARGET, "classpath.txt")
# Inputs the benchmark derives from the engine's own output (the synthesized
# order events); valid for one build, so a rebuild clears them.
CACHE = os.path.join(TARGET, "inputs")
STAMP = os.path.join(TARGET, "build.stamp")
GOLDEN = os.path.join(BENCH, "golden.json")
DATA = os.path.join(BENCH, "data")
RUN_LIMIT_S = 170
BUILD_LIMIT_S = 700
HEAP = "3g"
# Spark 4 on JDK 17 outside spark-submit needs the module opens that
# spark-submit would add (the engine's own build.sbt lists the same set).
OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
         "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
         "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def sources():
    """Every file whose change requires a rebuild."""
    out = []
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src")):
        for d, _, fs in os.walk(base):
            out += [os.path.join(d, f) for f in fs]
    out += [os.path.join(ROOT, "build.sbt"), os.path.join(BENCH, "build.sbt"),
            os.path.join(ROOT, "project", "build.properties"),
            os.path.join(BENCH, "project", "build.properties")]
    return sorted(p for p in out if os.path.isfile(p))


def stamp():
    h = hashlib.sha256()
    for p in sources():
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def build():
    """Compile once per checkout; later runs reuse the classpath."""
    if not os.path.isfile(os.path.join(ROOT, "src", "main", "scala", "graft", "SparkEntry.scala")) \
            or not os.path.isfile(os.path.join(ROOT, "build.sbt")):
        log(f"no engine sources under {ROOT}; nothing to benchmark")
        sys.exit(2)
    if shutil.which("sbt") is None or shutil.which("java") is None:
        log("sbt and java are required to build the engine")
        sys.exit(2)
    os.makedirs(TARGET, exist_ok=True)
    with open(os.path.join(TARGET, ".build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        want = stamp()
        if os.path.isfile(CLASSPATH) and os.path.isfile(STAMP) and open(STAMP).read() == want:
            return
        log("building engine and benchmark (sbt, offline)")
        shutil.rmtree(CACHE, ignore_errors=True)
        env = dict(os.environ, COURSIER_MODE="offline")
        env["SBT_OPTS"] = (env.get("SBT_OPTS", "") + " -Dsbt.offline=true").strip()
        t0 = time.time()
        rc = run_bounded(["sbt", "--batch", "-Dsbt.log.noformat=true", "writeClasspath"],
                         BENCH, env, BUILD_LIMIT_S, sys.stderr)
        if rc != 0 or not os.path.isfile(CLASSPATH):
            log(f"build failed (rc={rc})")
            sys.exit(3)
        with open(STAMP, "w") as f:
            f.write(want)
        log(f"built in {time.time() - t0:.0f} s")


def run_bounded(cmd, cwd, env, limit, stdout):
    """Run cmd in its own process group; kill the group past `limit` s."""
    p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=stdout, stderr=sys.stderr,
                         start_new_session=True)
    try:
        return p.wait(timeout=limit)
    except subprocess.TimeoutExpired:
        log(f"{cmd[0]} exceeded {limit} s; stopping it")
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return -9


def jvm(args, limit):
    """Run perfbench.Main with `args`; return its last stdout line, or None
    when it failed."""
    work = os.path.join(BENCH, ".work", f"run-{os.getpid()}-{time.time_ns()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    cmd = ["java"] + [a for p in OPENS for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    cmd += [f"-Xmx{HEAP}", f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            "-cp", open(CLASSPATH).read().strip(), "perfbench.Main",
            "--work", work, "--data", DATA] + args
    out_path = os.path.join(work, "stdout.txt")
    # Spark prefers SPARK_LOCAL_DIRS over spark.local.dir; the run's temporary files
    # must stay in its work dir.
    env = {k: v for k, v in os.environ.items() if k != "SPARK_LOCAL_DIRS"}
    try:
        with open(out_path, "w") as out:
            rc = run_bounded(cmd, ROOT, env, limit, out)
        with open(out_path) as f:
            lines = [l for l in f.read().splitlines() if l.strip()]
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if rc != 0:
        log(f"benchmark JVM failed (rc={rc})")
        return None
    return lines[-1] if lines else ""


def parse_result(line):
    try:
        res = json.loads(line)
    except (TypeError, ValueError):
        return None
    if not isinstance(res, dict) or set(res) != {"correct", "attempted", "failed", "metrics"}:
        return None
    return res


def spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def bench_args(workload, seed, seconds, trace, extra=()):
    return ["--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
            "--trace", str(trace), "--golden", GOLDEN, "--cache", CACHE] + list(extra)


def self_check():
    """Every workload at sf0.001, untraced and traced: each named metric is
    emitted with its declared unit, every check passes, and a result with one
    row dropped counts as a failed operation instead of a fast one."""
    s = spec()
    problems = []
    for w in [x["name"] for x in s["workloads"]]:
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            line = jvm(bench_args(w, 1, 2, trace, ["--sf", "sf0.001"]), RUN_LIMIT_S)
            res = parse_result(line)
            if res is None:
                problems.append(f"{w} trace={trace}: no result")
                continue
            want = {m["name"]: m["unit"] for m in s[key]}
            got = {k: v.get("unit") for k, v in res["metrics"].items()}
            if got != want:
                problems.append(f"{w} trace={trace}: metrics differ: "
                                f"missing {sorted(set(want) - set(got))}, "
                                f"extra {sorted(set(got) - set(want))}, "
                                f"unit {sorted(k for k in want if k in got and got[k] != want[k])}")
            if not res["correct"] or res["failed"] != 0:
                problems.append(f"{w} trace={trace}: checks failed: {line}")
            log(f"self-check {w} trace={trace}: {line}")
    line = jvm(bench_args("catalog_mix", 1, 2, 0, ["--sf", "sf0.001", "--corrupt", "q05_enriched"]),
               RUN_LIMIT_S)
    res = parse_result(line)
    if res is None or res["correct"] or res["failed"] < 1 \
            or not res["metrics"]["ops_ok_ratio"]["value"] < 1:
        problems.append(f"corrupted result was not counted as failed: {line}")
    log(f"self-check corrupted q05_enriched: {line}")
    for p in problems:
        log(f"FAIL {p}")
    print(json.dumps({"self_check": "fail" if problems else "pass", "problems": problems}))
    return 1 if problems else 0


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--trace", type=int, choices=(0, 1))
    ap.add_argument("--self-check", action="store_true")
    ap.add_argument("--record-golden", action="store_true")
    a = ap.parse_args()
    build()
    if a.self_check:
        return self_check()
    if a.record_golden:
        return 0 if jvm(["--record-golden", GOLDEN], 900) is not None else 1
    if a.workload is None or a.seed is None or a.seconds is None or a.trace is None:
        ap.error("--workload, --seed, --seconds and --trace are required")
    res = parse_result(jvm(bench_args(a.workload, a.seed, a.seconds, a.trace), RUN_LIMIT_S))
    if res is None:
        log("no result")
        return 1
    print(json.dumps(res))
    return 0


if __name__ == "__main__":
    sys.exit(main())
