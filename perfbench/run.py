#!/usr/bin/env python3
"""Benchmark entry point: builds the engine and the harness from source,
runs one workload in a fresh JVM, and prints the result.

    python3 perfbench/run.py --workload graph --seed 1 --seconds 8 --trace 0
    python3 perfbench/run.py --workload queries --steady 10 --seconds 8

Each run is one client driving a closed loop against Spark local[k], k = the
machine's processor count, with spark.sql.shuffle.partitions = k.

Run from the repository root. The last line of standard output is one JSON
object with the keys correct, attempted, failed and metrics: with --trace 0
every end_to_end metric of BENCHMARK.json, with --trace 1 every per_layer
metric (0 where the workload does not exercise that layer). Lines before it
give the sample count, failed_frac, the p90 (or why it is refused) and per-op
medians. The exit code is 0 only when every output check passed.

--steady N runs the workload N times with seeds 1..N (or --seed, --seed+1,
...) and prints each metric's median, quartiles and quartile spread as a
share of the median (statistics.quantiles(n=4)).

Workload composition and input sizes are in perfbench/workloads.json; the
expected query digests in perfbench/expected.json (see expected.py).
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
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
JVM_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 850
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_files():
    """Every file the build reads, relative to ROOT."""
    roots = ["src/main", "perfbench/src/main"]
    files = ["build.sbt", "project/build.properties", "perfbench/build.sbt",
             "perfbench/project/build.properties"]
    for r in roots:
        for d, _, fs in os.walk(os.path.join(ROOT, r)):
            files += [os.path.relpath(os.path.join(d, f), ROOT) for f in fs]
    return sorted(files)


def wait_or_kill(proc, timeout):
    """Waits for a child started in its own session; on timeout kills its
    whole process group (the sbt script forks a JVM) and reaps it."""
    try:
        return proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        return None
    except BaseException:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise


def sbt_env():
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.isfile(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    return env


def build():
    """Compiles engine + harness once per source fingerprint; returns the
    runtime classpath."""
    for need in ["build.sbt", "src/main/scala", "perfbench/build.sbt", "perfbench/src/main/scala",
                 "perfbench/workloads.json", "BENCHMARK.json"]:
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"missing {need}: run from a full checkout of the repository")
    h = hashlib.sha256()
    for f in source_files():
        h.update(f.encode())
        with open(os.path.join(ROOT, f), "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    stamp = os.path.join(BENCH, "target", f"classpath-{h.hexdigest()[:16]}.txt")
    if os.path.isfile(stamp):
        with open(stamp) as fh:
            return fh.read().strip()
    t0 = time.time()
    log = os.path.join(BENCH, "target", "build.log")
    os.makedirs(os.path.dirname(log), exist_ok=True)
    try:
        with open(log, "w") as out:
            proc = subprocess.Popen(["sbt", "-batch", "-Dsbt.log.noformat=true",
                                     "export perfbench/Runtime/fullClasspath"],
                                    cwd=BENCH, env=sbt_env(), stdout=out, stderr=subprocess.STDOUT,
                                    stdin=subprocess.DEVNULL, start_new_session=True)
            code = wait_or_kill(proc, BUILD_TIMEOUT_S)
    except OSError as e:
        fail(f"build failed: {e}")
    with open(log) as fh:
        lines = [l for l in fh.read().splitlines() if l.strip()]
    if code != 0 or not lines or "perfbench" not in lines[-1]:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        fail(f"build failed (sbt exit {code}); see {log}")
    cp = lines[-1].strip()
    os.makedirs(os.path.dirname(stamp), exist_ok=True)
    with open(stamp, "w") as fh:
        fh.write(cp)
    print(f"perfbench: built in {time.time() - t0:.1f} s", file=sys.stderr)
    return cp


def java_bin():
    home = os.environ.get("JAVA_HOME")
    return os.path.join(home, "bin", "java") if home else "java"


def run_once(cp, workload, seed, seconds, trace):
    """One JVM run; returns (exit code, result dict or None)."""
    tag = f"{workload}-{seed}-{trace}-{os.getpid()}"
    work = os.path.join(BENCH, ".work", tag)
    out_dir = os.path.join(BENCH, ".out")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.makedirs(out_dir, exist_ok=True)
    out = os.path.join(out_dir, f"result-{tag}.json")
    cmd = [java_bin()]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    # A fixed-size heap under the parallel collector: no heap resizing and no
    # concurrent GC threads competing with the driver between requests.
    cmd += ["-Xms2g", "-Xmx2g", "-XX:+UseParallelGC", "-XX:ReservedCodeCacheSize=512m",
            f"-Djava.io.tmpdir={work}/tmp",
            "-cp", cp, "perfbench.Main", "run", "--workload", workload, "--seed", str(seed),
            "--seconds", str(seconds), "--trace", str(trace), "--bench-dir", BENCH,
            "--work", work, "--out", out]
    # Spark's scratch space stays inside the work directory (spark.local.dir);
    # SPARK_LOCAL_DIRS would override it.
    env = {k: v for k, v in os.environ.items() if k != "SPARK_LOCAL_DIRS"}
    try:
        proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=sys.stderr, stderr=sys.stderr,
                                stdin=subprocess.DEVNULL, start_new_session=True)
        code = wait_or_kill(proc, JVM_TIMEOUT_S)
        if code is None:
            print(f"perfbench: run exceeded {JVM_TIMEOUT_S} s and was killed", file=sys.stderr)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    result = None
    if os.path.isfile(out):
        with open(out) as fh:
            result = json.load(fh)
        os.remove(out)
    return code, result


def report(result, trace):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    declared = spec["per_layer" if trace else "end_to_end"]
    got = result["metrics"]
    unknown = sorted(set(got) - {m["name"] for m in declared})
    if unknown:
        fail(f"metrics not declared in BENCHMARK.json: {unknown}", 3)
    metrics = {m["name"]: {"value": got.get(m["name"], 0.0), "unit": m["unit"]}
               for m in declared}
    info = result.get("info", {})
    for k, v in info.items():
        print(f"{k}: {json.dumps(v)}")
    return {"correct": bool(result["correct"]), "attempted": int(result["attempted"]),
            "failed": int(result["failed"]), "metrics": metrics}


def steady(cp, args):
    values = {}
    first = args.seed if args.seed is not None else 1
    for seed in range(first, first + args.steady):
        code, result = run_once(cp, args.workload, seed, args.seconds, args.trace)
        if result is None:
            fail(f"seed {seed}: no result (exit {code})", 1)
        line = report(result, args.trace)
        print(json.dumps(line), flush=True)
        for name, m in line["metrics"].items():
            values.setdefault(name, []).append(m["value"])
    print(f"{'metric':40s} {'median':>12s} {'q1':>12s} {'q3':>12s} {'spread':>8s}")
    for name, vs in values.items():
        q1, q2, q3 = statistics.quantiles(vs, n=4)
        med = statistics.median(vs)
        spread = (q3 - q1) / med if med else float("nan")
        print(f"{name:40s} {med:12.6g} {q1:12.6g} {q3:12.6g} {spread:8.3f}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=float, default=8)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--steady", type=int, default=0,
                    help="run N seeds and print each metric's median and quartiles")
    args = ap.parse_args()
    cp = build()
    if args.steady:
        steady(cp, args)
        return
    if args.seed is None:
        fail("--seed is required")
    code, result = run_once(cp, args.workload, args.seed, args.seconds, args.trace)
    if result is None:
        fail(f"the benchmark JVM exited with {code} and no result", 1)
    line = report(result, args.trace)
    print(json.dumps(line), flush=True)
    sys.exit(0 if line["correct"] and code == 0 else 1)


if __name__ == "__main__":
    main()
