#!/usr/bin/env python3
"""graft benchmark runner.

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload lake_etl --seed 1 --seconds 20 --trace 0

Builds the engine sources (src/main/scala) together with the benchmark
program (perfbench/src) into .bench_build/ with sbt, then runs one
workload in a single JVM on Spark local[2]. The last line of standard
output is the result JSON; the line before it is host evidence (nproc,
loadavg, versions, seed, sample counts, tail percentiles). With
--trace 1 the spans and per-span Spark counters are also written to
.bench_build/traces/. Every run works under a fresh scratch directory
in .bench_run/ that is removed at exit.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
CHECKOUT = os.path.dirname(HERE)
BUILD = os.path.join(CHECKOUT, ".bench_build")
RUNS = os.path.join(CHECKOUT, ".bench_run")
WORKLOADS = ("lake_etl", "curate_retrieve")
DEADLINE_S = 170  # the whole run, build excluded
BUILD_TIMEOUT_S = 800

JVM_OPTS = [
    "--add-opens=java.base/" + p + "=ALL-UNNAMED"
    for p in ("java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
              "java.nio", "java.util", "java.util.concurrent",
              "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
              "sun.security.action", "sun.util.calendar")
] + ["-Xmx3g", "-XX:+UseG1GC", "-Dspark.callstack.depth=80",
      # size the JVM's GC and JIT thread pools for Spark's local[2]
      "-XX:ActiveProcessorCount=2"]


def log(msg):
    print("[perfbench] " + msg, file=sys.stderr, flush=True)


def sources():
    """Every file the build depends on, in a stable order."""
    out = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for top in (os.path.join(HERE, "src"), os.path.join(CHECKOUT, "src", "main")):
        for d, _, fs in sorted(os.walk(top)):
            out += [os.path.join(d, f) for f in sorted(fs)]
    return out


def stamp(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, CHECKOUT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def run_child(cmd, timeout, **kw):
    """Run `cmd` in its own process group; kill the group on timeout or
    interruption (SIGTERM included) and always wait for it."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, _ = p.communicate(timeout=timeout)
        return p.returncode, out
    except BaseException:
        try:
            os.killpg(p.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        p.wait()
        raise


def on_term(signum, _frame):
    raise SystemExit(128 + signum)


def classpath():
    """Build if the sources changed since the last build; return the
    runtime classpath."""
    if not os.path.isdir(os.path.join(CHECKOUT, "src", "main", "scala")):
        sys.exit("perfbench: no engine sources at src/main/scala in " + CHECKOUT)
    key = stamp(sources())
    cp_file = os.path.join(BUILD, "classpath.txt")
    if os.path.exists(cp_file):
        with open(cp_file) as fh:
            saved_key, cp = fh.read().split("\n", 1)
        if saved_key == key:
            return cp.strip()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    sbt_opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        sbt_opts += ["-Dsbt.override.build.repos=true", "-Dsbt.repository.config=" + repos]
    env["SBT_OPTS"] = " ".join(sbt_opts)
    log("building (sbt compile) ...")
    t0 = time.time()
    code, out = run_child(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
        BUILD_TIMEOUT_S, cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True)
    if code != 0:
        sys.stderr.write(out[-4000:])
        sys.exit("perfbench: build failed")
    lines = [l for l in out.splitlines() if l.strip() and not l.startswith("[")]
    if not lines:
        sys.exit("perfbench: build printed no classpath")
    cp = lines[-1].strip()
    with open(cp_file, "w") as fh:
        fh.write(key + "\n" + cp + "\n")
    log("built in %.0f s" % (time.time() - t0))
    return cp


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    signal.signal(signal.SIGTERM, on_term)

    cp = classpath()
    start = time.time()
    root = os.path.join(RUNS, "%d-%d" % (os.getpid(), time.time_ns()))
    os.makedirs(os.path.join(root, "tmp"))
    trace_out = os.path.join(BUILD, "traces", "%s-seed%d.jsonl" % (a.workload, a.seed))
    cmd = ["java"] + JVM_OPTS + [
        "-Djava.io.tmpdir=" + os.path.join(root, "tmp"),
        "-Dderby.system.home=" + root,
        "-cp", cp, "graftbench.Main",
        "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", str(a.trace), "--root", root, "--trace-out", trace_out,
        "--nproc", str(os.cpu_count()),
    ]
    try:
        code, out = run_child(cmd, DEADLINE_S, cwd=root, stdout=subprocess.PIPE, text=True)
    except subprocess.TimeoutExpired:
        sys.exit("perfbench: run exceeded %d s" % DEADLINE_S)
    finally:
        shutil.rmtree(root, ignore_errors=True)
        try:
            os.rmdir(RUNS)
        except OSError:
            pass
    lines = [l for l in out.splitlines() if l.startswith("{")]
    if code != 0 or not lines:
        sys.exit("perfbench: benchmark JVM exited %d without a result" % code)
    result = json.loads(lines[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}, result.keys()
    for l in lines[:-1]:
        print(l)
    if a.trace:
        print(json.dumps({"trace_file": os.path.relpath(trace_out, CHECKOUT)}))
    log("%s seed %d done in %.1f s" % (a.workload, a.seed, time.time() - start))
    print(json.dumps(result), flush=True)


if __name__ == "__main__":
    main()
