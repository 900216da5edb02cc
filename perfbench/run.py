#!/usr/bin/env python3
"""Run one benchmark workload against the engine in this checkout.

    python3 perfbench/run.py --workload <ingest|dashboard|live> --seed <n> \
        --seconds <s> --trace <0|1>
    python3 perfbench/run.py --selftest

Run from the root of a checkout. The first call builds the engine and the
benchmark from source with sbt (perfbench/build.sbt), then runs every
workload briefly once so the JVM can archive the classes a run loads
(class-data sharing); later calls start the JVM directly. The build is
redone whenever a source or build file changes.

The last line of standard output is one JSON object with exactly the keys
correct, attempted, failed and metrics: the end-to-end metrics of
BENCHMARK.json with --trace 0, the per-layer metrics with --trace 1. The
lines before it, each starting with '#', give the host context, the
per-verb metrics by name, and why any per-layer metric is absent. Every
file a run writes stays under .bench_build/ in the checkout.
"""

import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HEAP = "-Xmx3g"
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 800
BENCH = "perfbench"
OUT = os.path.join(".bench_build", "perfbench")
# sources and build files whose change means a rebuild
SOURCES = ["build.sbt", "project", "src/main", os.path.join(BENCH, "build.sbt"),
           os.path.join(BENCH, "project"), os.path.join(BENCH, "src")]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_digest():
    h = hashlib.sha1()
    for top in SOURCES:
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, dirs, files in os.walk(top)
            if "target" not in d.split(os.sep) for f in files)
        for p in paths:
            h.update(p.encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true -Dsbt.offline=true -Xmx2g")
    return env


def launch_files():
    d = os.path.join(BENCH, "target", "launch")
    with open(os.path.join(d, "classpath.txt")) as f:
        cp = f.read().strip()
    with open(os.path.join(d, "jvm_options.txt")) as f:
        opts = [line for line in f.read().splitlines() if line]
    return cp, opts


def java_cmd(cp, opts, extra, args, run_dir):
    return (["java"] + opts + [HEAP, "-Dlog4j2.configurationFile=" +
            os.path.abspath(os.path.join(BENCH, "log4j2.properties")),
            "-Djava.io.tmpdir=" + os.path.join(run_dir, "tmp")] + extra +
            ["-cp", cp, "perfbench.Main"] + args + ["--out", run_dir])


def java_env(run_dir):
    env = dict(os.environ)
    env["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    return env


def run_logged(cmd, log_path, timeout, env, cwd=None):
    """Runs cmd with its output in log_path; returns its exit code, or
    None when it overran `timeout` and was killed."""
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, env=env, cwd=cwd)
        try:
            return p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            return None


def tail(path, n=30):
    with open(path, errors="replace") as f:
        return "".join(f.readlines()[-n:])


def build():
    """Builds once per source digest; returns the JVM launch pieces."""
    os.makedirs(OUT, exist_ok=True)
    digest = source_digest()
    stamp = os.path.join(OUT, "built.txt")
    archive = os.path.abspath(os.path.join(OUT, "classes.jsa"))
    if os.path.exists(stamp) and open(stamp).read() == digest:
        cp, opts = launch_files()
        return cp, opts, archive
    if os.path.exists(stamp):
        os.remove(stamp)
    log = os.path.join(OUT, "build.log")
    code = run_logged(["sbt", "--batch", "-Dsbt.log.noformat=true", "writeLaunch"], log,
                      BUILD_TIMEOUT_S, sbt_env(), cwd=BENCH)
    if code != 0:
        fail(f"build failed (exit {code}):\n{tail(log)}")
    cp, opts = launch_files()
    # record the classes every workload loads, so later JVMs map them
    # from the archive instead of loading them jar by jar
    train_dir = os.path.abspath(os.path.join(OUT, "train"))
    shutil.rmtree(train_dir, ignore_errors=True)
    if os.path.exists(archive):
        os.remove(archive)
    code = run_logged(java_cmd(cp, opts, ["-XX:ArchiveClassesAtExit=" + archive],
                               ["--train"], train_dir),
                      os.path.join(OUT, "train.log"), BUILD_TIMEOUT_S, java_env(train_dir))
    shutil.rmtree(train_dir, ignore_errors=True)
    if code != 0 or not os.path.exists(archive):
        fail(f"training run failed (exit {code}):\n{tail(os.path.join(OUT, 'train.log'))}")
    with open(stamp, "w") as f:
        f.write(digest)
    return cp, opts, archive


def cpu_times():
    """Aggregate CPU jiffies from /proc/stat, or None where unavailable."""
    try:
        with open("/proc/stat") as f:
            return [int(x) for x in f.readline().split()[1:]]
    except (OSError, ValueError):
        return None


def steal_share(before, after):
    """Share of CPU time the hypervisor took from this host meanwhile."""
    if not before or not after or len(before) < 8:
        return None
    d = [b - a for a, b in zip(before, after)]
    return round(d[7] / sum(d), 3) if sum(d) > 0 else None


def git_commit():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], capture_output=True, text=True,
                              timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    if not (os.path.isfile("build.sbt") and os.path.isdir(os.path.join("src", "main", "scala"))):
        fail("run from the root of an engine checkout (build.sbt and src/main/scala missing)")
    if not a.selftest and a.workload not in ("ingest", "dashboard", "live"):
        fail(f"unknown workload {a.workload!r}")

    cp, opts, archive = build()
    extra = ["-XX:SharedArchiveFile=" + archive, "-Xlog:cds=off", "-Xlog:cds+dynamic=off"]
    run_dir = os.path.abspath(os.path.join(OUT, f"run-{os.getpid()}"))
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    if a.selftest:
        code = subprocess.call(java_cmd(cp, opts, extra, ["--selftest"], run_dir),
                               env=java_env(run_dir))
        shutil.rmtree(run_dir, ignore_errors=True)
        sys.exit(code)

    nproc = len(os.sched_getaffinity(0))
    load_before, cpu_before = os.getloadavg(), cpu_times()
    args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace)]
    log = os.path.join(run_dir, "log.txt")
    t0 = time.time()
    code = run_logged(java_cmd(cp, opts, extra, args, run_dir), log, RUN_TIMEOUT_S,
                      java_env(run_dir))
    wall = time.time() - t0
    load_after, cpu_after = os.getloadavg(), cpu_times()
    result_path = os.path.join(run_dir, "result.json")
    if code != 0 or not os.path.exists(result_path):
        msg = "timed out" if code is None else f"exit {code}"
        fail(f"{a.workload} run failed ({msg}):\n{tail(log)}", code=1)
    with open(result_path) as f:
        res = json.load(f)
    # keep the last run's outputs for inspection; drop its stores
    keep = os.path.join(OUT, f"last-{a.workload}-trace{a.trace}")
    shutil.rmtree(keep, ignore_errors=True)
    os.makedirs(keep)
    for name in ("result.json", "samples.csv", "spans.jsonl", "log.txt"):
        if os.path.exists(os.path.join(run_dir, name)):
            shutil.move(os.path.join(run_dir, name), keep)
    shutil.rmtree(run_dir, ignore_errors=True)

    context = dict(res["context"], workload=a.workload, seed=a.seed, seconds=a.seconds,
                   trace=a.trace, nproc=nproc, heap=HEAP, git_commit=git_commit(),
                   source_sha1=open(os.path.join(OUT, "built.txt")).read(),
                   load_before=[round(x, 2) for x in load_before],
                   load_after=[round(x, 2) for x in load_after],
                   loaded_host=load_before[0] > nproc,
                   cpu_steal_share=steal_share(cpu_before, cpu_after), wall_s=round(wall, 2))
    print("# context " + json.dumps(context))
    print("# detail " + json.dumps(res["detail"]))
    if res["absent"]:
        print("# absent " + json.dumps(res["absent"]))
    if res["failures"]:
        print("# failures " + json.dumps(res["failures"]))
    print(json.dumps({k: res[k] for k in ("correct", "attempted", "failed", "metrics")}))
    sys.exit(0 if res["correct"] else 1)


if __name__ == "__main__":
    main()
