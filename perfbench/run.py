#!/usr/bin/env python3
"""Run one benchmark workload and print its result as the last stdout line.

Usage (from the repository root):

    python3 perfbench/run.py --workload wire_steady --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --all --seed 1 --seconds 10

The first run builds the program and the harness from source with sbt
(offline) and caches the runtime classpath under the build directory
(`$CARGO_TARGET_DIR`, default `.bench_build`), keyed by a hash of every
source and build file. Later runs start the harness JVM directly.

`--all` runs the four workloads one after another and prints each one's
end-to-end metrics under the names used in perfbench/README.md.
"""

import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import threading

WORKLOADS = ["wire_steady", "wire_backlog", "iq_reads", "batch_suite"]
# not a workload: records every query's digest and time (see BatchSuite)
TOOLS = ["batch_calibrate"]
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 170

# Spark 4 on JDK 17 needs these when a SparkSession starts outside
# spark-submit (org.apache.spark.launcher.JavaModuleOptions).
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


def source_files(root):
    """Every file that decides what the build produces."""
    out = []
    for top in ["build.sbt", "project/build.properties", "src/main",
                "perfbench/build.sbt", "perfbench/project/build.properties",
                "perfbench/src/main"]:
        path = os.path.join(root, top)
        if os.path.isfile(path):
            out.append(path)
        for dirpath, dirnames, filenames in os.walk(path):
            dirnames.sort()
            out.extend(os.path.join(dirpath, f) for f in sorted(filenames))
    return out


def stamp_of(files):
    h = hashlib.sha256()
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.isfile(repos):
        opts += ["-Dsbt.override.build.repos=true",
                 f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    return env


def build(root, build_dir):
    """Return the harness classpath, building it when the sources changed."""
    for need in ["build.sbt", "src/main/scala", "perfbench/build.sbt"]:
        if not os.path.exists(os.path.join(root, need)):
            fail(f"{need} is missing: run from the root of a full checkout")
    stamp = stamp_of(source_files(root))
    cp_file = os.path.join(build_dir, "classpath.txt")
    if os.path.isfile(cp_file):
        with open(cp_file) as fh:
            cached_stamp, cp = fh.read().split("\n", 1)
        if cached_stamp == stamp:
            return cp.strip()
    print("perfbench: building program and harness with sbt", file=sys.stderr)
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true",
         "export Runtime/fullClasspath"],
        cwd=os.path.join(root, "perfbench"), env=sbt_env(),
        stdout=subprocess.PIPE, stderr=sys.stderr, text=True,
        timeout=BUILD_TIMEOUT_S)
    lines = [l for l in proc.stdout.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines or "perfbench" not in lines[-1]:
        sys.stderr.write(proc.stdout[-4000:])
        fail(f"build failed (sbt exit {proc.returncode})")
    cp = lines[-1].strip()
    os.makedirs(build_dir, exist_ok=True)
    with open(cp_file, "w") as fh:
        fh.write(stamp + "\n" + cp + "\n")
    return cp


def run_workload(root, build_dir, cp, workload, seed, seconds, trace):
    """Run the harness JVM; return (exit code, its last two stdout lines)."""
    work = os.path.join(build_dir, "work")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    cmd = ["java", "-Xms3g", "-Xmx3g", "-XX:+UseParallelGC", "-XX:-UsePerfData",
           "-Dspark.ui.enabled=false",
           "-Dlog4j2.level=warn", f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main",
            "--workload", workload, "--seed", str(seed),
            "--seconds", str(seconds), "--trace", str(trace),
            "--work", work, "--data", os.path.join(root, "perfbench", "data", "sf0.01"),
            "--expected", os.path.join(root, "perfbench", "expected")]
    # Spark's scratch space stays inside the work directory
    env = {k: v for k, v in os.environ.items()
           if k not in ("SPARK_LOCAL_DIRS", "SPARK_EXECUTOR_DIRS")}
    proc = subprocess.Popen(cmd, cwd=root, stdout=subprocess.PIPE, text=True,
                            env=env, start_new_session=True)
    # the harness and its generator share one process group; a run that
    # outlives its time is killed whole, even while it holds stdout open
    timer = threading.Timer(RUN_TIMEOUT_S, os.killpg, (proc.pid, signal.SIGKILL))
    timer.start()
    last = ["", ""]
    try:
        for line in proc.stdout:
            sys.stdout.write(line)
            if line.strip():
                last = [last[1], line.strip()]
        code = proc.wait()
    except BaseException:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise
    finally:
        timer.cancel()
    if code == -signal.SIGKILL:
        fail(f"{workload} did not finish within {RUN_TIMEOUT_S} s")
    return code, last


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS + TOOLS)
    ap.add_argument("--all", action="store_true",
                    help="run every workload and print its end-to-end metrics")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    if not args.all and not args.workload:
        ap.error("--workload or --all is required")
    if args.seconds < 1:
        ap.error("--seconds must be at least 1")

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "perfbench", "run.py")):
        fail("run from the repository root")
    build_dir = os.path.abspath(os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    cp = build(root, build_dir)

    if not args.all:
        code, _ = run_workload(root, build_dir, cp, args.workload,
                               args.seed, args.seconds, args.trace)
        sys.exit(code)

    worst = 0
    summary = {}
    for w in WORKLOADS:
        code, (detail, _) = run_workload(root, build_dir, cp, w, args.seed,
                                         args.seconds, args.trace)
        worst = max(worst, code)
        try:
            d = json.loads(detail)
            summary[w] = {"correct": d["correct"], "metrics": d["named"]}
        except (ValueError, KeyError):
            summary[w] = {"correct": False, "error": "no result line"}
            worst = max(worst, 1)
    print(json.dumps(summary, sort_keys=True))
    sys.exit(worst)


if __name__ == "__main__":
    main()
