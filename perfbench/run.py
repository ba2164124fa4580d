#!/usr/bin/env python3
"""Run one mnemospark benchmark workload and print its result line.

Usage (from the root of a checkout):

    python3 perfbench/run.py --workload query_mix --seed 1 --seconds 10 --trace 0

The first run in a checkout builds the library and the benchmark with sbt
(offline) and caches the launch command under perfbench/target; later runs
start the JVM directly. The last line of standard output is the result
object: {"correct", "attempted", "failed", "metrics"}. A per-run report
with medians, quartiles and sample counts of every metric, and the
per-operation table, is written to perfbench/out/.

Other modes:
    --record 1     rewrite perfbench/reference.tsv from this build's outputs
    --phases N     print the per-phase table (pl16 pl21 pl23 pl18 m5 m9)
"""
import argparse
import hashlib
import os
import shutil
import signal
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
TARGET = os.path.join(BENCH, "target")
LAUNCH = os.path.join(TARGET, "launch.txt")
STAMP = os.path.join(TARGET, "launch.fingerprint")
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 175
HEAP = "3g"


def fail(msg, code):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_files():
    """Every file whose change requires a rebuild."""
    yield os.path.join(ROOT, "build.sbt")
    yield os.path.join(BENCH, "build.sbt")
    for base in (os.path.join(ROOT, "project"), os.path.join(BENCH, "project")):
        for name in sorted(os.listdir(base)):
            if name.endswith((".sbt", ".scala", ".properties")):
                yield os.path.join(base, name)
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src")):
        for d, dirs, files in os.walk(base):
            dirs.sort()
            for name in sorted(files):
                yield os.path.join(d, name)


def fingerprint():
    h = hashlib.sha256()
    for path in source_files():
        h.update(os.path.relpath(path, ROOT).encode())
        with open(path, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def ensure_built():
    """Builds with sbt unless the cached launch command matches the sources."""
    fp = fingerprint()
    if os.path.exists(LAUNCH) and os.path.exists(STAMP):
        with open(STAMP) as f:
            if f.read().strip() == fp:
                return
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    os.makedirs(TARGET, exist_ok=True)
    log_path = os.path.join(TARGET, "build.log")
    with open(log_path, "w") as log:
        try:
            rc = subprocess.run(
                ["sbt", "--batch", "-Dsbt.log.noformat=true", "launchFile"],
                cwd=BENCH, env=env, stdout=log, stderr=subprocess.STDOUT,
                stdin=subprocess.DEVNULL, timeout=BUILD_TIMEOUT_S).returncode
        except subprocess.TimeoutExpired:
            fail(f"build timed out; see {log_path}", 3)
    if rc != 0 or not os.path.exists(LAUNCH):
        fail(f"build failed (exit {rc}); see {log_path}", 3)
    with open(STAMP, "w") as f:
        f.write(fp + "\n")


def main():
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload")
    p.add_argument("--seed", type=int, default=0)
    p.add_argument("--seconds", type=int, default=10)
    p.add_argument("--trace", choices=["0", "1"], default="0")
    p.add_argument("--record", choices=["0", "1"], default="0")
    p.add_argument("--phases", type=int)
    args = p.parse_args()
    if args.phases is None and not args.workload:
        p.error("--workload is required")

    # the benchmark measures the library of the checkout it sits in
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail("no mnemospark sources next to the benchmark (expected ../build.sbt "
             "and ../src/main/scala/graft)", 2)
    ensure_built()

    nproc = os.cpu_count() or 1
    cores = min(int(os.environ.get("SPARK_GRAFT_CPUS", nproc)), nproc)
    work = os.path.join(BENCH, "work", str(os.getpid()))
    out_dir = os.path.join(BENCH, "out")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.makedirs(out_dir, exist_ok=True)
    with open(LAUNCH) as f:
        launch = [line.rstrip("\n") for line in f if line.strip()]
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    cmd = [java, f"-Xmx{HEAP}", f"-Djava.io.tmpdir={work}/tmp",
           f"-Dlog4j2.configurationFile={BENCH}/log4j2.properties"] + launch + [
        "perfbench.Main",
        "--data", os.path.join(BENCH, "data", "sf0.01"),
        "--work", work,
        "--cores", str(cores),
        "--reference", os.path.join(BENCH, "reference.tsv"),
    ]
    if args.phases is not None:
        cmd += ["--phases", str(args.phases)]
    else:
        report = os.path.join(
            out_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}.json")
        cmd += ["--workload", args.workload, "--seed", str(args.seed),
                "--seconds", str(args.seconds), "--trace", args.trace,
                "--record", args.record, "--report", report]

    proc = subprocess.Popen(cmd, cwd=work, stdout=subprocess.PIPE,
                            stdin=subprocess.DEVNULL, text=True)

    def stop(signum, _frame):
        proc.kill()
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        sys.exit(128 + signum)

    signal.signal(signal.SIGTERM, stop)
    signal.signal(signal.SIGINT, stop)
    try:
        out, _ = proc.communicate(timeout=None if args.phases else RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        fail(f"run exceeded {RUN_TIMEOUT_S}s", 4)
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()
    shutil.rmtree(work, ignore_errors=True)
    sys.stdout.write(out)
    sys.stdout.flush()
    if proc.returncode != 0:
        fail(f"benchmark JVM exited with {proc.returncode}", 1)


if __name__ == "__main__":
    main()
