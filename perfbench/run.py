#!/usr/bin/env python3
"""Run one benchmark workload of the graft importer engine.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --self-test     # the runner's own unit tests

Workloads: importer_queries and ingest_stream; perfbench/README.md says why
each exists.
The first run in a checkout builds the program and the runner with sbt
(offline); later runs start the JVM directly. The last line of stdout is the
JSON result: {"correct", "attempted", "failed", "metrics"}.

Input data: the sf0.1 parquet tables, from $SPARK_GRAFT_SF_DIR or
~/testdata/sf0.1, and the sf0.001 tables beside them for the query warm-up.
Everything the run writes stays under perfbench/work and the sbt target
directories of the checkout.
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
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, "work")
LAUNCH = os.path.join(HERE, "target", "launch.txt")
STAMP = os.path.join(HERE, "target", "launch.stamp")
EXPECTED = os.path.join(HERE, "expected.json")
WORKLOADS = ("importer_queries", "ingest_stream")
# every run, build included, must end well inside the caller's limits
BUILD_TIMEOUT_S = 600
RUN_TIMEOUT_S = 170


def fail(msg, code):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def run_group(cmd, timeout, **kw):
    """Runs cmd in its own process group; on timeout kills the whole group.
    Returns the exit code, or None on timeout. Waits for the process either way."""
    proc = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        return proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        return None


def build_inputs():
    """Files whose content decides the build: sbt definitions and sources."""
    tops = [
        ROOT, os.path.join(ROOT, "project"), os.path.join(ROOT, "src", "main"),
        HERE, os.path.join(HERE, "project"), os.path.join(HERE, "src", "main"),
    ]
    files = []
    for top in tops:
        if top in (ROOT, HERE, os.path.join(ROOT, "project"), os.path.join(HERE, "project")):
            if os.path.isdir(top):
                files += [os.path.join(top, f) for f in os.listdir(top)
                          if f.endswith((".sbt", ".properties", ".scala"))]
            continue
        for d, _, fs in os.walk(top):
            files += [os.path.join(d, f) for f in fs]
    return sorted(f for f in files if os.path.isfile(f))


def fingerprint():
    h = hashlib.sha256(ROOT.encode())  # the launch line holds absolute paths
    for f in build_inputs():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ)
    home = os.path.expanduser("~")
    env["COURSIER_MODE"] = "offline"
    env["SBT_OPTS"] = " ".join([
        "-Dsbt.offline=true", "-Dsbt.override.build.repos=true",
        f"-Dsbt.repository.config={home}/.sbt/repositories", "-Xmx3g",
    ])
    return env


def self_test():
    code = run_group(["sbt", "--batch", "-Dsbt.log.noformat=true", "perfbench/test"],
                     BUILD_TIMEOUT_S, cwd=HERE, env=sbt_env())
    sys.exit(1 if code is None else code)


def build():
    """Compile program + runner once per source state; record the JVM launch line."""
    fp = fingerprint()
    if os.path.exists(LAUNCH) and os.path.exists(STAMP):
        with open(STAMP) as fh:
            if fh.read().strip() == fp:
                return
    print("perfbench: building (sbt, offline)", file=sys.stderr)
    code = run_group(["sbt", "--batch", "-Dsbt.log.noformat=true", "perfbench/writeLaunch"],
                     BUILD_TIMEOUT_S, cwd=HERE, env=sbt_env(), stdout=sys.stderr, stderr=sys.stderr)
    if code is None:
        fail(f"build exceeded {BUILD_TIMEOUT_S} s", 3)
    if code != 0 or not os.path.exists(LAUNCH):
        fail(f"build failed (sbt exit {code})", 3)
    with open(STAMP, "w") as fh:
        fh.write(fp)


def run_jvm(args, out):
    with open(LAUNCH) as fh:
        launch = [l for l in fh.read().splitlines() if l]
    tmp = os.path.join(WORK, "tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    data = os.environ.get("SPARK_GRAFT_SF_DIR", os.path.expanduser("~/testdata/sf0.1"))
    # the query warm-up runs on the smallest scale factor beside it
    warm = os.path.join(os.path.dirname(data), "sf0.001")
    env = dict(os.environ)
    env["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    env["SPARK_LOCAL_DIRS"] = tmp
    cmd = ["java"] + launch + [
        "-XX:-UsePerfData",
        f"-Djava.io.tmpdir={tmp}", f"-Dderby.stream.error.file={tmp}/derby.log",
        "graft.perfbench.Main",
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--data", data, "--warm-data", warm, "--work", WORK, "--out", out,
    ] + (["--pin", EXPECTED] if args.pin else ["--expected", EXPECTED])
    code = run_group(cmd, RUN_TIMEOUT_S, cwd=WORK, env=env, stdout=sys.stderr, stderr=sys.stderr)
    if code is None:
        fail(f"run exceeded {RUN_TIMEOUT_S} s", 4)
    return code


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--self-test", action="store_true", help="run the runner's unit tests and exit")
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=int)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--pin", action="store_true",
                    help="rewrite expected.json from this run's query outputs instead of checking them")
    args = ap.parse_args()
    if not args.self_test and None in (args.workload, args.seed, args.seconds):
        ap.error("--workload, --seed and --seconds are required")

    for need in ("build.sbt", os.path.join("src", "main", "scala", "graft", "SparkEntry.scala")):
        if not os.path.isfile(os.path.join(ROOT, need)):
            fail(f"program source {need} not found next to perfbench/", 2)
    if args.self_test:
        self_test()
    os.makedirs(WORK, exist_ok=True)
    build()
    out = os.path.join(WORK, f"result-{args.workload}.json")
    if os.path.exists(out):
        os.remove(out)
    t0 = time.time()
    code = run_jvm(args, out)
    if code != 0 or not os.path.exists(out):
        fail(f"{args.workload} failed (JVM exit {code})", 5)
    with open(out) as fh:
        result = json.load(fh)
    print(f"perfbench: {args.workload} seed {args.seed} took {time.time() - t0:.1f} s", file=sys.stderr)
    print(json.dumps(result, sort_keys=True))


if __name__ == "__main__":
    main()
