#!/usr/bin/env python3
"""The repository's benchmark. Run from the root of a checkout:

    python3 perfbench/run.py --workload <etl_journey|store_cdc> \
        --seed <n> --seconds <s> --trace <0|1>

Builds the engine and the benchmark (see build.py), runs one seeded
workload in a fresh JVM under `.bench_work/`, checks every answer, and
prints one JSON line as the last line of stdout: `correct`, `attempted`,
`failed` and `metrics` (end-to-end metrics with `--trace 0`, per-layer
metrics with `--trace 1`). Exits non-zero when a check fails, an
operation fails, or the build is impossible. See perfbench/README.md.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402
import stats  # noqa: E402

WORKLOADS = ("etl_journey", "store_cdc")
# the whole command must end within 180 s; the JVM gets what is left
DEADLINE_S = 170
JVM_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def main(argv=None):
    t0 = time.monotonic()
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--corrupt", action="store_true",
                    help="tamper with one answer; the workload's checks must fail")
    args = ap.parse_args(argv)
    root = os.getcwd()
    try:
        classes = build.ensure(root)
    except build.BuildError as e:
        print(f"perfbench: cannot build: {e}", file=sys.stderr)
        return 2

    run_dir = os.path.join(root, ".bench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    out = os.path.join(run_dir, "record.json")
    # no hsperfdata file: the JVM would write it outside the checkout. The
    # JVM lives about a minute: C1-only compilation and the serial collector
    # keep the JIT and GC threads from competing with the workload for the
    # cores, which halves the run's CPU time and steadies its wall time.
    cmd = ["java", *JVM_OPENS, "-XX:TieredStopAtLevel=1", "-XX:+UseSerialGC", "-XX:-UsePerfData",
           "-Xmx3g", "-Xss8m", "-Duser.timezone=UTC",
           "-Dspark.ui.enabled=false", f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}",
           "-cp", os.pathsep.join([classes, os.path.join(build.spark_jars(root), "*")]),
           "graft.perfbench.Main", "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--root", run_dir, "--out", out] + (["--corrupt"] if args.corrupt else [])
    try:
        # Spark prefers SPARK_LOCAL_DIRS over spark.local.dir: keep both in the run dir
        env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(run_dir, "spark-local"))
        proc = subprocess.Popen(cmd, cwd=run_dir, env=env, stdout=sys.stderr, start_new_session=True)
        try:
            code = proc.wait(timeout=max(10, DEADLINE_S - (time.monotonic() - t0)))
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            print("perfbench: run exceeded its deadline", file=sys.stderr)
            return 3
        if code != 0 or not os.path.isfile(out):
            print(f"perfbench: JVM exited with {code}", file=sys.stderr)
            return 4
        with open(out) as f:
            record = json.load(f)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    for line in stats.summary(record):
        print(f"perfbench: {line}", file=sys.stderr)
    res = stats.result(record, trace=args.trace)
    print(json.dumps(res))
    return 0 if res["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
