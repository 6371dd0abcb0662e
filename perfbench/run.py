#!/usr/bin/env python3
"""Benchmark of the ES -> TSV job and the versioned lake.

    python3 perfbench/run.py --workload etl_http --seed 1 --seconds 12 --trace 0

Run from the repository root. Builds the engine and the benchmark (once
per source state, under $CARGO_TARGET_DIR or .bench_build), runs one JVM
for the workload, and prints its JSON result as the last stdout line.
Workloads: etl_http, etl_vintage, lake_mixed (see perfbench/NOISE.md).
"""

import argparse
import json
import os
import shutil
import subprocess
import sys
import time
from pathlib import Path

sys.dont_write_bytecode = True
sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402

WORKLOADS = ("etl_http", "etl_vintage", "lake_mixed")
RUN_LIMIT_S = 170
BUILD_LIMIT_S = 880

# Spark on JDK 17 outside spark-submit needs these opens (the list
# org.apache.spark.launcher.JavaModuleOptions carries).
OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
         "java.base/java.lang.reflect", "java.base/java.io",
         "java.base/java.net", "java.base/java.nio", "java.base/java.util",
         "java.base/java.util.concurrent",
         "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
         "java.base/sun.nio.cs", "java.base/sun.security.action",
         "java.base/sun.util.calendar"]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    t0 = time.monotonic()
    out = Path(os.environ.get("CARGO_TARGET_DIR") or ".bench_build") / "perfbench"
    try:
        stamp_before = (out / "stamp").read_text() if (out / "stamp").is_file() else ""
        cp = build.build(Path.cwd(), out)
        built = (out / "stamp").read_text() != stamp_before
    except build.BuildError as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 2

    work = (out / f"run-{os.getpid()}").resolve()
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    here = Path(__file__).resolve().parent
    # -XX:-UsePerfData: no hsperfdata file in the system temp directory
    cmd = [build.jdk_tool("java"), "-XX:-UsePerfData", "-Xms2g", "-Xmx2g", "-Xss4m",
           f"-Djava.io.tmpdir={work / 'tmp'}",
           f"-Dderby.system.home={work}",
           f"-Dlog4j2.configurationFile={here / 'log4j2.properties'}"]
    for p in OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main", "--workload", args.workload,
            "--seed", str(args.seed), "--seconds", str(args.seconds),
            "--trace", str(args.trace), "--work", str(work)]
    limit = (BUILD_LIMIT_S if built else RUN_LIMIT_S) - (time.monotonic() - t0)
    # Spark prefers SPARK_LOCAL_DIRS to spark.local.dir; keep its scratch
    # files in the work directory
    env = {k: v for k, v in os.environ.items() if k != "SPARK_LOCAL_DIRS"}
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True, env=env)
    try:
        stdout, _ = proc.communicate(timeout=max(1.0, limit))
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        print("perfbench: run exceeded its time limit", file=sys.stderr)
        return 3
    finally:
        shutil.rmtree(work, ignore_errors=True)

    lines = stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        print(f"perfbench: JVM exited with {proc.returncode}", file=sys.stderr)
        return proc.returncode or 4
    result = json.loads(lines[-1])
    if sorted(result) != ["attempted", "correct", "failed", "metrics"]:
        print("perfbench: malformed result line", file=sys.stderr)
        return 5
    for line in lines:
        print(line)
    return 0


if __name__ == "__main__":
    sys.exit(main())
