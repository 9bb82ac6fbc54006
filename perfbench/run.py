#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload curation --seed 7 --seconds 18 --trace 0

Builds graft and the benchmark program if needed (build.py), runs the
workload in one JVM on local[3], checks its outputs, and prints a table
followed by one JSON line: {"correct", "attempted", "failed", "metrics"}.
`--trace 0` reports the end-to-end metrics, `--trace 1` the per-layer ones.
Everything the run writes stays under the build directory and is removed
afterwards.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402
import metrics  # noqa: E402

TIME_LIMIT_S = 170
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def jvm_command(classes, work, args, extra):
    cmd = ["java", "-Xms2g", "-Xmx2g", "-XX:+UseG1GC", "-XX:+AlwaysPreTouch", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={work / 'tmp'}",
           f"-Dlog4j2.configurationFile={build.BENCH / 'log4j2.properties'}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", f"{classes}:{build.spark_jars()}/*", "graftbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--work", str(work)] + extra
    return cmd


def run_jvm(cmd, work, deadline):
    """Run the benchmark JVM to completion; kill and reap it past the deadline."""
    log = open(work / "jvm.log", "w")
    p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT,
                         start_new_session=True)
    try:
        code = p.wait(timeout=max(1.0, deadline - time.monotonic()))
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, 9)
        p.wait()
        code = "timeout"
    log.close()
    return code


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=metrics.WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--stage-only", metavar="DIR",
                    help="write the staged inputs to DIR and exit")
    args = ap.parse_args()
    start = time.monotonic()
    classes = build.build()

    work = build.build_dir() / "runs" / f"{args.workload}-{args.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    raw_path = work / "raw.json"
    extra = ["--out", str(raw_path)]
    if args.stage_only:
        extra.append("--stage-only")
    # the build may have used the first run's longer allowance
    deadline = time.monotonic() + TIME_LIMIT_S - min(60.0, time.monotonic() - start)
    code = run_jvm(jvm_command(classes, work, args, extra), work, deadline)
    try:
        if code != 0:
            sys.stderr.write((work / "jvm.log").read_text()[-6000:])
            raise SystemExit(f"run: benchmark JVM exited with {code}")
        if args.stage_only:
            dest = Path(args.stage_only)
            shutil.rmtree(dest, ignore_errors=True)
            shutil.copytree(work / "staged", dest)
            return
        for line in (work / "jvm.log").read_text().splitlines():
            if line.startswith(("set-up", "warm-up", "CHECK")):
                sys.stderr.write(line + "\n")
        raw = json.loads(raw_path.read_text())
        result, notes = metrics.summarize(raw)
        for c in raw["checks"]:
            if not c["ok"]:
                print(f"check failed: {c['name']}: {c['detail']}")
        for k, m in result["metrics"].items():
            print(f"{k:48s} {m['value']:>16.4f} {m['unit']}")
        for k, v in notes.items():
            print(f"{k}: {v}")
        print(json.dumps(result))
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
