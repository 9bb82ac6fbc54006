#!/usr/bin/env python3
"""Build file of the benchmark: compiles graft's main sources and the
benchmark driver under perfbench/src into one class directory.

Spark's distribution ships the Scala 2.13 compiler next to the Spark jars,
so the build needs nothing beyond Spark and a JDK. The output directory is
keyed by a hash of every source file, so an unchanged tree is not rebuilt.

    python3 perfbench/build.py            # prints the class directory
"""
import hashlib
import os
import subprocess
import sys
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
GRAFT_SRC = ROOT / "src" / "main" / "scala"
BENCH_SRC = BENCH / "src"


def spark_jars():
    return Path(os.environ.get("SPARK_HOME", "/opt/spark")) / "jars"


def build_dir():
    return ROOT / os.environ.get("CARGO_TARGET_DIR", ".bench_build")


def sources():
    graft = sorted(GRAFT_SRC.rglob("*.scala")) if GRAFT_SRC.is_dir() else []
    if not graft:
        raise SystemExit(f"build: no graft sources under {GRAFT_SRC}")
    return graft + sorted(BENCH_SRC.rglob("*.scala"))


def build():
    files = sources()
    h = hashlib.sha256()
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    out = build_dir() / f"classes-{h.hexdigest()[:16]}"
    if (out / ".done").exists():
        return out
    tmp = out.with_name(out.name + ".tmp")
    subprocess.run(["rm", "-rf", str(tmp)], check=True)
    tmp.mkdir(parents=True)
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", f"{spark_jars()}/*",
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", str(tmp)]
    cmd += [str(f) for f in files]
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        raise SystemExit(f"build: scalac failed with code {r.returncode}")
    (tmp / ".done").write_text("ok\n")
    subprocess.run(["rm", "-rf", str(out)], check=True)
    tmp.rename(out)
    for old in build_dir().glob("classes-*"):
        if old != out and not old.name.endswith(".tmp"):
            subprocess.run(["rm", "-rf", str(old)], check=True)
    return out


if __name__ == "__main__":
    print(build())
