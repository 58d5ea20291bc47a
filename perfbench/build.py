#!/usr/bin/env python3
"""Build file of the graft benchmark.

Compiles graft's main sources (src/main/scala of the checkout) together
with the benchmark harness (perfbench/src) into one class directory,
with the Scala compiler that ships in Spark's jars directory
($SPARK_HOME/jars, else the `unmanagedBase` directory build.sbt names).
The build is skipped when a stamp over every source file is unchanged.

    python3 perfbench/build.py          # prints the runtime classpath

Output goes to $CARGO_TARGET_DIR (default .bench_build) under the
checkout root.
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent


def out_dir() -> Path:
    d = Path(os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    return d if d.is_absolute() else ROOT / d


def spark_jars() -> Path:
    if "SPARK_HOME" in os.environ:
        return Path(os.environ["SPARK_HOME"]) / "jars"
    sbt = ROOT / "build.sbt"
    m = sbt.is_file() and re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', sbt.read_text())
    if not m:
        raise SystemExit("build: set SPARK_HOME (build.sbt names no unmanagedBase)")
    return Path(m.group(1))


def sources() -> list:
    graft = ROOT / "src" / "main" / "scala"
    if not graft.is_dir():
        raise SystemExit(f"build: graft sources not found at {graft}")
    files = sorted(graft.rglob("*.scala")) + sorted((BENCH / "src").rglob("*.scala"))
    return [f for f in files if f.is_file()]


def stamp(files: list, jars: list) -> str:
    h = hashlib.sha256()
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    for j in jars:
        h.update(j.name.encode())
    return h.hexdigest()


def build() -> str:
    """Compile if needed; return the runtime classpath."""
    jars_dir = spark_jars()
    jars = sorted(jars_dir.glob("*.jar"))
    if not jars:
        raise SystemExit(f"build: no jars under {jars_dir}")
    files = sources()
    out = out_dir()
    classes = out / "classes"
    stamp_file = out / "classes.stamp"
    want = stamp(files, jars)
    cp = f"{classes}{os.pathsep}{jars_dir}/*"
    if classes.is_dir() and stamp_file.is_file() and stamp_file.read_text() == want:
        return cp
    tmp = out / "classes.tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    argfile = out / "sources.txt"
    argfile.write_text("\n".join(str(f) for f in files) + "\n")
    cmd = ["java", "-XX:-UsePerfData", "-Xss4m", "-Xmx2g", "-cp", f"{jars_dir}/*",
           "scala.tools.nsc.Main", "-nowarn", "-d", str(tmp), "-classpath", os.pathsep.join(str(j) for j in jars),
           f"@{argfile}"]
    print(f"build: compiling {len(files)} sources", file=sys.stderr)
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        raise SystemExit(f"build: scalac failed with exit code {r.returncode}")
    shutil.rmtree(classes, ignore_errors=True)
    tmp.rename(classes)
    stamp_file.write_text(want)
    return cp


if __name__ == "__main__":
    print(build())
