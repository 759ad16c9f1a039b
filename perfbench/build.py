#!/usr/bin/env python3
"""Build file of the benchmark: compiles the program's sources
(src/main/scala) together with the harness (perfbench/harness) with the
Scala compiler that ships among Spark's jars, into .bench_build/perfbench.
A stamp of the sources' content skips the compile when nothing changed.

Usage: python3 perfbench/build.py     (run.py calls it on every run)
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
BENCH = ROOT / "perfbench"
OUT = ROOT / ".bench_build" / "perfbench"


def spark_jars() -> Path:
    """Spark's jar directory: $SPARK_HOME/jars, else the directory the
    repo's own build.sbt names as its unmanagedBase."""
    home = os.environ.get("SPARK_HOME")
    if home and (Path(home) / "jars").is_dir():
        return Path(home) / "jars"
    sbt = ROOT / "build.sbt"
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', sbt.read_text()) if sbt.exists() else None
    if m and Path(m.group(1)).is_dir():
        return Path(m.group(1))
    raise SystemExit("build: Spark jars not found (set SPARK_HOME)")


def sources() -> list:
    program = ROOT / "src" / "main" / "scala"
    if not program.is_dir():
        raise SystemExit(f"build: program sources missing ({program.relative_to(ROOT)})")
    files = sorted(program.rglob("*.scala")) + sorted((BENCH / "harness").glob("*.scala"))
    return files


def build() -> Path:
    """Compile if needed; returns the classes directory."""
    files = sources()
    h = hashlib.sha256()
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    stamp = OUT / "classes.stamp"
    classes = OUT / "classes"
    if stamp.exists() and stamp.read_text() == h.hexdigest() and classes.is_dir():
        return classes
    OUT.mkdir(parents=True, exist_ok=True)
    shutil.rmtree(classes, ignore_errors=True)
    classes.mkdir()
    argfile = OUT / "sources.txt"
    argfile.write_text("\n".join(str(f) for f in files) + "\n")
    cp = str(spark_jars() / "*")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", cp, "scala.tools.nsc.Main",
           "-nowarn", "-d", str(classes), "-classpath", cp, "@" + str(argfile)]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout)
        raise SystemExit(f"build: scalac failed ({r.returncode})")
    stamp.write_text(h.hexdigest())
    return classes


if __name__ == "__main__":
    print(build())
