#!/usr/bin/env python3
"""Build file of the benchmark: compiles the program's sources
(`src/main/scala`) together with the benchmark's own (`perfbench/src`)
into `perfbench/.build/classes`, using the Scala compiler that ships in
Spark's jars (`$SPARK_HOME/jars`, the same jars the sbt build puts on
its classpath). A stamp over every source file skips the compile when
nothing changed.

Usage: python3 perfbench/build.py
"""
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
PROGRAM_SRC = ROOT / "src" / "main" / "scala"
RESOURCES = ROOT / "src" / "main" / "resources"
BENCH_SRC = BENCH / "src"
BUILD = BENCH / ".build"
CLASSES = BUILD / "classes"
STAMP = BUILD / "stamp"


def jars_dir() -> Path:
    home = os.environ.get("SPARK_HOME")
    if not home or not (Path(home) / "jars").is_dir():
        sys.exit("perfbench: SPARK_HOME must point at a Spark install with a jars/ directory")
    return Path(home) / "jars"


def java() -> str:
    home = os.environ.get("JAVA_HOME")
    exe = Path(home) / "bin" / "java" if home else None
    if exe and exe.is_file():
        return str(exe)
    found = shutil.which("java")
    if not found:
        sys.exit("perfbench: no java on PATH")
    return found


def sources() -> list:
    if not PROGRAM_SRC.is_dir():
        sys.exit(f"perfbench: program sources not found at {PROGRAM_SRC.relative_to(ROOT)}")
    files = sorted(PROGRAM_SRC.rglob("*.scala")) + sorted(BENCH_SRC.rglob("*.scala"))
    if not files:
        sys.exit("perfbench: no Scala sources")
    return files


def classpath() -> str:
    return os.pathsep.join([str(CLASSES), str(RESOURCES), str(jars_dir() / "*")])


def build() -> None:
    files = sources()
    h = hashlib.sha256()
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    h.update("\n".join(sorted(p.name for p in jars_dir().iterdir())).encode())
    stamp = h.hexdigest()
    if CLASSES.is_dir() and STAMP.is_file() and STAMP.read_text() == stamp:
        return
    BUILD.mkdir(parents=True, exist_ok=True)
    tmp = BUILD / f"classes-{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir()
    argfile = BUILD / f"sources-{os.getpid()}.txt"
    argfile.write_text("\n".join(str(f) for f in files) + "\n")
    jars = str(jars_dir() / "*")
    cmd = [java(), "-Xmx2g", "-Xss8m", "-cp", jars, "scala.tools.nsc.Main",
           "-nowarn", "-d", str(tmp), "-classpath", jars, f"@{argfile}"]
    print(f"perfbench: compiling {len(files)} Scala files", file=sys.stderr, flush=True)
    try:
        r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr, timeout=840)
    finally:
        argfile.unlink(missing_ok=True)
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        sys.exit(f"perfbench: compile failed ({r.returncode})")
    shutil.rmtree(CLASSES, ignore_errors=True)
    tmp.rename(CLASSES)
    STAMP.write_text(stamp)


if __name__ == "__main__":
    build()
