#!/usr/bin/env python3
"""Build file of the benchmark package: compiles the program (the repo's
`src/main/scala`) together with the benchmark harness (`perfbench/src`)
with the Scala compiler that ships in Spark's jar directory (the one the
program's build.sbt names), into `.bench_build/graftbench/classes` at the
checkout root.

A stamp of every source file's path and content decides whether the
classes are current, so only the first run in a checkout compiles.

Usage: python3 perfbench/build.py      (prints the classes directory)
"""
import fcntl
import hashlib
import os
import re
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
BUILD = ROOT / ".bench_build" / "graftbench"


class BuildError(Exception):
    pass


def spark_jars():
    """Spark's jar directory: $SPARK_HOME/jars, else the `unmanagedBase`
    the program's own build.sbt compiles against."""
    if "SPARK_HOME" in os.environ:
        return Path(os.environ["SPARK_HOME"]) / "jars"
    sbt = ROOT / "build.sbt"
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', sbt.read_text()) if sbt.exists() else None
    if not m:
        raise BuildError("no Spark jars: set SPARK_HOME or keep build.sbt's unmanagedBase")
    return Path(m.group(1))


def sources():
    program = ROOT / "src" / "main" / "scala"
    harness = ROOT / "perfbench" / "src"
    if not program.is_dir():
        raise BuildError(f"program sources not found at {program}")
    if not spark_jars().is_dir():
        raise BuildError(f"Spark jars not found at {spark_jars()}")
    files = sorted(program.rglob("*.scala")) + sorted(harness.rglob("*.scala"))
    if not files:
        raise BuildError("no Scala sources to compile")
    return files


def stamp(files):
    h = hashlib.sha256()
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def classpath():
    return f"{spark_jars()}/*"


def build():
    """Compile if the sources changed since the last build; return the
    classes directory."""
    files = sources()
    want = stamp(files)
    BUILD.mkdir(parents=True, exist_ok=True)
    classes = BUILD / "classes"
    with open(BUILD / "lock", "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        stamp_file = BUILD / "stamp"
        if classes.is_dir() and stamp_file.exists() and stamp_file.read_text() == want:
            return classes
        tmp = BUILD / "classes.tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        tmp.mkdir()
        argfile = BUILD / "sources.txt"
        argfile.write_text("\n".join(str(f) for f in files) + "\n")
        cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", classpath(), "scala.tools.nsc.Main",
               "-nowarn", "-d", str(tmp), "-classpath", classpath(), f"@{argfile}"]
        r = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
        if r.returncode != 0:
            shutil.rmtree(tmp, ignore_errors=True)
            raise BuildError("compilation failed:\n" + (r.stdout + r.stderr)[-4000:])
        shutil.rmtree(classes, ignore_errors=True)
        tmp.rename(classes)
        stamp_file.write_text(want)
        return classes


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        print(f"build failed: {e}", file=sys.stderr)
        sys.exit(2)
