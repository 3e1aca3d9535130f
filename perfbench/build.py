#!/usr/bin/env python3
"""Build file of the benchmark package: compiles the library sources
(src/main/scala) together with the benchmark's own sources (perfbench/src)
with the Scala compiler that ships in Spark's jar directory (the one
build.sbt compiles against, or $SPARK_HOME/jars), into
<build dir>/perfbench/classes. A stamp holding the hash of every source
skips the compile when nothing changed.

Usage: python3 perfbench/build.py            (from the repository root)
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
LIB_SRC = ROOT / "src" / "main" / "scala"
BENCH_SRC = BENCH / "src"


def build_dir():
    return ROOT / os.environ.get("CARGO_TARGET_DIR", ".bench_build") / "perfbench"


def spark_jars():
    """Spark's jars: $SPARK_HOME/jars, else the `unmanagedBase` the repository's
    build.sbt compiles against."""
    if "SPARK_HOME" in os.environ:
        jars = Path(os.environ["SPARK_HOME"]) / "jars"
    else:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', (ROOT / "build.sbt").read_text())
        if not m:
            raise SystemExit("build: set SPARK_HOME (build.sbt names no unmanagedBase)")
        jars = Path(m.group(1))
    found = sorted(jars.glob("*.jar"))
    if not found:
        raise SystemExit(f"build: no Spark jars under {jars}")
    return found


def sources():
    return sorted(LIB_SRC.rglob("*.scala")) + sorted(BENCH_SRC.rglob("*.scala"))


def digest(files):
    h = hashlib.sha256()
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def build():
    """Compile if needed; returns the classes directory."""
    if not LIB_SRC.is_dir():
        raise SystemExit(f"build: library sources not found at {LIB_SRC}")
    srcs = sources()
    out = build_dir() / "classes"
    stamp = build_dir() / "classes.stamp"
    want = digest(srcs)
    if stamp.exists() and stamp.read_text() == want and out.is_dir():
        return out
    shutil.rmtree(out, ignore_errors=True)
    out.mkdir(parents=True)
    cp = os.pathsep.join(str(j) for j in spark_jars())
    args_file = build_dir() / "scalac.args"
    args_file.write_text("\n".join(str(s) for s in srcs) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main",
           "-nowarn", "-d", str(out), "-classpath", cp, f"@{args_file}"]
    print(f"build: compiling {len(srcs)} sources", file=sys.stderr)
    rc = subprocess.run(cmd, stdout=sys.stderr).returncode
    if rc != 0:
        shutil.rmtree(out, ignore_errors=True)
        raise SystemExit(f"build: scalac failed with exit code {rc}")
    stamp.write_text(want)
    return out


if __name__ == "__main__":
    print(build())
