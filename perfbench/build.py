#!/usr/bin/env python3
"""Build file of the benchmark package.

Compiles the engine sources (src/main/scala) together with the harness
(perfbench/src) using the Scala 2.13 compiler that ships in the Spark
distribution's jars (the ones the sbt build compiles against), into
.bench_build/classes under the repository root.
A digest of every source file decides whether a rebuild is needed.

Usage (from the repository root): python3 perfbench/build.py
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent


def spark_jars():
    """The Spark distribution's jars: the directory the sbt build names as
    its unmanagedBase, else $SPARK_HOME/jars."""
    sbt = Path.cwd() / "build.sbt"
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)',
                  sbt.read_text() if sbt.exists() else "")
    jars_dir = m.group(1) if m else os.path.join(os.environ.get("SPARK_HOME", ""), "jars")
    jars = sorted(glob.glob(os.path.join(jars_dir, "*.jar")))
    if not jars:
        print("perfbench: no Spark jars found (set SPARK_HOME)", file=sys.stderr)
        sys.exit(2)
    return jars


def sources(root):
    engine = sorted((root / "src" / "main" / "scala").rglob("*.scala"))
    harness = sorted((HERE / "src").rglob("*.scala"))
    return engine, harness


def digest(root):
    engine, harness = sources(root)
    h = hashlib.sha256()
    for p in engine + harness:
        h.update(str(p.relative_to(root)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()[:16]


def commit(root):
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=root, capture_output=True,
                              text=True, timeout=10).stdout.strip() or "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def build(root):
    engine, harness = sources(root)
    if not engine:
        print("perfbench: no engine sources under src/main/scala", file=sys.stderr)
        sys.exit(2)
    out = root / ".bench_build" / "classes"
    stamp = out / ".digest"
    d = digest(root)
    if stamp.exists() and stamp.read_text() == d:
        return out
    shutil.rmtree(out, ignore_errors=True)
    out.mkdir(parents=True)
    cp = os.pathsep.join(spark_jars())
    argfile = root / ".bench_build" / "sources.txt"
    argfile.write_text("\n".join(str(p) for p in engine + harness) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx3g", "-cp", cp, "scala.tools.nsc.Main",
           "-nowarn", "-d", str(out), "-classpath", cp, f"@{argfile}"]
    r = subprocess.run(cmd, cwd=root, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-20000:])
        print("perfbench: build failed", file=sys.stderr)
        sys.exit(2)
    resources = root / "src" / "main" / "resources"
    if resources.is_dir():
        shutil.copytree(resources, out, dirs_exist_ok=True)
    stamp.write_text(d)
    return out


if __name__ == "__main__":
    print(build(Path.cwd()))
