#!/usr/bin/env python3
"""Build file of the benchmark: compile the engine and the harness.

Usage: python3 perfbench/build.py

Compiles the repository's engine sources (src/main/scala) together with
the harness (perfbench/src) into .bench_build/perfbench/classes, against
the Spark jar directory build.sbt names as `unmanagedBase`, with the Scala
compiler that ships among those jars.
A build whose sources, and this file, are unchanged since the last one is
skipped.
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
OUT = ROOT / ".bench_build" / "perfbench"
CLASSES = OUT / "classes"
SOURCE_DIRS = [ROOT / "src" / "main" / "scala", ROOT / "perfbench" / "src"]
RESOURCES = ROOT / "src" / "main" / "resources"
SCALA = "2.13.17"


class BuildError(Exception):
    pass


def jars():
    m = re.search(r'unmanagedBase := file\("([^"]+)"\)', (ROOT / "build.sbt").read_text())
    if not m:
        raise BuildError("build.sbt names no unmanagedBase")
    d = Path(m.group(1))
    found = sorted(d.glob("*.jar"))
    if not found:
        raise BuildError(f"no Spark jars in {d}")
    return found


def classpath():
    return os.pathsep.join(map(str, [CLASSES, RESOURCES] + jars()))


def sources():
    missing = [d for d in SOURCE_DIRS + [RESOURCES] if not d.is_dir()]
    if missing:
        raise BuildError("missing source directories: "
                         + ", ".join(str(m.relative_to(ROOT)) for m in missing))
    return sorted(p for d in SOURCE_DIRS for p in d.rglob("*.scala"))


def digest(files):
    h = hashlib.sha256(Path(__file__).read_bytes())
    for f in files + sorted(RESOURCES.rglob("*")):
        if f.is_file():
            h.update(str(f.relative_to(ROOT)).encode())
            h.update(f.read_bytes())
    return h.hexdigest()


def build():
    """Compile if needed; return the runtime classpath."""
    files = sources()
    stamp = OUT / "build.stamp"
    want = digest(files)
    if stamp.exists() and stamp.read_text() == want and CLASSES.is_dir():
        return classpath()
    shutil.rmtree(CLASSES, ignore_errors=True)
    CLASSES.mkdir(parents=True)
    all_jars = jars()
    compiler = [j for j in all_jars if j.name in (
        f"scala-compiler-{SCALA}.jar", f"scala-library-{SCALA}.jar",
        f"scala-reflect-{SCALA}.jar")]
    if len(compiler) != 3:
        raise BuildError(f"Scala {SCALA} compiler jars not found among Spark's jars")
    argfile = OUT / "sources.txt"
    argfile.write_text("\n".join(map(str, files)) + "\n")
    cmd = ["java", "-XX:-UsePerfData", f"-Djava.io.tmpdir={OUT}", "-Xmx2g", "-Xss8m",
           "-cp", os.pathsep.join(map(str, compiler)), "scala.tools.nsc.Main",
           "-nowarn", "-classpath", os.pathsep.join(map(str, all_jars)),
           "-d", str(CLASSES), f"@{argfile}"]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True)
    if r.returncode != 0:
        raise BuildError("scalac failed:\n" + r.stdout[-4000:])
    stamp.write_text(want)
    return classpath()


if __name__ == "__main__":
    try:
        build()
    except BuildError as e:
        print(f"build failed: {e}", file=sys.stderr)
        sys.exit(2)
    print(f"built {CLASSES}")
