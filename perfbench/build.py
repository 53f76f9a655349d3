#!/usr/bin/env python3
"""Build file of the benchmark: compiles graft's sources (`src/main/scala`)
together with the benchmark's JVM side (`perfbench/scala`) into
`.bench_build/perfbench/classes` with the Scala compiler that ships in the
Spark jars.

    python3 perfbench/build.py

The build is skipped when a stamp of every source file, the compiler and the
JDK matches the last successful build. Run from the root of a checkout.
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys
import time
from pathlib import Path

SOURCE_DIRS = [Path("src/main/scala"), Path("perfbench/scala")]


class SetupError(Exception):
    pass


def repo_setting(pattern: str, what: str) -> Path:
    """A location the repo's build.sbt configures (the Spark jars, the
    default fixture), so that the benchmark uses the same ones."""
    sbt = Path("build.sbt")
    if not sbt.exists():
        raise SetupError("build.sbt not found: run from the root of a full checkout")
    m = re.search(pattern, sbt.read_text())
    if not m:
        raise SetupError(f"build.sbt names no {what}")
    return Path(m.group(1))


def spark_jars() -> Path:
    return repo_setting(r'unmanagedBase := file\("([^"]+)"\)', "Spark jar directory")


def compiler_jars():
    names = ["scala-compiler", "scala-library", "scala-reflect"]
    jars = []
    for n in names:
        found = sorted(spark_jars().glob(f"{n}-2.13.*.jar"))
        if not found:
            raise SetupError(f"no {n} jar in {spark_jars()}")
        jars.append(found[-1])
    return jars


def sources():
    files = []
    for d in SOURCE_DIRS:
        if not d.is_dir():
            raise SetupError(f"source directory {d} missing "
                             "(run from the root of a full checkout)")
        files += sorted(d.rglob("*.scala"))
    return files


def stamp(files, jars):
    h = hashlib.sha256()
    for f in files + jars:
        h.update(str(f).encode())
        h.update(f.read_bytes() if f.suffix == ".scala" else str(f.stat().st_size).encode())
    h.update(subprocess.run(["java", "-XX:-UsePerfData", "-version"],
                            capture_output=True, text=True).stderr.encode())
    return h.hexdigest()


def build(build_dir: Path):
    """-> (classes directory, stamp); compiles first if the classes are stale."""
    files, jars = sources(), compiler_jars()
    classes = build_dir / "classes"
    stamp_file = build_dir / "classes.stamp"
    want = stamp(files, jars)
    if classes.is_dir() and stamp_file.exists() and stamp_file.read_text() == want:
        return classes, want
    tmp = build_dir / "classes.tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    t0 = time.time()
    cmd = ["java", "-Xmx3g", "-Xss8m", "-XX:-UsePerfData", "-cp", os.pathsep.join(map(str, jars)),
           "scala.tools.nsc.Main", "-nowarn", "-deprecation:false",
           "-classpath", f"{spark_jars()}/*", "-d", str(tmp)] + [str(f) for f in files]
    r = subprocess.run(cmd, capture_output=True, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout + r.stderr)
        raise SetupError(f"scalac failed with code {r.returncode}")
    shutil.rmtree(classes, ignore_errors=True)
    tmp.rename(classes)
    stamp_file.write_text(want)
    print(f"[perfbench] compiled {len(files)} sources in {time.time() - t0:.1f}s", file=sys.stderr)
    return classes, want


if __name__ == "__main__":
    try:
        print(build(Path(".bench_build/perfbench"))[0])
    except SetupError as e:
        raise SystemExit(f"build: {e}")
