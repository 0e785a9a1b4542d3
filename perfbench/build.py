#!/usr/bin/env python3
"""Build file of the benchmark: compiles the library sources
(src/main/scala) together with the benchmark sources (perfbench/src)
with the Scala compiler that ships in the Spark distribution, into
<build dir>/perfbench.jar. No sbt, no dependency resolution: the
classpath is the Spark jar directory alone, exactly what build.sbt
compiles against. The classes go into a jar, not a directory, because
the JVM's class-data archive (see run.py) takes classes from jars only.

The build is keyed on a digest of every source file, so an unchanged
checkout reuses its classes and a changed one rebuilds from scratch.

    python3 perfbench/build.py            # build if stale, print classpath
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys
import zipfile
from pathlib import Path

LIB_SRC = Path("src/main/scala")
BENCH_SRC = Path(__file__).resolve().parent / "src"


class BuildError(Exception):
    pass


def build_dir():
    return Path(os.environ.get("CARGO_TARGET_DIR") or ".bench_build").resolve()


def spark_jar_dir():
    """$SPARK_HOME/jars, else the jar directory build.sbt compiles against."""
    if os.environ.get("SPARK_HOME"):
        return Path(os.environ["SPARK_HOME"]) / "jars"
    sbt = Path("build.sbt")
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', sbt.read_text()) if sbt.is_file() else None
    if not m:
        raise BuildError("set SPARK_HOME: no unmanagedBase in build.sbt")
    return Path(m.group(1))


def spark_jars():
    jars = sorted(spark_jar_dir().glob("*.jar"))
    if not jars:
        raise BuildError(f"no Spark jars under {spark_jar_dir()}")
    return jars


def sources():
    if not LIB_SRC.is_dir():
        raise BuildError(f"{LIB_SRC} not found: run from the repository root")
    lib = sorted(LIB_SRC.rglob("*.scala"))
    bench = sorted(BENCH_SRC.rglob("*.scala"))
    if not lib or not bench:
        raise BuildError("no Scala sources to build")
    return lib + bench


def digest(files, jars):
    h = hashlib.sha256()
    for f in files:
        h.update(str(f).encode())
        h.update(f.read_bytes())
    for j in jars:
        h.update(j.name.encode())
    return h.hexdigest()


def compiler_cp(jars):
    want = ("scala-compiler-", "scala-library-", "scala-reflect-")
    picked = [j for j in jars if j.name.startswith(want)]
    if len(picked) != 3:
        raise BuildError("Scala compiler jars missing from the Spark distribution")
    return os.pathsep.join(map(str, picked))


def ensure_built(log=sys.stderr):
    """Return the runtime classpath, compiling first when stale."""
    files = sources()
    jars = spark_jars()
    out = build_dir()
    jar = out / "perfbench.jar"
    stamp = out / "perfbench.jar.stamp"
    key = digest(files, jars)
    if not (jar.is_file() and stamp.is_file() and stamp.read_text() == key):
        print(f"[build] compiling {len(files)} sources into {jar}", file=log)
        tmp = out / f"classes.tmp.{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        tmp.mkdir(parents=True)
        cmd = ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData",
               "-cp", compiler_cp(jars), "scala.tools.nsc.Main",
               "-nowarn", "-d", str(tmp),
               "-classpath", os.pathsep.join(map(str, jars))] + [str(f) for f in files]
        r = subprocess.run(cmd, stdout=log, stderr=log)
        if r.returncode != 0:
            shutil.rmtree(tmp, ignore_errors=True)
            raise BuildError(f"scalac failed with exit code {r.returncode}")
        stamp.unlink(missing_ok=True)
        write_jar(tmp, jar)
        shutil.rmtree(tmp, ignore_errors=True)
        stamp.write_text(key)
    return os.pathsep.join([str(jar), str(spark_jar_dir() / "*")])


def write_jar(classes, jar):
    part = jar.with_name(f"{jar.name}.tmp.{os.getpid()}")
    with zipfile.ZipFile(part, "w", zipfile.ZIP_STORED) as z:
        for f in sorted(classes.rglob("*")):
            if f.is_file():
                z.write(f, f.relative_to(classes).as_posix())
    part.replace(jar)


if __name__ == "__main__":
    try:
        print(ensure_built())
    except BuildError as e:
        print(f"[build] {e}", file=sys.stderr)
        sys.exit(2)
