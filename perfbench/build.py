#!/usr/bin/env python3
"""Build file of the benchmark: compiles the engine (src/main/scala) and the
benchmark driver (perfbench/src) with the Scala compiler that ships in the
Spark distribution ($SPARK_HOME/jars, else the jars directory build.sbt
uses), against the Spark jars, without sbt.

Output goes to $CARGO_TARGET_DIR (default .bench_build) under the checkout
root. A stamp of every source's path and content skips a compile when
nothing changed.

Usage: python3 perfbench/build.py
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys
import zipfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _spark_jars() -> str:
    """$SPARK_HOME/jars, else the jars directory build.sbt uses (its
    `unmanagedBase`)."""
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    try:
        with open(os.path.join(ROOT, "build.sbt")) as fh:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', fh.read())
        return m.group(1) if m else ""
    except OSError:
        return ""


SPARK_JARS = _spark_jars()


def build_dir() -> str:
    return os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))


def sources(rel: str) -> list:
    return sorted(glob.glob(os.path.join(ROOT, rel, "**", "*.scala"), recursive=True))


def classpath() -> str:
    """Runtime classpath: benchmark, engine, Spark. Jars, not class
    directories, so the JVM can map them from a class-data-sharing archive.
    """
    b = build_dir()
    return os.pathsep.join([os.path.join(b, "bench.jar"), os.path.join(b, "main.jar"),
                            os.path.join(SPARK_JARS, "*")])


def _jar(classes: str, jar: str) -> None:
    with zipfile.ZipFile(jar, "w", zipfile.ZIP_STORED) as z:
        for d, _, files in sorted(os.walk(classes)):
            for f in sorted(files):
                p = os.path.join(d, f)
                z.write(p, os.path.relpath(p, classes))


def _scalac(out: str, cp: str, files: list) -> None:
    shutil.rmtree(out, ignore_errors=True)  # no classes of deleted sources
    os.makedirs(out)
    cmd = ["java", "-Xss8m", "-Xmx3g", "-cp", os.path.join(SPARK_JARS, "*"),
           "scala.tools.nsc.Main", "-nowarn", "-d", out, "-classpath", cp] + files
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        raise RuntimeError(f"scalac failed ({r.returncode}) compiling into {out}")


def _stamp(files: list, salt: str = "") -> str:
    h = hashlib.sha256(salt.encode())
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build() -> str:
    """Compiles when a source changed; returns the runtime classpath."""
    main, bench = sources("src/main/scala"), sources("perfbench/src")
    if not main:
        raise RuntimeError(f"no engine sources under {ROOT}/src/main/scala")
    if not glob.glob(os.path.join(SPARK_JARS, "scala-compiler*.jar")):
        raise RuntimeError(f"no Scala compiler among the Spark jars in {SPARK_JARS}")
    b = build_dir()
    spark_cp = os.path.join(SPARK_JARS, "*")
    # the engine and the driver compile separately, each skipped when its
    # stamp matches; a new engine forces a new driver
    main_stamp = _stamp(main)
    for name, files, cp, stamp in (
            ("main", main, spark_cp, main_stamp),
            ("bench", bench, os.pathsep.join([os.path.join(b, "main"), spark_cp]),
             _stamp(bench, main_stamp))):
        path = os.path.join(b, name + ".stamp")
        if (os.path.exists(path) and open(path).read() == stamp
                and os.path.exists(os.path.join(b, name + ".jar"))):
            continue
        for stale in (path, archive()):
            if os.path.exists(stale):
                os.remove(stale)
        _scalac(os.path.join(b, name), cp, files)
        _jar(os.path.join(b, name), os.path.join(b, name + ".jar"))
        with open(path, "w") as fh:
            fh.write(stamp)
    return classpath()


def archive() -> str:
    """Path of the class-data-sharing archive of the current build."""
    return os.path.join(build_dir(), "classes.jsa")


if __name__ == "__main__":
    try:
        build()
    except RuntimeError as e:
        print(f"build: {e}", file=sys.stderr)
        sys.exit(1)
