#!/usr/bin/env python3
"""Build file of the benchmark: compiles the engine (src/main/scala) and the
benchmark (perfbench/src) with the Scala compiler that ships in the Spark jar
directory, packs the classes into <build dir>/perfbench.jar, and records a
class-data-sharing archive of the classes a short ingest run loads, so each
benchmark JVM starts without re-reading them from the jars. Skips all of it
when no source changed.

    python3 perfbench/build.py        # prints the classpath

The build dir is $CARGO_TARGET_DIR if set, else .bench_build, relative to the
repository root. The Spark jar directory is the one the root build.sbt names
(`unmanagedBase`), else $SPARK_HOME/jars.
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
BENCH_SRC = os.path.join(HERE, "src")


ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]
JVM_OPTS = ["-Xms2g", "-Xmx2g",
            *[x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")],
            f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}"]


class BuildError(Exception):
    pass


def build_dir():
    return os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))


def spark_jars():
    sbt = os.path.join(ROOT, "build.sbt")
    if os.path.exists(sbt):
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read())
        if m and os.path.isdir(m.group(1)):
            return m.group(1)
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    raise BuildError("no Spark jar directory (build.sbt unmanagedBase or SPARK_HOME)")


def sources():
    if not os.path.isdir(ENGINE_SRC):
        raise BuildError(f"engine sources missing: {ENGINE_SRC}")
    files = []
    for d in (ENGINE_SRC, BENCH_SRC):
        files += glob.glob(os.path.join(d, "**", "*.scala"), recursive=True)
    return sorted(files)


def java_env(work):
    """Environment of a benchmark JVM: Spark's scratch space under `work`."""
    return dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))


def java_cmd(opts, classpath, args, work):
    """The command that runs perfbench.Main with its temporary files under `work`."""
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    return ["java", *JVM_OPTS, *opts, f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            "-cp", classpath, "perfbench.Main", *args]


def build():
    """Builds if needed; returns (classpath, JVM options, built_now)."""
    jars = spark_jars()
    srcs = sources()
    h = hashlib.sha256(" ".join([jars, *JVM_OPTS]).encode())
    for f in srcs:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = h.hexdigest()
    d = build_dir()
    classes, jar, archive = (os.path.join(d, x) for x in ("classes", "perfbench.jar", "classes.jsa"))
    stamp_file = os.path.join(d, "build.stamp")
    classpath = jar + os.pathsep + os.path.join(jars, "*")
    opts = [f"-XX:SharedArchiveFile={archive}"]
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return classpath, opts, False
    shutil.rmtree(classes, ignore_errors=True)
    for f in (stamp_file, jar, archive):
        if os.path.exists(f):
            os.remove(f)
    os.makedirs(classes)
    argfile = os.path.join(d, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(srcs))
    steps = [
        ["java", "-Xmx2g", "-Xss8m", "-cp", os.path.join(jars, "*"), "scala.tools.nsc.Main",
         "-nowarn", "-d", classes, "-classpath", os.path.join(jars, "*"), "@" + argfile],
        ["jar", "cf", jar, "-C", classes, "."],
    ]
    for cmd in steps:
        if subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr).returncode != 0:
            raise BuildError(f"{cmd[0]} failed")
    work = os.path.join(d, "work", "archive")
    log = os.path.join(d, "archive.log")
    try:
        cmd = java_cmd([f"-XX:ArchiveClassesAtExit={archive}"], classpath,
                       ["ingest", "0", "0", "0", work, work], work)
        with open(log, "w") as fh:
            if subprocess.run(cmd, stdout=fh, stderr=fh, env=java_env(work)).returncode != 0:
                raise BuildError(f"class archive run failed, see {log}")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return classpath, opts, True


if __name__ == "__main__":
    try:
        print(build()[0])
    except BuildError as e:
        sys.exit(f"build failed: {e}")
