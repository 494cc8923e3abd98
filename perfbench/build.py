#!/usr/bin/env python3
"""Build file of the benchmark harness.

Compiles the program's sources (`src/main/scala`) together with the
harness (`perfbench/harness`) into `.bench_build/perfbench.jar`, with the
Scala compiler that ships in Spark's own jar directory (`$SPARK_HOME/jars`,
the same jars the program's sbt build compiles against). Then it dumps a
class-data-sharing archive of the classes a Spark session loads
(`.bench_build/perfbench.jsa`), so every benchmark JVM starts from the same
pre-parsed classes. A stamp over every source file's content skips both
steps when nothing changed.

Usage: build.py [<checkout root>]    (default: the current directory)
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys
import zipfile

BUILD_DIR = ".bench_build"
HEAP = "3g"
# Fixed JVM flags of every benchmark JVM (recorded in each run's stamp).
JVM_FLAGS = [f"-Xms{HEAP}", f"-Xmx{HEAP}", "-Xmn768m", "-XX:+UseG1GC", "-Xss4m", "-XX:-UsePerfData"]
# What the program's sbt build passes to every forked JVM (Spark on JDK 17).
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def spark_jars() -> str:
    home = os.environ.get("SPARK_HOME")
    if not home or not glob.glob(os.path.join(home, "jars", "scala-compiler-*.jar")):
        raise SystemExit("perfbench: SPARK_HOME must point at a Spark install whose jars/ "
                         "holds the Scala compiler")
    return os.path.join(home, "jars")


def sources(root: str) -> list:
    program = sorted(glob.glob(os.path.join(root, "src/main/scala/**/*.scala"), recursive=True))
    if not program:
        raise SystemExit(f"perfbench: no program sources under {root}/src/main/scala")
    harness = sorted(glob.glob(os.path.join(root, "perfbench/harness/*.scala")))
    return program + harness


def java(root: str, scratch: str, args: list, archive: str = "use") -> list:
    """The java command line of a benchmark JVM whose scratch space
    (java.io.tmpdir, Spark's warehouse dir) lives under `scratch`."""
    out = os.path.join(root, BUILD_DIR)
    share = {"use": [f"-XX:SharedArchiveFile={out}/perfbench.jsa"],
             "dump": [f"-XX:ArchiveClassesAtExit={out}/perfbench.jsa"]}[archive]
    return (["java"] + JVM_FLAGS + share + ADD_OPENS +
            [f"-Djava.io.tmpdir={scratch}/tmp", f"-Dspark.sql.warehouse.dir={scratch}/spark-warehouse",
             "-cp", f"{out}/perfbench.jar:{os.path.join(spark_jars(), '*')}"] + args)


def scratch_env(scratch: str) -> dict:
    """The environment of a benchmark JVM: graft's stage dir and Spark's
    local dir under `scratch`. A run reads and writes only inside its
    checkout, so this overrides graft's default local dir (/dev/shm when
    writable): the benchmark runs on whatever filesystem holds the
    checkout, and each run records it."""
    for sub in ("tmp", "stage", "local", "work"):
        os.makedirs(os.path.join(scratch, sub), exist_ok=True)
    return dict(os.environ, GRAFT_STAGE_DIR=os.path.join(scratch, "stage"),
                GRAFT_LOCAL_DIR=os.path.join(scratch, "local"))


def build(root: str) -> str:
    """Compile and dump the class archive if needed; returns the jar."""
    jars = spark_jars()
    srcs = sources(root)
    h = hashlib.sha256(" ".join(JVM_FLAGS).encode())
    for path in srcs + sorted(glob.glob(os.path.join(jars, "*.jar"))):
        h.update(path.encode())
        if path.endswith(".scala"):
            with open(path, "rb") as f:
                h.update(f.read())
    stamp = h.hexdigest()
    out = os.path.join(root, BUILD_DIR, "classes")
    jar = os.path.join(root, BUILD_DIR, "perfbench.jar")
    stamp_file = os.path.join(root, BUILD_DIR, "build.stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return jar
    if os.path.exists(stamp_file):
        os.remove(stamp_file)
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cp = os.path.join(jars, "*")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", cp, "scala.tools.nsc.Main",
           "-nowarn", "-d", tmp, "-classpath", cp] + srcs
    proc = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if proc.returncode != 0:
        sys.stderr.write(proc.stdout[-4000:])
        raise SystemExit("perfbench: compile failed")
    # Class-data sharing takes jars only.
    with zipfile.ZipFile(jar + ".tmp", "w", zipfile.ZIP_STORED) as z:
        for d, _, files in os.walk(tmp):
            for f in files:
                z.write(os.path.join(d, f), os.path.relpath(os.path.join(d, f), tmp))
    os.replace(jar + ".tmp", jar)
    shutil.rmtree(tmp, ignore_errors=True)
    scratch = os.path.join(root, BUILD_DIR, "cds_scratch")
    shutil.rmtree(scratch, ignore_errors=True)
    if os.path.exists(os.path.join(root, BUILD_DIR, "perfbench.jsa")):
        os.remove(os.path.join(root, BUILD_DIR, "perfbench.jsa"))
    try:
        proc = subprocess.run(java(root, scratch, ["perfbench.Main", "classes", f"{scratch}/work"],
                                   archive="dump"),
                              env=scratch_env(scratch), cwd=scratch, stdout=subprocess.PIPE,
                              stderr=subprocess.STDOUT, text=True, timeout=300)
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
    if proc.returncode != 0:
        sys.stderr.write(proc.stdout[-4000:])
        raise SystemExit("perfbench: class archive dump failed")
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return jar


if __name__ == "__main__":
    print(build(os.path.abspath(sys.argv[1] if len(sys.argv) > 1 else ".")))
