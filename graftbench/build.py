#!/usr/bin/env python3
"""Build file of the graft benchmark.

    python3 graftbench/build.py [BUILD_DIR]

1. Compiles graft's main sources together with the benchmark's own sources
   (graftbench/src) into one jar, with the Scala compiler that ships among
   the Spark jars that graft's own build uses.
2. Records a class-data-sharing archive of the classes one short
   benchmark run loads. Every run maps it instead of loading and verifying
   those classes again, which takes several seconds off each run's set-up;
   the JVM ignores an archive that does not match its class path.

BUILD_DIR defaults to $CARGO_TARGET_DIR or .bench_build under the checkout
root. A build is reused while a hash of every source file and of this
file is unchanged. Prints the jar's path.
"""
import fcntl
import hashlib
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
GRAFT_SRC = os.path.join(ROOT, "src", "main", "scala")
BENCH_SRC = os.path.join(HERE, "src")


def _spark_jars():
    """The Spark jars graft's own sbt build compiles against (its
    `unmanagedBase`), else $SPARK_HOME/jars."""
    try:
        with open(os.path.join(ROOT, "build.sbt")) as fh:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', fh.read())
        if m:
            return m.group(1)
    except OSError:
        pass
    return os.path.join(os.environ.get("SPARK_HOME", ""), "jars")


SPARK_JARS = _spark_jars()
CLASSPATH = SPARK_JARS + "/*"
HEAP = "2g"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]
SCALAC = ["java", "-Xss8m", "-Xmx2g", "-cp", CLASSPATH, "scala.tools.nsc.Main",
          "-classpath", CLASSPATH, "-nowarn", "-Ybackend-parallelism", "2"]


def build_dir():
    d = os.environ.get("CARGO_TARGET_DIR") or ".bench_build"
    return os.path.join(ROOT, d) if not os.path.isabs(d) else d


def sources():
    out = []
    for base in (GRAFT_SRC, BENCH_SRC):
        for dirpath, _, files in os.walk(base):
            out += [os.path.join(dirpath, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def missing_inputs():
    """What a build needs and cannot find, as a list of messages."""
    problems = []
    if not os.path.isdir(GRAFT_SRC):
        problems.append("graft sources not found at " + GRAFT_SRC)
    if not os.path.isdir(SPARK_JARS):
        problems.append("Spark jars not found at '%s'" % SPARK_JARS)
    return problems


def build(target=None):
    """Compile if the sources changed; return the path of the jar. Runs
    that start together wait for one build instead of racing it."""
    target = target or build_dir()
    os.makedirs(target, exist_ok=True)
    with open(os.path.join(target, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        return _build(target)


def _build(target):
    srcs = sources()
    h = hashlib.sha256()
    for f in [os.path.abspath(__file__)] + srcs:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = h.hexdigest()
    out = os.path.join(target, "graftbench")
    stamp_file = os.path.join(out, "BUILD_STAMP")
    jar = os.path.join(out, "graftbench.jar")
    if os.path.exists(stamp_file):
        with open(stamp_file) as fh:
            if fh.read() == stamp:
                return jar
    fresh = out + ".tmp"
    shutil.rmtree(fresh, ignore_errors=True)
    classes = os.path.join(fresh, "classes")
    os.makedirs(classes)
    argfile = os.path.join(fresh, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(srcs))
    print("[graftbench] compiling %d sources" % len(srcs), file=sys.stderr, flush=True)
    subprocess.run(SCALAC + ["-d", classes, "@" + argfile], check=True, stdout=sys.stderr)
    subprocess.run(["jar", "cf", os.path.join(fresh, "graftbench.jar"), "-C", classes, "."],
                   check=True, stdout=sys.stderr)
    shutil.rmtree(classes)
    shutil.rmtree(out, ignore_errors=True)
    os.rename(fresh, out)
    print("[graftbench] recording the class-data-sharing archive", file=sys.stderr, flush=True)
    scratch = os.path.join(out, "cds-run")
    os.makedirs(scratch)
    dump = java_command(jar, ["-XX:ArchiveClassesAtExit=" + archive(jar), "-Xlog:cds=off"]) + [
        "graftbench.Main", "--workload", "workbench", "--seed", "0", "--seconds", "1", "--trace", "0",
        "--warmup", "1", "--root", scratch, "--result", os.path.join(scratch, "result.json")]
    subprocess.run(dump, cwd=scratch, check=True, stdout=sys.stderr, timeout=600)
    shutil.rmtree(scratch)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return jar


def archive(jar):
    return os.path.join(os.path.dirname(jar), "classes.jsa")


def java_command(jar, extra=()):
    """The JVM command line every run uses, up to the main class."""
    jars = sorted(os.path.join(SPARK_JARS, j) for j in os.listdir(SPARK_JARS) if j.endswith(".jar"))
    cmd = ["java", "-Xms" + HEAP, "-Xmx" + HEAP, "-XX:+UseParallelGC", "-XX:ParallelGCThreads=2",
           "-Djdk.lang.Process.launchMechanism=FORK",
           "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties"),
           "-cp", os.pathsep.join([jar] + jars)] + list(extra)
    for m in ADD_OPENS:
        cmd += ["--add-opens", m + "=ALL-UNNAMED"]
    return cmd


if __name__ == "__main__":
    problems = missing_inputs()
    if problems:
        sys.exit("\n".join(problems))
    print(build(sys.argv[1] if len(sys.argv) > 1 else None))
