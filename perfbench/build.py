#!/usr/bin/env python3
"""Build file of the benchmark: compiles the library (src/main/scala) and the
benchmark harness (perfbench/src) with the Scala compiler that ships in the
Spark distribution, against the Spark jars, into one classes directory.

The classes are packed into one jar, and a training run records the classes
the workloads load into a class-data archive that speeds up every run's JVM
start. The output lives under $CARGO_TARGET_DIR (default .bench_build) at the
root of the checkout, and is rebuilt only when a source file changes.

Usage: python3 perfbench/build.py   (from the root of the checkout)
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys
import zipfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def spark_jars():
    """$SPARK_HOME/jars, else the jar directory build.sbt compiles against."""
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    with open(os.path.join(ROOT, "build.sbt")) as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    if not m:
        raise SystemExit("perfbench build: set SPARK_HOME; build.sbt names no unmanagedBase")
    return m.group(1)


def sources():
    out = []
    for base in ("src/main/scala", "perfbench/src"):
        for d, _, fs in os.walk(os.path.join(ROOT, base)):
            out += [os.path.join(d, f) for f in fs if f.endswith(".scala")]
    return sorted(out)


def build():
    """Return the benchmark jar, compiling first if the sources changed."""
    target = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    classes = os.path.join(target, "perfbench-classes")
    jar = os.path.join(target, "perfbench.jar")
    stamp = os.path.join(target, "perfbench-stamp")
    srcs = sources()
    if not any(s.startswith(os.path.join(ROOT, "src", "")) for s in srcs):
        raise SystemExit("perfbench build: no library sources under src/main/scala")
    h = hashlib.sha256()
    for s in srcs + [os.path.abspath(__file__)]:
        h.update(os.path.relpath(s, ROOT).encode())
        with open(s, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    digest = h.hexdigest()
    if os.path.exists(stamp) and open(stamp).read() == digest:
        return jar
    for old in (stamp, jar, os.path.join(target, "perfbench.jsa")):
        if os.path.exists(old):
            os.remove(old)
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    argfile = os.path.join(target, "perfbench-sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    cp = os.path.join(spark_jars(), "*")
    r = subprocess.run(["java", "-Xmx2g", "-Xss8m", "-cp", cp, "scala.tools.nsc.Main",
                        "-nowarn", "-classpath", cp, "-d", classes, "@" + argfile],
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-8000:])
        raise SystemExit("perfbench build: scalac failed")
    res = os.path.join(ROOT, "src/main/resources")
    if os.path.isdir(res):
        shutil.copytree(res, classes, dirs_exist_ok=True)
    with zipfile.ZipFile(jar, "w", zipfile.ZIP_DEFLATED) as z:
        for d, _, fs in os.walk(classes):
            for f in sorted(fs):
                p = os.path.join(d, f)
                z.write(p, os.path.relpath(p, classes))
    train(target, jar)
    with open(stamp, "w") as f:
        f.write(digest)
    return jar


def classpath(jar):
    return jar + os.pathsep + os.path.join(spark_jars(), "*")


def train(target, jar):
    """Record the classes one set-up of every workload loads into a class-data
    archive (AppCDS): every run then starts its JVM from it, which takes
    several seconds off each run's start. A run without the archive is
    slower but correct, so a failed training only costs time."""
    import gen
    archive = os.path.join(target, "perfbench.jsa")
    work = os.path.join(target, "perfbench-train")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    inputs = os.path.join(work, "inputs")
    gen.gen_catalog(os.path.join(inputs, "catalog"))
    gen.gen_vcut(os.path.join(inputs, "vcut"), 0)
    gen.gen_warehouse(os.path.join(inputs, "warehouse"), 0)
    subprocess.run(jvm_args(jar, work, [f"-XX:ArchiveClassesAtExit={archive}"])
                   + ["--workload", "train", "--inputs", inputs, "--work", work,
                      "--seconds", "0", "--trace", "0", "--seed", "0"],
                   cwd=work, stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL)
    shutil.rmtree(work, ignore_errors=True)


OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
         "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
         "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]
XMX = "2g"


def jvm_args(jar, work, extra=()):
    """The benchmark JVM's command line up to the main class."""
    archive = os.path.join(os.path.dirname(jar), "perfbench.jsa")
    cds = [f"-XX:SharedArchiveFile={archive}", "-Xlog:cds=off", "-Xlog:cds+dynamic=off"] \
        if os.path.exists(archive) and not extra else []
    return (["java"] + [x for p in OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
            + [f"-Xmx{XMX}", "-XX:+UseParallelGC", "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
               "-Dspark.ui.enabled=false"] + cds + list(extra)
            + ["-cp", classpath(jar), "perfbench.Main"])


if __name__ == "__main__":
    print(build())
