#!/usr/bin/env python3
"""Build file of the benchmark.

Compiles graft (src/main/scala) and the benchmark harness (perfbench/src)
from source with the Scala compiler that ships in Spark's jars, packs the
classes and graft's resources into .bench_build/graftbench.jar, and records
a JVM class-data sharing archive (.bench_build/graftbench.jsa) from one
training run, which cuts the JVM's class-loading time in every later run.
A stamp over the sources skips all of this when nothing changed.

Usage, from the repository root:  python3 perfbench/build.py
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

OUT = ".bench_build"
JAR = os.path.join(OUT, "graftbench.jar")
CDS = os.path.join(OUT, "graftbench.jsa")
DATA = "perfbench/data/sf0.01"
EXPECTED = "perfbench/expected/catalog.json"
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def spark_jars():
    """Spark's jar directory: $SPARK_HOME/jars, else next to spark-submit on
    the PATH, else the `unmanagedBase` graft's own build.sbt compiles with."""
    candidates = []
    if os.environ.get("SPARK_HOME"):
        candidates.append(os.path.join(os.environ["SPARK_HOME"], "jars"))
    submit = shutil.which("spark-submit")
    if submit:
        candidates.append(os.path.join(os.path.dirname(os.path.dirname(os.path.realpath(submit))),
                                       "jars"))
    if os.path.exists("build.sbt"):
        with open("build.sbt") as f:
            candidates += re.findall(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    for c in candidates:
        if glob.glob(os.path.join(c, "spark-sql_*.jar")):
            return c
    raise SystemExit("build: cannot find Spark's jars")


def classpath():
    return JAR + ":" + os.path.join(spark_jars(), "*")


def jvm_flags(scratch, workload=None):
    """Flags of every benchmark JVM; `scratch` receives its temporary files."""
    flags = [a for p in ADD_OPENS for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    # a fixed heap and young generation keep peak RSS from following the
    # collector's resizing decisions
    # no hsperfdata file in the system temp directory
    flags += ["-XX:-UsePerfData", "-Xms4g", "-Xmx4g", "-Xmn1g", f"-Djava.io.tmpdir={scratch}/tmp",
              "-Dlog4j2.configurationFile=" + os.path.abspath("perfbench/log4j2.properties")]
    # the catalog's live heap is small and its queries wait on one driver
    # thread: the throughput collector, whose pauses are short there and
    # which runs no concurrent threads beside it, made it faster and steadier
    # than G1; the streams keep G1 for their large window state
    if workload == "catalog":
        flags.append("-XX:+UseParallelGC")
    if os.path.exists(CDS):
        flags.append(f"-XX:SharedArchiveFile={CDS}")
    return flags


def sources():
    graft = sorted(glob.glob("src/main/scala/**/*.scala", recursive=True))
    bench = sorted(glob.glob("perfbench/src/**/*.scala", recursive=True))
    if not graft:
        raise SystemExit("build: no graft sources under src/main/scala")
    if not bench:
        raise SystemExit("build: no benchmark sources under perfbench/src")
    return graft + bench


def build():
    """Compile, pack and train when the sources changed."""
    srcs = sources()
    digest = hashlib.sha256()
    resources = sorted(glob.glob("src/main/resources/**/*", recursive=True))
    # this file too: its JVM flags shape the class-data sharing archive
    for s in srcs + resources + ["perfbench/build.py"]:
        if os.path.isfile(s):
            digest.update(s.encode())
            with open(s, "rb") as f:
                digest.update(f.read())
    stamp = os.path.join(OUT, "build.stamp")
    if os.path.exists(stamp) and open(stamp).read() == digest.hexdigest():
        return
    classes = os.path.join(OUT, "classes")
    for path in (classes, JAR, CDS, stamp):
        shutil.rmtree(path, ignore_errors=True) if os.path.isdir(path) else (
            os.path.exists(path) and os.remove(path))
    os.makedirs(classes)
    jars = os.path.join(spark_jars(), "*")
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx3g", "-cp", jars, "scala.tools.nsc.Main",
           "-nowarn",
           "-d", classes, "-classpath", jars] + srcs
    if subprocess.run(cmd, stdout=sys.stderr).returncode != 0:
        raise SystemExit("build: scalac failed")
    pack = ["jar", "-J-XX:-UsePerfData", "cf", JAR, "-C", classes, "."]
    if os.path.isdir("src/main/resources"):
        pack += ["-C", "src/main/resources", "."]
    if subprocess.run(pack, stdout=sys.stderr).returncode != 0:
        raise SystemExit("build: jar failed")
    train()
    with open(stamp, "w") as f:
        f.write(digest.hexdigest())


def train():
    """Record the class-data sharing archive. Without it runs are slower to
    start but otherwise the same, so a failure here only warns."""
    scratch = os.path.abspath(os.path.join(OUT, "train"))
    shutil.rmtree(scratch, ignore_errors=True)
    os.makedirs(os.path.join(scratch, "tmp"))
    cmd = (["java"] + jvm_flags(scratch) + [f"-XX:ArchiveClassesAtExit={CDS}",
           "-Xlog:cds=off", "-Xlog:cds+dynamic=off", "-cp", classpath(), "graftbench.Train",
           "--root", scratch, "--data", os.path.abspath(DATA),
           "--expected", os.path.abspath(EXPECTED), "--cpus", "2"])
    if subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr).returncode != 0 \
            or not os.path.exists(CDS):
        print("build: no class-data sharing archive; runs start slower", file=sys.stderr)
        if os.path.exists(CDS):
            os.remove(CDS)
    shutil.rmtree(scratch, ignore_errors=True)


if __name__ == "__main__":
    build()
