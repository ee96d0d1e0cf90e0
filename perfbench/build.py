"""Build file of the benchmark: compiles the program (`src/main/scala`)
together with the benchmark's own harness (`perfbench/scala`) into
`.bench_build/classes`, with the Scala compiler that ships in Spark's jar
directory, so building needs neither sbt nor a network. A stamp of the
source contents makes repeat builds of unchanged sources a no-op.
"""
import glob
import hashlib
import os
import shutil
import subprocess
import time

BUILD_DIR = ".bench_build"

# Matches build.sbt: Spark 4 on JDK 17 outside spark-submit needs these.
JDK17_ADD_OPENS = [
    f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
        "java.net", "java.nio", "java.util", "java.util.concurrent",
        "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
        "sun.security.action", "sun.util.calendar")]


def spark_jars():
    """Spark's jar directory: $SPARK_HOME/jars, or the one next to the
    spark-submit on PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit is None:
            raise RuntimeError("set SPARK_HOME or put spark-submit on PATH")
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    return os.path.join(home, "jars")


def sources(root):
    found = sorted(glob.glob(os.path.join(root, "src/main/scala/**/*.scala"),
                             recursive=True))
    found += sorted(glob.glob(os.path.join(root, "perfbench/scala/*.scala")))
    return found


def classpath(root):
    return os.path.join(root, BUILD_DIR, "classes") + os.pathsep + \
        os.path.join(spark_jars(), "*")


def build(root, log):
    """Compile if the sources changed since the last build; returns the
    compile time in seconds (0 when up to date)."""
    srcs = sources(root)
    h = hashlib.sha256()
    for s in srcs:
        h.update(s.encode())
        with open(s, "rb") as f:
            h.update(f.read())
    stamp_path = os.path.join(root, BUILD_DIR, "stamp")
    if os.path.exists(stamp_path):
        with open(stamp_path) as f:
            if f.read() == h.hexdigest():
                return 0.0
    out = os.path.join(root, BUILD_DIR, "classes")
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    jars = os.path.join(spark_jars(), "*")
    t0 = time.monotonic()
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", jars,
           "scala.tools.nsc.Main", "-nowarn", "-d", out, "-classpath", jars] + srcs
    subprocess.run(cmd, check=True, stdout=log, stderr=log)
    with open(stamp_path, "w") as f:
        f.write(h.hexdigest())
    return time.monotonic() - t0
