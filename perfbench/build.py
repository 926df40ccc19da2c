"""Build file of the benchmark: compiles the engine's sources together with
the benchmark's own Scala sources, and archives their loaded classes.

The Scala compiler and Spark ship as jars in Spark's jar directory (the
engine's build uses it as its unmanaged classpath), so the build is a
single scalac invocation; nothing is resolved or downloaded. The classes go
into one jar, and a short run on a tiny input (`perfbench.Main
workload=prime`) dumps a class-data-sharing archive of every class the
workloads load: each run's JVM then maps them instead of loading ~20,000
classes from jars, which takes several seconds off every start. The output
is reused while no source file changes (a content hash is kept beside it).
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys
import zipfile

BENCH_SRC = "perfbench/src/main/scala"
ENGINE_SRC = "src/main/scala"
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")]


def spark_jars():
    """Spark's jar directory: under $SPARK_HOME, or beside the
    `spark-submit` on the PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(
            os.path.realpath(shutil.which("spark-submit"))))
    if not home or not os.path.isdir(f"{home}/jars"):
        raise FileNotFoundError("no Spark installation: set SPARK_HOME")
    return f"{home}/jars"


def heap_size():
    """The engine's test-suite sizing: half of RAM, clamped to 2..8 GB."""
    try:
        with open("/proc/meminfo") as fh:
            kb = next(int(l.split()[1]) for l in fh if l.startswith("MemTotal:"))
        return f"{min(8, max(2, kb // 2097152))}g"
    except (OSError, StopIteration):
        return "2g"


def java(root, run, sharing):
    """The JVM command line up to the main class. A fixed heap and young
    generation, and old-generation collection from 10% occupancy, keep the
    resident set from depending on when the collector chose to grow the
    heap or reclaim promoted garbage."""
    heap = heap_size()
    out = f"{root}/.bench_build"
    return (["java", f"-Xms{heap}", f"-Xmx{heap}", "-Xmn1g",
             "-XX:InitiatingHeapOccupancyPercent=10", "-XX:-G1UseAdaptiveIHOP",
             f"-XX:{sharing}={out}/classes.jsa",
             f"-Djava.io.tmpdir={run}/tmp", f"-Dspark.local.dir={run}/local",
             f"-Dspark.sql.warehouse.dir={run}/warehouse",
             f"-Dderby.system.home={run}", "-Dspark.ui.enabled=false",
             "-Dspark.sql.session.timeZone=UTC",
             "-Dspark.sql.streaming.numRecentProgressUpdates=100000"] +
            ADD_OPENS + ["-cp", f"{out}/perfbench.jar:{spark_jars()}/*",
                         "perfbench.Main"])


def sources(root):
    return sorted(glob.glob(f"{root}/{ENGINE_SRC}/**/*.scala", recursive=True) +
                  glob.glob(f"{root}/{BENCH_SRC}/**/*.scala", recursive=True))


def build(root):
    """Compile and prime if needed. Raises on a missing engine source tree,
    a compile error or a failed priming run."""
    if not glob.glob(f"{root}/{ENGINE_SRC}/graft/*.scala"):
        raise FileNotFoundError(
            f"engine sources not found under {root}/{ENGINE_SRC}: run the "
            "benchmark from the root of a checkout of the repository")
    files = sources(root)
    h = hashlib.sha256()
    for f in files + [os.path.abspath(__file__)]:
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    out = f"{root}/.bench_build"
    stamp = f"{out}/stamp"
    if os.path.exists(stamp) and open(stamp).read() == h.hexdigest():
        return
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(f"{out}/classes")
    with open(f"{out}/sources.txt", "w") as fh:
        fh.write("\n".join(files))
    subprocess.run(["java", "-Xss8m", "-Xmx2g", "-cp", f"{spark_jars()}/*",
                    "scala.tools.nsc.Main", "-usejavacp", "-nowarn",
                    "-d", f"{out}/classes", f"@{out}/sources.txt"],
                   check=True, stdout=sys.stderr)
    with zipfile.ZipFile(f"{out}/perfbench.jar", "w") as jar:
        for f in glob.glob(f"{out}/classes/**/*.class", recursive=True):
            jar.write(f, os.path.relpath(f, f"{out}/classes"))
    shutil.rmtree(f"{out}/classes")
    prime = f"{out}/prime"
    os.makedirs(f"{prime}/tmp")
    with open(f"{prime}/jvm.log", "w") as log:
        subprocess.run(java(root, prime, "ArchiveClassesAtExit") +
                       ["workload=prime", f"data={prime}", f"run={prime}",
                        "seconds=0", "trace=0"],
                       cwd=prime, check=True, stdout=log, stderr=log,
                       timeout=600)
    shutil.rmtree(prime)
    with open(stamp, "w") as fh:
        fh.write(h.hexdigest())


if __name__ == "__main__":
    build(os.getcwd())
