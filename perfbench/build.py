"""Build file of the benchmark package: compiles the engine's sources
(`src/main/scala` of the repository) together with the benchmark harness
(`perfbench/src`) into `perfbench/target/classes` with the Scala compiler
that ships in Spark's jar directory. A stamp of every source file and jar
name skips the build when nothing changed.

    python3 perfbench/build.py          # build (or confirm up to date)
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TARGET = os.path.join(HERE, "target")
CLASSES = os.path.join(TARGET, "classes")
SOURCE_DIRS = (os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "src"))
RESOURCES = os.path.join(ROOT, "src", "main", "resources")


def spark_jars():
    """Spark's jar directory: $SPARK_HOME/jars, else the pyspark package's."""
    home = os.environ.get("SPARK_HOME")
    cands = [os.path.join(home, "jars")] if home else []
    try:
        import pyspark
        cands.append(os.path.join(os.path.dirname(pyspark.__file__), "jars"))
    except ImportError:
        pass
    for c in cands:
        if glob.glob(os.path.join(c, "spark-sql_*.jar")):
            return c
    raise SystemExit("perfbench: no Spark jars found (set SPARK_HOME)")


def sources():
    out = []
    for d in SOURCE_DIRS:
        for root, _, files in os.walk(d):
            out += [os.path.join(root, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def _stamp(srcs, jars):
    h = hashlib.sha256()
    for p in srcs:
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    h.update("\n".join(sorted(os.listdir(jars))).encode())
    return h.hexdigest()


def classpath():
    """Run-time classpath: compiled classes, engine resources, Spark."""
    return os.pathsep.join([CLASSES, RESOURCES, os.path.join(spark_jars(), "*")])


def ensure_built(log=sys.stderr):
    jars = spark_jars()
    srcs = sources()
    stamp = _stamp(srcs, jars)
    stamp_file = os.path.join(TARGET, "stamp")
    if os.path.isdir(CLASSES) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                return classpath()
    print(f"perfbench: compiling {len(srcs)} Scala sources", file=log, flush=True)
    tmp = os.path.join(TARGET, "classes.tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", tmp] + srcs
    proc = subprocess.run(cmd, stdout=log, stderr=log, timeout=800)
    if proc.returncode != 0:
        raise SystemExit(f"perfbench: compilation failed ({proc.returncode})")
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.rename(tmp, CLASSES)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return classpath()


if __name__ == "__main__":
    ensure_built()
