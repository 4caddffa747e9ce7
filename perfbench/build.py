"""Build file of the benchmark: compiles graft (src/main/scala) and the
benchmark's own sources (perfbench/src) with the Scala compiler that
ships in Spark's jar directory, into .bench_build/graftbench.jar.

It needs no build tool and writes nothing outside .bench_build.  A build
is skipped when the sources are unchanged since the last one.

Usage: python3 perfbench/build.py
"""

import glob
import hashlib
import os
import shutil
import subprocess
import sys
import zipfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BUILD = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(BUILD, "classes")
JAR = os.path.join(BUILD, "graftbench.jar")
STAMP = os.path.join(BUILD, "classes.stamp")
# class-data sharing archive of the JVM's loaded classes (run.py); it is
# only valid for the jar it was dumped against, so a build drops it
CDS = os.path.join(BUILD, "classes.jsa")
SOURCE_DIRS = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(ROOT, "perfbench", "src")]


def spark_jars():
    """Spark's jar directory: $SPARK_HOME/jars, else /opt/spark/jars, else
    pyspark's bundled jars."""
    cands = []
    if os.environ.get("SPARK_HOME"):
        cands.append(os.path.join(os.environ["SPARK_HOME"], "jars"))
    cands.append("/opt/spark/jars")
    try:
        import importlib.util
        spec = importlib.util.find_spec("pyspark")
        if spec and spec.origin:
            cands.append(os.path.join(os.path.dirname(spec.origin), "jars"))
    except ImportError:
        pass
    for c in cands:
        if glob.glob(os.path.join(c, "spark-sql_*.jar")) and glob.glob(
                os.path.join(c, "scala-compiler-*.jar")):
            return c
    sys.exit("build: no Spark jar directory with a Scala compiler found (set SPARK_HOME)")


def sources():
    out = []
    for d in SOURCE_DIRS:
        if not os.path.isdir(d):
            sys.exit("build: source directory missing: %s" % os.path.relpath(d, ROOT))
        for base, _, names in os.walk(d):
            out += [os.path.join(base, n) for n in names if n.endswith(".scala")]
    return sorted(out)


def digest(files, jars):
    h = hashlib.sha256(jars.encode())
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    jars = spark_jars()
    files = sources()
    want = digest(files, jars)
    if os.path.exists(STAMP) and open(STAMP).read() == want:
        return jars
    for stale in (CDS, CDS + ".tried", JAR):
        if os.path.exists(stale):
            os.remove(stale)
    if os.path.exists(CLASSES):
        shutil.rmtree(CLASSES)
    os.makedirs(CLASSES)
    cp = os.path.join(jars, "*")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main",
           "-nowarn", "-classpath", cp, "-d", CLASSES] + files
    print("build: compiling %d Scala files" % len(files), file=sys.stderr)
    res = subprocess.run(cmd, cwd=ROOT)
    if res.returncode != 0:
        sys.exit("build: compilation failed")
    # a jar, not a directory, so the JVM can archive these classes too
    with zipfile.ZipFile(JAR, "w") as z:
        for base, _, names in os.walk(CLASSES):
            for n in names:
                full = os.path.join(base, n)
                z.write(full, os.path.relpath(full, CLASSES))
    with open(STAMP, "w") as f:
        f.write(want)
    return jars


if __name__ == "__main__":
    print(build())
