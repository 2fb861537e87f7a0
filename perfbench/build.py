"""Build file of the benchmark: compiles graft (src/main/scala) together with
the benchmark's JVM harness (perfbench/scala) using the Scala compiler that
ships in the Spark distribution ($SPARK_HOME, or the one whose spark-submit
is on the PATH), so no dependency resolution is needed.

    python3 perfbench/build.py      # prints the classpath to run with

Classes go to .bench_build/classes; a digest of the sources decides whether
a rebuild is needed.
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BUILD = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(BUILD, "classes")
SOURCES = [os.path.join(ROOT, "src", "main", "scala"),
           os.path.join(ROOT, "perfbench", "scala")]


def spark_jars():
    """The jars of the Spark distribution at $SPARK_HOME, else of the first
    one whose bin/spark-submit is on the PATH."""
    homes = [os.environ.get("SPARK_HOME", "")] + [
        os.path.dirname(os.path.dirname(os.path.realpath(os.path.join(d, "spark-submit"))))
        for d in os.environ.get("PATH", "").split(os.pathsep)
        if os.path.isfile(os.path.join(d, "spark-submit"))]
    for home in filter(None, homes):
        jars = os.path.join(home, "jars")
        if glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
            return os.path.join(jars, "*")
    sys.exit("build: no Spark distribution with a Scala compiler; set SPARK_HOME")


def sources():
    if not os.path.isdir(SOURCES[0]):
        sys.exit(f"build: program sources not found at {SOURCES[0]}")
    files = sorted(f for d in SOURCES
                   for f in glob.glob(os.path.join(d, "**", "*.scala"), recursive=True))
    digest = hashlib.sha256()
    for f in files:
        digest.update(f.encode())
        with open(f, "rb") as fh:
            digest.update(fh.read())
    return files, digest.hexdigest()


def build():
    """Compile if the sources changed; return the runtime classpath."""
    jars = spark_jars()
    files, digest = sources()
    stamp = os.path.join(BUILD, "classes.sha256")
    if os.path.exists(stamp) and open(stamp).read() == digest:
        return f"{CLASSES}{os.pathsep}{jars}"
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.makedirs(CLASSES)
    argfile = os.path.join(BUILD, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(files))
    cmd = ["java", "-Xmx3g", "-Xss8m", "-XX:-UsePerfData", "-cp", jars, "scala.tools.nsc.Main",
           "-nowarn", "-classpath", jars, "-d", CLASSES, "@" + argfile]
    proc = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if proc.returncode != 0:
        sys.stderr.write(proc.stdout[-20000:])
        sys.exit("build: compilation failed")
    with open(stamp, "w") as f:
        f.write(digest)
    return f"{CLASSES}{os.pathsep}{jars}"


if __name__ == "__main__":
    print(build())
