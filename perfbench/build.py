"""Build file of the benchmark: compiles the engine's sources together with
the benchmark harness, using the Scala compiler that ships in Spark's jars.

    python3 perfbench/build.py        # from the repository root

Output goes to perfbench/_out/classes. A stamp holding a hash of every
source skips the compile when nothing changed.
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
OUT = os.path.join(ROOT, "perfbench", "_out")
CLASSES = os.path.join(OUT, "classes")
SOURCES = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(ROOT, "perfbench", "src")]


def spark_home():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        raise SystemExit("build: Spark not found (set SPARK_HOME)")
    return home


def classpath():
    return CLASSES + os.pathsep + os.path.join(spark_home(), "jars", "*")


def sources():
    files = sorted(f for d in SOURCES for f in glob.glob(os.path.join(d, "**", "*.scala"), recursive=True))
    if not any(f.startswith(SOURCES[0]) for f in files):
        raise SystemExit("build: engine sources not found under src/main/scala")
    return files


def ensure_built():
    files = sources()
    h = hashlib.md5()
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = os.path.join(OUT, "stamp")
    if os.path.exists(stamp) and open(stamp).read() == h.hexdigest():
        return
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.makedirs(CLASSES)
    cmd = ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", "-cp", os.path.join(spark_home(), "jars", "*"),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", CLASSES] + files
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        raise SystemExit("build: compile failed")
    with open(stamp, "w") as fh:
        fh.write(h.hexdigest())


if __name__ == "__main__":
    ensure_built()
