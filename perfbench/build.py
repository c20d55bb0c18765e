"""Build file of the benchmark: compiles the engine's sources together with
the harness under perfbench/src into perfbench/.build/classes, with the
Scala compiler that ships in the Spark distribution's jars.

The build is skipped when a stamp of every source file still matches.
Run from the repository root:  python3 perfbench/build.py
"""
import fcntl
import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(HERE, ".build")
CLASSES = os.path.join(BUILD, "classes")
ENGINE = os.path.join(ROOT, "src", "main", "scala")
RESOURCES = os.path.join(ROOT, "src", "main", "resources")


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home or "", "jars")
    if not glob.glob(os.path.join(jars, "spark-core_*.jar")):
        raise SystemExit("perfbench: no Spark distribution found (set SPARK_HOME)")
    return jars


def sources():
    files = []
    for base in (ENGINE, os.path.join(HERE, "src")):
        for d, _, names in os.walk(base):
            files += [os.path.join(d, n) for n in names if n.endswith(".scala")]
    return sorted(files)


def stamp(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def classpath():
    return os.pathsep.join([CLASSES, RESOURCES, os.path.join(spark_jars(), "*")])


def build(log=sys.stderr):
    """Compiles if needed; returns the source stamp."""
    if not os.path.isdir(ENGINE):
        raise SystemExit("perfbench: engine sources not found under src/main/scala")
    os.makedirs(BUILD, exist_ok=True)
    with open(os.path.join(BUILD, "lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        files = sources()
        want = stamp(files)
        stamp_file = os.path.join(BUILD, "stamp")
        if os.path.exists(stamp_file) and open(stamp_file).read() == want:
            return want
        shutil.rmtree(CLASSES, ignore_errors=True)
        os.makedirs(CLASSES)
        jars = os.path.join(spark_jars(), "*")
        print(f"perfbench: compiling {len(files)} sources", file=log, flush=True)
        subprocess.run(
            ["java", "-Xss8m", "-Xmx3g", "-XX:-UsePerfData", "-cp", jars, "scala.tools.nsc.Main",
             "-nowarn", "-d", CLASSES, "-cp", jars] + files,
            check=True, stdout=log, stderr=log)
        with open(stamp_file, "w") as f:
            f.write(want)
        return want


if __name__ == "__main__":
    print(build())
