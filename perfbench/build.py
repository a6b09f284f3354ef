"""Build file of the benchmark: compiles the engine and the harness.

The engine's sources (`src/main/scala`) and the harness (`perfbench/scala`)
are compiled together with the Scala compiler that ships in the Spark
distribution's jar directory, into `<build dir>/classes`. A digest of every
source file is stored next to the classes, so an unchanged tree is not
compiled again.

    python3 perfbench/build.py [build dir]
"""

import glob
import hashlib
import os
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def spark_jars():
    """The jar directory of the Spark distribution: $SPARK_HOME, else the
    first `spark-submit` on PATH that belongs to a distribution with jars."""
    homes = [os.environ.get("SPARK_HOME", "")] + [
        os.path.dirname(os.path.dirname(os.path.realpath(os.path.join(d, "spark-submit"))))
        for d in os.environ.get("PATH", "").split(os.pathsep)
        if os.path.isfile(os.path.join(d, "spark-submit"))]
    for home in filter(None, homes):
        jars = os.path.join(home, "jars")
        if glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
            return jars
    raise SystemExit("no Spark distribution with a Scala compiler found: set SPARK_HOME")


def sources():
    engine = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"), recursive=True))
    if not engine:
        raise SystemExit("engine sources (src/main/scala) not found: run from a full checkout")
    return engine + sorted(glob.glob(os.path.join(ROOT, "perfbench/scala/*.scala")))


def digest(paths):
    h = hashlib.sha1()
    for p in paths:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as fh:
            h.update(hashlib.sha1(fh.read()).digest())
    return h.hexdigest()


def build(build_dir):
    """Compile if needed; returns (classes dir, source digest)."""
    srcs = sources()
    jars = spark_jars()
    stamp = digest(srcs)
    classes = os.path.join(build_dir, "classes")
    stamp_file = os.path.join(build_dir, "classes.sha1")
    if os.path.isdir(classes) and os.path.exists(stamp_file):
        with open(stamp_file) as fh:
            if fh.read().strip() == stamp:
                return classes, stamp
    tmp = f"{classes}.tmp-{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(build_dir, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(srcs) + "\n")
    cp = os.path.join(jars, "*")
    subprocess.run(["java", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main",
                    "-nowarn", "-d", tmp, "-cp", cp, "@" + argfile], check=True)
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    with open(stamp_file, "w") as fh:
        fh.write(stamp + "\n")
    return classes, stamp


if __name__ == "__main__":
    out = sys.argv[1] if len(sys.argv) > 1 else os.path.join(ROOT, ".bench_build")
    os.makedirs(out, exist_ok=True)
    print(build(os.path.abspath(out))[0])
