"""Build file of the benchmark package.

Compiles the program (src/main/scala of the checkout) together with the
benchmark's own JVM sources (perfbench/src) into one class directory, with
the Scala compiler that ships among the Spark jars. The output goes to
$CARGO_TARGET_DIR (default .bench_build) and is reused while a hash of every
source file is unchanged.

    python3 perfbench/build.py          # build if needed, print the classpath
"""

import glob
import hashlib
import os
import shutil
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))


def spark_jars():
    """The jars of the Spark installation: $SPARK_HOME/jars, or the one
    whose spark-submit is on PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if not submit:
            raise SystemExit("perfbench: set SPARK_HOME or put spark-submit on PATH")
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    return os.path.join(home, "jars")


def build_dir(root):
    d = os.environ.get("CARGO_TARGET_DIR", ".bench_build")
    return d if os.path.isabs(d) else os.path.join(root, d)


def sources(root):
    prog = sorted(glob.glob(os.path.join(root, "src/main/scala/**/*.scala"), recursive=True))
    own = sorted(glob.glob(os.path.join(BENCH, "src/**/*.scala"), recursive=True))
    return prog, own


def source_hash(root):
    """sha256 over every program and benchmark source and resource file."""
    prog, own = sources(root)
    res = sorted(glob.glob(os.path.join(root, "src/main/resources/**/*"), recursive=True))
    h = hashlib.sha256()
    for f in prog + own + [r for r in res if os.path.isfile(r)]:
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build(root, log=sys.stderr):
    """Compile if the sources changed; return the runtime classpath."""
    prog, own = sources(root)
    if not prog:
        raise SystemExit("perfbench: no program sources under src/main/scala")
    out = build_dir(root)
    classes = os.path.join(out, "classes")
    stamp_file = os.path.join(out, "build.stamp")
    stamp = source_hash(root)
    resources = os.path.join(root, "src/main/resources")
    jars = os.path.join(spark_jars(), "*")
    cp = [classes, resources, jars]
    if os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read().strip() == stamp:
                return cp
    if os.path.exists(classes):
        shutil.rmtree(classes)
    os.makedirs(classes)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", jars, "scala.tools.nsc.Main",
           "-nowarn", "-d", classes, "-classpath", jars] + prog + own
    print(f"perfbench: compiling {len(prog)} program and {len(own)} benchmark sources",
          file=log)
    r = subprocess.run(cmd, stdout=log, stderr=log, timeout=800)
    if r.returncode != 0:
        raise SystemExit(f"perfbench: compile failed ({r.returncode})")
    with open(stamp_file, "w") as f:
        f.write(stamp + "\n")
    return cp


if __name__ == "__main__":
    here = os.getcwd()
    print(os.pathsep.join(build(here)))
