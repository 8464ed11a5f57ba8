"""Build of the benchmark: compiles the engine (src/main/scala) and the
benchmark's JVM side (perfbench/scala) with the Scala 2.13 compiler that
ships in the Spark distribution, into .bench_build/classes.

A stamp of every source file's path and content skips the compile when
nothing changed. Run it alone with `python3 perfbench/build.py`.
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

BUILD_DIR = os.environ.get("CARGO_TARGET_DIR") or ".bench_build"
HERE = os.path.dirname(os.path.abspath(__file__))


def sources(root):
    main = sorted(glob.glob(os.path.join(root, "src", "main", "scala", "**",
                                         "*.scala"), recursive=True))
    own = sorted(glob.glob(os.path.join(HERE, "scala", "*.scala")))
    return main, own


def spark_jars(root="."):
    """The Spark jars directory: $SPARK_HOME/jars when set, else the one
    the project's build.sbt compiles against (its unmanagedBase)."""
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    with open(os.path.join(root, "build.sbt")) as f:
        m = re.search(r'unmanagedBase := file\("([^"]+)"\)', f.read())
    if not m:
        raise SystemExit("no Spark jars: set SPARK_HOME")
    return m.group(1)


def classpath(root="."):
    return os.path.join(spark_jars(root), "*")


def build(root):
    """Compile if needed; returns the classes directory."""
    main, own = sources(root)
    if not main:
        raise SystemExit(f"no engine sources under {root}/src/main/scala")
    out = os.path.join(root, BUILD_DIR, "classes")
    h = hashlib.sha256()
    for f in main + own:
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    stamp = os.path.join(root, BUILD_DIR, "classes.stamp")
    if os.path.exists(stamp) and open(stamp).read() == h.hexdigest():
        return out
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    cp = classpath(root)
    cmd = ["java", "-Xss16m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main",
           "-nowarn", "-deprecation:false", "-classpath", cp, "-d", out] + \
        main + own
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-8000:])
        raise SystemExit(f"compile failed ({r.returncode})")
    with open(stamp, "w") as f:
        f.write(h.hexdigest())
    return out


if __name__ == "__main__":
    print(build(os.getcwd()))
