"""Builds the program and the benchmark's JVM harness from source.

Compiles every Scala file under the checkout's `src/main/scala` together
with `perfbench/harness/*.scala`, using the Scala compiler that ships in
Spark's jar directory (the same jars `build.sbt` compiles against), into
`.bench_build/classes/<digest of the sources>/`. A build whose sources have
not changed is reused.

    python3 perfbench/build.py        # prints the classes directory
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
BUILD_DIR = ".bench_build"


def sources(root):
    program = sorted(glob.glob(os.path.join(root, "src", "main", "scala", "**", "*.scala"),
                               recursive=True))
    harness = sorted(glob.glob(os.path.join(HERE, "harness", "*.scala")))
    return program, harness


def classpath():
    """Spark's jar directory: the `unmanagedBase` that `build.sbt` compiles
    against, or else `$SPARK_HOME/jars`."""
    sbt = os.path.join(HERE, "..", "build.sbt")
    m = None
    if os.path.exists(sbt):
        with open(sbt) as f:
            m = re.search(r'^unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read(), re.M)
    jars = m.group(1) if m else os.path.join(os.environ.get("SPARK_HOME", ""), "jars")
    if not os.path.isdir(jars):
        raise SystemExit("perfbench: Spark's jars not found (build.sbt unmanagedBase, SPARK_HOME)")
    return os.path.join(jars, "*")


def build(root, log=lambda m: print(m, file=sys.stderr)):
    program, harness = sources(root)
    if not program:
        raise SystemExit(f"perfbench: no program sources under {root}/src/main/scala")
    if not harness:
        raise SystemExit("perfbench: harness sources missing")
    h = hashlib.sha256()
    for p in program + harness:
        h.update(os.path.relpath(p, root).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    out = os.path.join(root, BUILD_DIR, "classes", h.hexdigest()[:16])
    if os.path.exists(os.path.join(out, "_DONE")):
        return out
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    log(f"perfbench: compiling {len(program)} program and {len(harness)} harness files")
    cmd = ["java", "-Xss8m", "-Xmx3g", "-cp", classpath(), "scala.tools.nsc.Main",
           "-usejavacp", "-nowarn", "-d", out, "-classpath", classpath()] + program + harness
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        shutil.rmtree(out, ignore_errors=True)
        raise SystemExit("perfbench: build failed\n" + r.stdout[-4000:])
    open(os.path.join(out, "_DONE"), "w").close()
    return out


if __name__ == "__main__":
    print(build(os.getcwd()))
