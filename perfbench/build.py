"""Build file of the benchmark: compiles the program (`src/main/scala`)
together with the benchmark's JVM side (`perfbench/src`) with the Scala
compiler that ships among the Spark jars, into `$CARGO_TARGET_DIR` (default
`.bench_build`) under the checkout root. A content stamp skips the build
when no source changed.

    python3 perfbench/build.py        # build (or confirm up to date), print the classes dir
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

SCALA = "2.13.17"


class BuildError(Exception):
    pass


def spark_jars(root):
    """The Spark jars the program builds against: `unmanagedBase` in the
    repository's build.sbt, else `$SPARK_HOME/jars`."""
    sbt = os.path.join(root, "build.sbt")
    if os.path.exists(sbt):
        with open(sbt) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        if m:
            return m.group(1)
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    raise BuildError("no Spark jars: build.sbt names no unmanagedBase and SPARK_HOME is unset")


def sources(root):
    prog = sorted(glob.glob(f"{root}/src/main/scala/**/*.scala", recursive=True))
    bench = sorted(glob.glob(f"{root}/perfbench/src/**/*.scala", recursive=True))
    if not prog:
        raise BuildError(f"no program sources under {root}/src/main/scala")
    if not bench:
        raise BuildError(f"no benchmark sources under {root}/perfbench/src")
    return prog + bench


def build(root):
    """Returns the classes directory and the Spark jars directory, compiling
    first if a source changed."""
    srcs = sources(root)
    jars = spark_jars(root)
    h = hashlib.sha256(SCALA.encode())
    for p in srcs:
        h.update(os.path.relpath(p, root).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    stamp = h.hexdigest()
    target = os.path.join(root, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    classes = os.path.join(target, "perfbench-classes")
    stamp_file = os.path.join(target, "perfbench-classes.stamp")
    if os.path.isdir(classes) and os.path.exists(stamp_file) \
            and open(stamp_file).read() == stamp:
        return classes, jars
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    compiler = os.pathsep.join(f"{jars}/scala-{m}-{SCALA}.jar"
                               for m in ("compiler", "library", "reflect"))
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", compiler, "scala.tools.nsc.Main",
           "-nowarn", "-classpath", f"{jars}/*", "-d", tmp] + srcs
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise BuildError("scalac failed:\n" + r.stdout[-4000:])
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return classes, jars


if __name__ == "__main__":
    try:
        print(build(os.getcwd())[0])
    except BuildError as e:
        print(e, file=sys.stderr)
        sys.exit(1)
