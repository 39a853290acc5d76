"""Build file of the benchmark: compiles the library sources
(src/main/scala, plus src/main/resources) together with the benchmark's own sources (cdcbench/src)
with the Scala compiler that ships in the Spark distribution, into
<build dir>/classes. Skips the compile when the sources are unchanged.

    python3 cdcbench/build.py          # from the repository root

Spark comes from $SPARK_HOME, else from the spark-submit on PATH. The
build dir is $CARGO_TARGET_DIR if set, else .bench_build.
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys


def spark_jars():
    homes = [os.environ.get("SPARK_HOME", "")]
    for d in os.environ.get("PATH", "").split(os.pathsep):
        if os.path.isfile(os.path.join(d, "spark-submit")):
            homes.append(os.path.dirname(os.path.realpath(d)))
    for home in homes:
        jars = os.path.join(home, "jars")
        if home and glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
            return jars
    sys.exit("build: no Spark installation with a Scala compiler found (set SPARK_HOME)")


def resources(root):
    res = os.path.join(root, "src", "main", "resources")
    return sorted(f for f in glob.glob(os.path.join(res, "**", "*"), recursive=True)
                  if os.path.isfile(f))


def sources(root):
    lib = os.path.join(root, "src", "main", "scala")
    own = os.path.join(root, "cdcbench", "src")
    if not os.path.isdir(lib) or not os.path.isdir(own):
        sys.exit("build: run from the repository root (needs src/main/scala and cdcbench/src)")
    files = sorted(glob.glob(os.path.join(lib, "**", "*.scala"), recursive=True)
                   + glob.glob(os.path.join(own, "*.scala")))
    if not files:
        sys.exit("build: no Scala sources found")
    return files


def build(root="."):
    """Returns the classpath to run the benchmark with."""
    root = os.path.abspath(root)
    srcs = sources(root)
    jars = spark_jars()
    out = os.path.join(root, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    classes = os.path.join(out, "classes")
    h = hashlib.sha256()
    res = resources(root)
    for f in srcs + res:
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    h.update(" ".join(sorted(os.listdir(jars))).encode())
    stamp = os.path.join(out, "classes.stamp")
    cp = f"{classes}:{jars}/*"
    if os.path.exists(stamp) and open(stamp).read() == h.hexdigest():
        return cp
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    argfile = os.path.join(out, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(srcs))
    cmd = ["java", "-Xmx2g", "-Xss8m", "-cp", f"{jars}/*", "scala.tools.nsc.Main",
           "-usejavacp", "-nowarn", "-d", classes, f"@{argfile}"]
    print("build: compiling %d sources" % len(srcs), file=sys.stderr)
    r = subprocess.run(cmd, stdout=sys.stderr)
    if r.returncode != 0:
        sys.exit("build: compile failed")
    base = os.path.join(root, "src", "main", "resources")
    for f in res:
        dst = os.path.join(classes, os.path.relpath(f, base))
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        shutil.copyfile(f, dst)
    with open(stamp, "w") as fh:
        fh.write(h.hexdigest())
    return cp


if __name__ == "__main__":
    build(".")
