"""Build file of the benchmark: compiles graft's main sources together
with the benchmark's Scala sources into one class directory.

The compiler is the Scala compiler that ships among Spark's jars, so the
build needs only a JDK and a Spark distribution (SPARK_HOME, else the
one whose spark-submit is on PATH). Output goes to
`.bench_build/graftbench-<hash>` under the repository root, keyed by a
hash of every compiled source, and is reused while the sources are
unchanged.

    python3 graftbench/build.py      # prints the class directory
"""
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)


def spark_jars():
    """The jars directory of SPARK_HOME, else of the first Spark
    distribution whose bin/spark-submit is on PATH."""
    homes = [os.environ["SPARK_HOME"]] if os.environ.get("SPARK_HOME") else [
        os.path.dirname(os.path.dirname(os.path.realpath(os.path.join(d, "spark-submit"))))
        for d in os.environ.get("PATH", "").split(os.pathsep)
        if os.path.isfile(os.path.join(d, "spark-submit"))]
    for home in homes:
        if os.path.isdir(os.path.join(home, "jars")):
            return os.path.join(home, "jars")
    raise FileNotFoundError("no Spark distribution: set SPARK_HOME")


def sources():
    """Every .scala file of graft's main source set and of the benchmark."""
    roots = [os.path.join(REPO, "src", "main", "scala"), os.path.join(HERE, "scala")]
    out = []
    for root in roots:
        if not os.path.isdir(root):
            raise FileNotFoundError(f"missing source directory {root}")
        for d, _, files in os.walk(root):
            out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def build(log=sys.stderr):
    """Compiles if needed; returns the class directory."""
    srcs = sources()
    h = hashlib.sha256()
    for s in srcs:
        h.update(os.path.relpath(s, REPO).encode())
        with open(s, "rb") as f:
            h.update(f.read())
    base = os.path.join(REPO, ".bench_build")
    out = os.path.join(base, "graftbench-" + h.hexdigest()[:16])
    if os.path.isdir(out):
        return out
    jars = spark_jars()
    tmp = f"{out}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    print(f"compiling {len(srcs)} sources into {out}", file=log, flush=True)
    cmd = ["java", "-Xss8m", "-Xmx3g", "-XX:-UsePerfData",
           "-cp", os.path.join(jars, "*"), "scala.tools.nsc.Main",
           "-usejavacp", "-nowarn", "-d", tmp] + srcs
    # run inside the empty output directory: scalac puts the working
    # directory on its class path, and the repository root holds a
    # `graftbench/scala` directory that would shadow package `scala`
    r = subprocess.run(cmd, stdout=log, stderr=log, cwd=tmp)
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise RuntimeError(f"scalac exited with {r.returncode}")
    try:
        os.rename(tmp, out)
    except OSError:  # another run finished the same build first
        shutil.rmtree(tmp, ignore_errors=True)
    return out


if __name__ == "__main__":
    print(build())
