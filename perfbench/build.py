"""Build file of the benchmark: compiles graft's library sources together
with the benchmark's own Scala sources into one class directory.

The directory is keyed by a digest of every source file, so an unchanged
tree is built once and reused. Output goes under `.bench_build/perfbench`
in the repository root. The Scala compiler and Spark come from the Spark
distribution (`$SPARK_HOME/jars`, or the one holding `spark-submit`).

Run alone with `python3 perfbench/build.py`; `run.py` calls it first.
"""
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
LIB_SRC = os.path.join(ROOT, "src", "main", "scala")
BENCH_SRC = os.path.join(HERE, "src")
OUT = os.path.join(ROOT, ".bench_build", "perfbench")


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if not submit:
            sys.exit("build: neither SPARK_HOME nor spark-submit is available")
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home, "jars")
    if not os.path.isdir(jars):
        sys.exit(f"build: no jars directory under {home}")
    return jars


def sources():
    found = []
    for base in (LIB_SRC, BENCH_SRC):
        if not os.path.isdir(base):
            sys.exit(f"build: missing source directory {os.path.relpath(base, ROOT)}")
        for d, _, files in os.walk(base):
            found += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(found)


def digest(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()[:16]


def build():
    """Return (classes dir, spark jars dir, source digest), compiling if needed."""
    files = sources()
    jars = spark_jars()
    key = digest(files)
    out = os.path.join(OUT, f"classes-{key}")
    if os.path.exists(os.path.join(out, ".done")):
        return out, jars, key
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(os.path.join(tmp, "javatmp"))
    argfile = os.path.join(tmp, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(files) + "\n")
    scala = [os.path.join(jars, j) for j in sorted(os.listdir(jars))
             if j.startswith(("scala-compiler-", "scala-library-", "scala-reflect-"))]
    classpath = ":".join(os.path.join(jars, j) for j in sorted(os.listdir(jars))
                         if j.endswith(".jar"))
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", f"-Djava.io.tmpdir={tmp}/javatmp",
           "-cp", ":".join(scala), "scala.tools.nsc.Main",
           "-classpath", classpath, "-d", tmp, "-nowarn", "@" + argfile]
    done = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if done.returncode != 0:
        sys.exit(f"build: scalac failed with code {done.returncode}")
    shutil.rmtree(os.path.join(tmp, "javatmp"), ignore_errors=True)
    os.remove(argfile)
    # drop class dirs of older source trees
    for old in os.listdir(OUT):
        if old.startswith("classes-") and os.path.join(OUT, old) != tmp:
            shutil.rmtree(os.path.join(OUT, old), ignore_errors=True)
    os.rename(tmp, out)
    open(os.path.join(out, ".done"), "w").close()
    return out, jars, key


if __name__ == "__main__":
    print(build()[0])
