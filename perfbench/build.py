"""Build the program and the benchmark from source.

Compiles the program's sources (src/main/scala) together with the
benchmark's (perfbench/src) with the Scala compiler that ships in
Spark's jars directory, into .bench_build/classes-<source hash>/. A
build whose sources are unchanged is reused; `build` returns the
runtime classpath.

Spark is found through SPARK_HOME, or else through `spark-submit` on
the PATH.
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home or "", "jars")
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        sys.exit("Spark's jars (with scala-compiler) not found: set SPARK_HOME")
    return jars


def sources(root):
    out = []
    for top in ("src/main/scala", "perfbench/src"):
        for d, _, files in os.walk(os.path.join(root, top)):
            out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def build(root):
    srcs = sources(root)
    if not any("/src/main/scala/" in s for s in srcs):
        sys.exit(f"no program sources under {root}/src/main/scala")
    h = hashlib.sha256()
    for s in srcs:
        h.update(os.path.relpath(s, root).encode())
        with open(s, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    jars = spark_jars()
    base = os.path.join(root, ".bench_build")
    out = os.path.join(base, "classes-" + h.hexdigest()[:16])
    cp = f"{out}:{jars}/*"
    if os.path.exists(os.path.join(out, ".done")):
        return cp
    for old in glob.glob(os.path.join(base, "classes-*")):
        shutil.rmtree(old, ignore_errors=True)
    os.makedirs(out)
    argfile = os.path.join(base, "scalac.args")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    subprocess.run(["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", f"{jars}/*",
                    "scala.tools.nsc.Main", "-nowarn", "-d", out,
                    "-cp", f"{jars}/*", "@" + argfile],
                   check=True, stdout=sys.stderr)
    open(os.path.join(out, ".done"), "w").close()
    return cp

