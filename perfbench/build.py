"""Build file of the benchmark: compiles graft's main sources together with
the benchmark's own Scala files into one class directory, with the Scala
compiler and Spark jars of the Spark installation (SPARK_HOME, or the one
whose spark-submit is on PATH). A stamp of the sources' hash skips the
build when nothing changed.

    python3 perfbench/build.py      # from the root of a graft checkout
"""
import hashlib
import os
import shutil
import subprocess
import sys

BUILD = ".bench_build"
SOURCES = ["src/main/scala", "perfbench/jvm"]
RESOURCES = "src/main/resources"


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if not submit:
            sys.exit("build: no SPARK_HOME and no spark-submit on PATH")
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home, "jars")
    if not os.path.isdir(jars):
        sys.exit(f"build: {jars} is not a directory")
    return jars


def sources():
    found = []
    for root in SOURCES:
        if not os.path.isdir(root):
            sys.exit(f"build: missing source directory {root} "
                     "(run from the root of a graft checkout)")
        for d, _, files in os.walk(root):
            found += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(found)


def classpath():
    """Runtime class path: compiled classes, resources, Spark jars."""
    return os.pathsep.join([os.path.join(BUILD, "classes"), RESOURCES,
                            os.path.join(spark_jars(), "*")])


def build():
    """Compile unless the stamp matches; returns the sources' hash."""
    srcs = sources()
    h = hashlib.sha256()
    for p in srcs:
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    stamp = os.path.join(BUILD, "stamp")
    if os.path.exists(stamp) and open(stamp).read() == h.hexdigest():
        return h.hexdigest()
    out = os.path.join(BUILD, "classes")
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    args = os.path.join(BUILD, "sources.txt")
    with open(args, "w") as f:
        f.write("\n".join(srcs) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx3g", "-XX:-UsePerfData", "-cp", os.path.join(spark_jars(), "*"),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", out, "@" + args]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-20000:])
        sys.exit(f"build: scalac failed with code {r.returncode}")
    with open(stamp, "w") as f:
        f.write(h.hexdigest())
    return h.hexdigest()


if __name__ == "__main__":
    build()
