"""Build file of the benchmark: compiles the program and the harness.

The program's Scala sources (src/main/scala) and the harness
(perfbench/jvm) are compiled together with the Scala compiler that ships
in the Spark jar directory, into .bench_build/classes. A stamp of every
source's path and bytes skips the compile when nothing changed.

Run alone: python3 perfbench/build.py
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
BUILD_DIR = ".bench_build"


def spark_jars(root):
    """Spark's jar directory: $SPARK_HOME/jars, else the unmanagedBase that
    build.sbt compiles against."""
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    with open(os.path.join(root, "build.sbt")) as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    if not m or not os.path.isdir(m.group(1)):
        raise SystemExit("perfbench: cannot find the Spark jar directory")
    return m.group(1)


def sources(root):
    out = []
    for base in (os.path.join(root, "src", "main", "scala"), os.path.join(HERE, "jvm")):
        if not os.path.isdir(base):
            raise SystemExit(f"perfbench: no sources at {os.path.relpath(base, root)}")
        for d, _, files in os.walk(base):
            out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def ensure(root):
    """Compile if needed; return the classes directory."""
    srcs = sources(root)
    jars = spark_jars(root)
    h = hashlib.sha256()
    for p in srcs:
        h.update(os.path.relpath(p, root).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    stamp = h.hexdigest()
    out = os.path.join(root, BUILD_DIR, "classes")
    stamp_file = out + ".stamp"
    if os.path.isdir(out) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                return out, stamp
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    cmd = ["java", "-Xss8m", "-Xmx3g", "-XX:-UsePerfData", "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", out] + srcs
    r = subprocess.run(cmd, cwd=root, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True, timeout=800)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        raise SystemExit("perfbench: compile failed")
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return out, stamp


if __name__ == "__main__":
    print(ensure(os.getcwd())[0])
