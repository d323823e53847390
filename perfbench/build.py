"""Build the benchmark's JVM program: graft's main sources plus the
benchmark's own Scala sources, compiled in one scalac pass against the
Spark distribution's jars (which also ship the Scala 2.13 compiler), and
packed into one jar (a jar, not a class directory, so the JVM can archive
its classes for class-data sharing; see run.py).

Output goes to `.bench_build/graftbench-<hash>/graftbench.jar` under the
current directory; the hash covers every source file, so an unchanged tree
is built once. Run directly to build: `python3 perfbench/build.py`.
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys
import tempfile
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
BUILD_DIR = ".bench_build"
ENGINE_SRC = os.path.join("src", "main", "scala")
ENGINE_RESOURCES = os.path.join("src", "main", "resources")
BENCH_SRC = os.path.join(HERE, "scala")


def spark_jars():
    """The Spark distribution's jars: $SPARK_HOME/jars, else the jar
    directory the engine's own build.sbt compiles against."""
    jars = None
    if os.environ.get("SPARK_HOME"):
        jars = os.path.join(os.environ["SPARK_HOME"], "jars")
    elif os.path.isfile("build.sbt"):
        with open("build.sbt") as fh:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', fh.read())
        jars = m and m.group(1)
    if not jars or not os.path.isdir(jars):
        raise SystemExit("build: no Spark jars found (set SPARK_HOME)")
    return jars


def _sources(root):
    out = []
    for d, _, files in os.walk(root):
        out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def build():
    """Compile if needed; return the path of the jar."""
    engine = _sources(ENGINE_SRC)
    if not engine:
        raise SystemExit(f"build: no engine sources under {os.path.abspath(ENGINE_SRC)}")
    sources = engine + _sources(BENCH_SRC)
    h = hashlib.sha256()
    for f in sources:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    out = os.path.join(BUILD_DIR, f"graftbench-{h.hexdigest()[:16]}", "graftbench.jar")
    if os.path.isfile(out):
        return out
    os.makedirs(BUILD_DIR, exist_ok=True)
    tmp = tempfile.mkdtemp(prefix="classes-", dir=BUILD_DIR)
    jars = os.path.join(spark_jars(), "*")
    argfile = os.path.join(tmp, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(sources))
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", jars, "scala.tools.nsc.Main",
           "-nowarn", "-d", tmp, "-classpath", jars, "@" + argfile]
    print(f"build: compiling {len(sources)} sources", file=sys.stderr)
    res = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    os.remove(argfile)
    if res.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        sys.stderr.write(res.stdout[-20000:])
        raise SystemExit(f"build: scalac failed with code {res.returncode}")
    if os.path.isdir(ENGINE_RESOURCES):
        shutil.copytree(ENGINE_RESOURCES, tmp, dirs_exist_ok=True)
    os.makedirs(os.path.dirname(out), exist_ok=True)
    with zipfile.ZipFile(out + ".tmp", "w", zipfile.ZIP_DEFLATED) as jar:
        for d, _, files in os.walk(tmp):
            for f in sorted(files):
                path = os.path.join(d, f)
                jar.write(path, os.path.relpath(path, tmp))
    shutil.rmtree(tmp)
    os.replace(out + ".tmp", out)
    return out


if __name__ == "__main__":
    print(build())
