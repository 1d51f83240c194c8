"""Build file of the graft benchmark.

Compiles the program (`src/main/scala` of the repository) together with
the benchmark's own sources (`perfbench/src`) into one classes directory
under `.bench_build/perfbench` at the repository root, using the Scala
compiler that ships in the Spark distribution the project builds
against. No dependency is fetched: the classpath is exactly the Spark
jar directory named by the project's `build.sbt` (`unmanagedBase`), or
`$SPARK_HOME/jars` when SPARK_HOME is set.

A content stamp over every source and resource file makes a rebuild a
no-op while nothing changed.

Usage: python3 perfbench/build.py   (prints the classpath on success)
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
PROGRAM_SRC = os.path.join(REPO, "src", "main", "scala")
PROGRAM_RES = os.path.join(REPO, "src", "main", "resources")
BENCH_SRC = os.path.join(HERE, "src")
OUT = os.path.join(REPO, ".bench_build", "perfbench")


class BuildError(Exception):
    pass


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if home:
        jars = os.path.join(home, "jars")
    else:
        sbt = os.path.join(REPO, "build.sbt")
        if not os.path.isfile(sbt):
            raise BuildError("no build.sbt at the repository root")
        with open(sbt, encoding="utf-8") as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        if not m:
            raise BuildError("build.sbt names no unmanagedBase jar directory")
        jars = m.group(1)
    if not os.path.isdir(jars) or not any(
            n.startswith("scala-compiler") for n in os.listdir(jars)):
        raise BuildError(f"no Spark/Scala jars in {jars}")
    return jars


def _files(root, suffix=None):
    out = []
    for d, _, names in os.walk(root):
        for n in names:
            if suffix is None or n.endswith(suffix):
                out.append(os.path.join(d, n))
    return sorted(out)


def build():
    """Compile when sources changed; return (classes_dir, jar_dir)."""
    if not os.path.isdir(PROGRAM_SRC):
        raise BuildError(f"program sources missing: {PROGRAM_SRC}")
    jars = spark_jars()
    sources = _files(PROGRAM_SRC, ".scala") + _files(PROGRAM_SRC, ".java") \
        + _files(BENCH_SRC, ".scala")
    resources = _files(PROGRAM_RES) if os.path.isdir(PROGRAM_RES) else []
    h = hashlib.sha256()
    for p in sources + resources:
        h.update(os.path.relpath(p, REPO).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    h.update(jars.encode())
    digest = h.hexdigest()
    classes = os.path.join(OUT, "classes")
    stamp = os.path.join(OUT, "stamp")
    if os.path.isfile(stamp) and open(stamp).read() == digest:
        return classes, jars
    shutil.rmtree(OUT, ignore_errors=True)
    os.makedirs(classes)
    argfile = os.path.join(OUT, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(sources) + "\n")
    cp = os.path.join(jars, "*")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main",
           "-nowarn", "-d", classes, "-cp", cp, "@" + argfile]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT)
    if r.returncode != 0:
        sys.stderr.write(r.stdout.decode(errors="replace")[-20000:])
        raise BuildError("scalac failed")
    for p in resources:
        dst = os.path.join(classes, os.path.relpath(p, PROGRAM_RES))
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        shutil.copyfile(p, dst)
    with open(stamp, "w") as f:
        f.write(digest)
    return classes, jars


if __name__ == "__main__":
    try:
        classes, jars = build()
    except BuildError as e:
        sys.stderr.write(f"build: {e}\n")
        sys.exit(2)
    print(classes + os.pathsep + os.path.join(jars, "*"))
