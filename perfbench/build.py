"""Build file of the benchmark: compiles the program's sources together with
the harness in perfbench/src against the Spark jars the repository's build
uses, with the Scala compiler those jars ship. Output goes to
.bench_build/classes-<hash of the sources>, so an unchanged tree is not
rebuilt.

    python3 perfbench/build.py      # prints the class directory
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
OUT = os.path.join(ROOT, ".bench_build")


class BuildError(Exception):
    pass


def spark_jars():
    """The jar directory build.sbt names as unmanagedBase, else $SPARK_HOME/jars."""
    sbt = os.path.join(ROOT, "build.sbt")
    if os.path.isfile(sbt):
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read())
        if m and os.path.isdir(m.group(1)):
            return m.group(1)
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    raise BuildError("no Spark jar directory: build.sbt names none and SPARK_HOME is unset")


def sources():
    prog = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(prog):
        raise BuildError(f"program sources not found under {prog}")
    files = sorted(glob.glob(os.path.join(prog, "**", "*.scala"), recursive=True))
    files += sorted(glob.glob(os.path.join(ROOT, "perfbench", "src", "*.scala")))
    return files


def build():
    """Compile if needed; returns (class dir, classpath list of jars)."""
    jars = sorted(glob.glob(os.path.join(spark_jars(), "*.jar")))
    srcs = sources()
    h = hashlib.sha256()
    for f in srcs:
        h.update(os.path.relpath(f, ROOT).encode())
        h.update(open(f, "rb").read())
    for j in jars:
        h.update(os.path.basename(j).encode())
    classes = os.path.join(OUT, "classes-" + h.hexdigest()[:16])
    if os.path.isdir(classes):
        return classes, jars
    compiler = [j for j in jars if re.search(r"/scala-(compiler|library|reflect)-[0-9.]+\.jar$", j)]
    if len(compiler) != 3:
        raise BuildError("the Spark jar directory holds no Scala compiler")
    for old in glob.glob(os.path.join(OUT, "classes-*")):
        shutil.rmtree(old, ignore_errors=True)
    tmp = classes + ".tmp"
    os.makedirs(tmp)
    r = subprocess.run(["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", os.pathsep.join(compiler),
                        "scala.tools.nsc.Main", "-nowarn", "-classpath", os.pathsep.join(jars),
                        "-d", tmp] + srcs, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise BuildError("compile failed:\n" + r.stdout[-4000:])
    os.rename(tmp, classes)
    return classes, jars


if __name__ == "__main__":
    try:
        print(build()[0])
    except BuildError as e:
        sys.exit(f"build: {e}")
