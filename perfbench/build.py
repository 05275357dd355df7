"""Build file of the benchmark: compiles the engine (`src/main/scala`)
and the benchmark's own Scala sources (`perfbench/scala`) with the
Scala compiler that ships in the Spark distribution, into a
content-addressed classes directory. A build whose sources are
unchanged is reused.

    python3 perfbench/build.py        # from the repository root
"""

import glob
import hashlib
import os
import shutil
import subprocess
import sys

ENGINE_SOURCES = "src/main/scala"
BENCH_SOURCES = "perfbench/scala"
BUILD_DIR = ".bench_build/perfbench"


class BuildError(Exception):
    pass


def spark_jars():
    """The Spark distribution's jar directory: $SPARK_HOME/jars, else
    the one beside `spark-submit` on the PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    jars = os.path.join(home or "", "jars")
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        raise BuildError("no Spark distribution with a Scala compiler found "
                         "(set SPARK_HOME)")
    return jars


def sources(root):
    found = {}
    for d in (ENGINE_SOURCES, BENCH_SOURCES):
        found[d] = sorted(glob.glob(os.path.join(root, d, "**", "*.scala"), recursive=True))
        if not found[d]:
            raise BuildError("no Scala sources under %s" % os.path.join(root, d))
    return found[ENGINE_SOURCES] + found[BENCH_SOURCES]


def build(root):
    """Returns the classpath (classes dir + Spark jars), compiling first
    when the sources changed since the last build."""
    jars = spark_jars()
    srcs = sources(root)
    h = hashlib.sha256()
    for p in srcs:
        h.update(os.path.relpath(p, root).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    out = os.path.join(root, BUILD_DIR)
    classes = os.path.join(out, "classes-" + h.hexdigest()[:16])
    cp = os.path.join(jars, "*")
    if not os.path.exists(os.path.join(classes, ".built")):
        for old in glob.glob(os.path.join(out, "classes-*")):
            shutil.rmtree(old)
        os.makedirs(classes)
        argfile = os.path.join(out, "sources.txt")
        with open(argfile, "w") as f:
            f.write("\n".join(srcs) + "\n")
        cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main",
               "-nowarn", "-d", classes, "-classpath", cp, "@" + argfile]
        proc = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
        if proc.returncode != 0:
            shutil.rmtree(classes)
            raise BuildError("compile failed:\n" + proc.stdout[-4000:])
        open(os.path.join(classes, ".built"), "w").close()
    return classes + os.pathsep + cp


if __name__ == "__main__":
    try:
        print(build(os.getcwd()))
    except BuildError as e:
        sys.exit("build: %s" % e)
