"""Build file of the benchmark package: compiles the engine
(`src/main/scala`) and the benchmark (`perfbench/src`) with the Scala
compiler that ships in Spark's jar directory, into
`perfbench/.build/classes`. The build is skipped when a stamp of every
source file's path and content is unchanged.

Run directly (`python3 perfbench/build.py`) to build ahead of a run.
"""

import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(HERE, ".build")
SOURCE_DIRS = [os.path.join(ROOT, "src", "main", "scala"),
               os.path.join(HERE, "src")]

# JDK 17 module opens Spark needs outside spark-submit (the list in
# build.sbt's jdk17AddOpens).
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")]


def spark_jars():
    """Spark's jar directory: $SPARK_HOME/jars, else beside the
    `spark-submit` on PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        raise RuntimeError("Spark not found: set SPARK_HOME")
    return os.path.join(home, "jars")


def sources():
    files = []
    for d in SOURCE_DIRS:
        if not os.path.isdir(d):
            raise RuntimeError(f"missing source directory {d}")
        for base, _, names in os.walk(d):
            files += [os.path.join(base, n) for n in names
                      if n.endswith(".scala")]
    return sorted(files)


def ensure():
    """Returns the class directory, compiling first if sources changed."""
    files = sources()
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    stamp = h.hexdigest()
    classes = os.path.join(OUT, "classes")
    stamp_file = os.path.join(OUT, "stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return classes
    shutil.rmtree(OUT, ignore_errors=True)
    tmp = os.path.join(OUT, "classes.tmp")
    os.makedirs(tmp)
    jars = spark_jars()
    cp = f"{jars}/*"
    r = subprocess.run(
        ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData",
         f"-Djava.io.tmpdir={OUT}", "-cp", cp, "scala.tools.nsc.Main",
         "-d", tmp, "-classpath", cp, "-nowarn", *files],
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-20000:])
        raise RuntimeError("compilation failed")
    os.rename(tmp, classes)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return classes


if __name__ == "__main__":
    print(ensure())
