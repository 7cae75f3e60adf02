"""Build file of the benchmark: compiles the program's sources
(src/main/scala, src/main/java) together with the benchmark's own
harness (perfbench/scala) against the Spark jars, with the Scala
compiler those jars ship. The classes go to perfbench/.build; a stamp
of every source's bytes skips the build when nothing changed.

    python3 perfbench/build.py      # build (or confirm up to date)
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(HERE, ".build")


def spark_jars():
    """The directory of Spark jars the program compiles against:
    $SPARK_HOME/jars, else build.sbt's `unmanagedBase`."""
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    sbt = os.path.join(ROOT, "build.sbt")
    if os.path.exists(sbt):
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read())
        if m and os.path.isdir(m.group(1)):
            return m.group(1)
    raise SystemExit("build: no Spark jars (set SPARK_HOME)")


def sources():
    scala = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"), recursive=True))
    java = sorted(glob.glob(os.path.join(ROOT, "src/main/java/**/*.java"), recursive=True))
    bench = sorted(glob.glob(os.path.join(HERE, "scala/**/*.scala"), recursive=True))
    if not scala:
        raise SystemExit("build: no program sources under src/main/scala")
    return scala + bench, java


def build():
    """Compile if any source changed; return the run classpath."""
    jars = spark_jars()
    scala, java = sources()
    h = hashlib.sha256(jars.encode())
    for p in scala + java:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    stamp = h.hexdigest()
    classes = os.path.join(OUT, "classes")
    cp = f"{classes}{os.pathsep}{jars}/*"
    stamp_file = os.path.join(OUT, "stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return cp
    shutil.rmtree(OUT, ignore_errors=True)
    tmp = os.path.join(OUT, "classes.tmp")
    os.makedirs(tmp)
    jcp = f"{jars}/*"
    subprocess.run(["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", jcp,
                    "scala.tools.nsc.Main", "-nowarn", "-d", tmp, "-classpath", jcp] + scala + java,
                   check=True, stdout=sys.stderr)
    if java:
        subprocess.run(["javac", "-J-XX:-UsePerfData", "-nowarn", "-encoding", "UTF-8", "-d", tmp,
                        "-cp", f"{tmp}{os.pathsep}{jcp}"] + java,
                       check=True, stdout=sys.stderr)
    os.rename(tmp, classes)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp


if __name__ == "__main__":
    print(build())
