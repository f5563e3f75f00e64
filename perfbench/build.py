#!/usr/bin/env python3
"""Build the benchmark: compile the program's sources (src/main/scala) and
the benchmark's own (perfbench/src) with the Scala compiler that ships in
Spark's jars into one class directory,
.bench_build/perfbench/build-<hash of the sources>/classes, and dump a
class-data-sharing archive of the Spark, Scala and library classes named in
spark-classes.lst.gz, so that each benchmark JVM maps them instead of
loading and verifying them again. The list is fixed and names no class of
the program or the benchmark: those load from the class directory, so a
change to the program pays its own class loading in setup_s.

A build whose sources are unchanged is reused, and the archive as long as
the list and Spark's jars are. Run from the repository
root: python3 perfbench/build.py
"""
import glob
import gzip
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".bench_build", "perfbench")
CLASS_LIST = os.path.join(HERE, "spark-classes.lst.gz")


def _spark_jars():
    """$SPARK_HOME/jars, else the jars of the first Spark on PATH."""
    homes = [os.environ["SPARK_HOME"]] if os.environ.get("SPARK_HOME") else [
        os.path.dirname(os.path.dirname(os.path.realpath(os.path.join(d, "spark-submit"))))
        for d in os.environ.get("PATH", "").split(os.pathsep)
        if os.path.isfile(os.path.join(d, "spark-submit"))]
    for home in homes:
        jars = os.path.join(home, "jars")
        if glob.glob(os.path.join(jars, "spark-core_*.jar")):
            return jars
    raise SystemExit("perfbench: no Spark installation found; set SPARK_HOME")


SPARK_JARS = _spark_jars()


def sources():
    prog = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"),
                            recursive=True))
    if not prog:
        raise SystemExit("perfbench: no program sources under src/main/scala")
    return prog + sorted(glob.glob(os.path.join(HERE, "src", "*.scala")))


class Build:
    def __init__(self, path, archive):
        self.path = path
        self.classes = os.path.join(path, "classes")
        self.archive = archive


def java_cmd(b, work, main, args):
    """The JVM command line every benchmark process uses. Spark's jars come
    first on the class path: the archive was dumped with exactly them."""
    cp = os.pathsep.join([os.path.join(SPARK_JARS, "*"), b.classes])
    cmd = ["java"]
    for o in JAVA_OPENS:
        cmd += ["--add-opens", o]
    cmd += ["-XX:SharedArchiveFile=" + b.archive, "-Xmx3g", "-XX:-UsePerfData", "-Xlog:all=warning:stderr",
            "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
            "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties"),
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", cp, main] + args
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    return cmd


JAVA_OPENS = [
    "java.base/" + p + "=ALL-UNNAMED" for p in (
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
        "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
        "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def _digest(paths):
    h = hashlib.sha256()
    for p in paths:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def _fresh(kind, key):
    """The output path for `kind` at `key`; stale ones of that kind go."""
    path = os.path.join(OUT, "%s-%s" % (kind, key))
    if not os.path.exists(path + ".complete"):
        os.makedirs(OUT, exist_ok=True)
        for old in glob.glob(os.path.join(OUT, kind + "-*")):
            shutil.rmtree(old, ignore_errors=True) if os.path.isdir(old) else os.remove(old)
    return path


def archive():
    """The class-data-sharing archive of the listed classes from Spark's
    jars, dumped once per list and Spark installation."""
    jars = sorted(glob.glob(os.path.join(SPARK_JARS, "*.jar")))
    stem = _fresh("spark-classes", _digest([CLASS_LIST]) + "-" + hashlib.sha256(
        "\n".join(jars).encode()).hexdigest()[:8])
    path = stem + ".jsa"
    if os.path.exists(stem + ".complete"):
        return path
    class_list = stem + ".lst"
    with gzip.open(CLASS_LIST, "rb") as src, open(class_list, "wb") as dst:
        shutil.copyfileobj(src, dst)
    dump = ["java", "-Xshare:dump", "-XX:SharedClassListFile=" + class_list,
            "-XX:SharedArchiveFile=" + path, "-cp", os.path.join(SPARK_JARS, "*")]
    rc = subprocess.run(dump, cwd=ROOT, stdout=subprocess.DEVNULL).returncode
    os.remove(class_list)
    if rc != 0:
        raise SystemExit("perfbench: class-data-sharing dump failed")
    open(stem + ".complete", "w").close()
    return path


def build():
    """Return the Build for the current sources, making it first if needed."""
    srcs = sources()
    b = Build(_fresh("build", _digest(srcs)), archive())
    if os.path.exists(b.path + ".complete"):
        return b
    os.makedirs(b.classes)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData",
           "-cp", os.path.join(SPARK_JARS, "*"), "scala.tools.nsc.Main",
           "-usejavacp", "-nowarn", "-d", b.classes] + srcs
    if subprocess.run(cmd, cwd=ROOT, stdout=sys.stderr).returncode != 0:
        shutil.rmtree(b.path, ignore_errors=True)
        raise SystemExit("perfbench: compilation failed")
    open(b.path + ".complete", "w").close()
    return b


if __name__ == "__main__":
    print(build().path)
