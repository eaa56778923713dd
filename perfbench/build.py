"""Builds the program and the benchmark's JVM side from source.

Compiles the program (`src/main/scala`) and then `perfbench/src` with the
Scala compiler that ships in Spark's jar directory, against Spark's jars,
the same classpath the program's sbt build uses, and packs each into a jar.
It then runs every workload's code paths once on small inputs (the sf 0.01
test tables) to record a class-data-sharing archive, which the benchmark's
JVMs map at start-up (the JVM loads Spark's classes from it instead of from
the jars). The
build lands in `.bench_build/classes-<hash>/`, keyed by a hash of every
source file, so an unchanged tree is built once.

Usage: python3 perfbench/build.py
"""
import fcntl
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys
import zipfile

sys.dont_write_bytecode = True

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PROGRAM_SRC = os.path.join(ROOT, "src", "main", "scala")
BENCH_SRC = os.path.join(ROOT, "perfbench", "src")
BUILD_DIR = os.path.join(ROOT, ".bench_build")
JVM_HEAP = "4g"

# Spark 4 on JDK 17 outside spark-submit needs these (the program's
# build.sbt passes the same list).
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")]


class BuildError(Exception):
    pass


class Build:
    def __init__(self, target, jars):
        self.target = target
        self.classpath = [os.path.join(target, "program.jar"),
                          os.path.join(target, "perfbench.jar")] + jars
        self.archive = os.path.join(target, "classes.jsa")

    def java(self, main_args, tmp_dir, archive="use"):
        """The JVM command line for `perfbench.Main <main_args>`: a fixed
        heap (peak RSS does not follow heap resizing), scratch files under
        `tmp_dir`, and the class-data-sharing archive when there is one."""
        cds = []
        if archive == "record":
            cds = [f"-XX:ArchiveClassesAtExit={self.archive}"]
        elif os.path.exists(self.archive):
            cds = [f"-XX:SharedArchiveFile={self.archive}"]
        return (["java", "-XX:-UsePerfData"] + ADD_OPENS + cds +
                [f"-Xms{JVM_HEAP}", f"-Xmx{JVM_HEAP}", "-Xmn1g",
                 f"-Djava.io.tmpdir={tmp_dir}", "-Dspark.ui.enabled=false",
                 "-cp", ":".join(self.classpath), "perfbench.Main"]
                + main_args)


def spark_jars():
    """Spark's jars: $SPARK_HOME/jars, else next to spark-submit."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = sorted(glob.glob(os.path.join(home or "", "jars", "*.jar")))
    if not any(os.path.basename(j).startswith("spark-sql_") for j in jars):
        raise BuildError("Spark jars not found: set SPARK_HOME")
    return jars


def _sources(d):
    return sorted(glob.glob(os.path.join(d, "**", "*.scala"), recursive=True))


def _scalac(jars, out, classpath, sources):
    os.makedirs(out)
    args = out + ".args"
    with open(args, "w") as f:
        f.write("\n".join(["-nowarn", "-d", out, "-classpath",
                           ":".join(classpath)] + sources))
    r = subprocess.run(
        ["java", "-XX:-UsePerfData", "-Xss16m", "-Xmx2g", "-cp", ":".join(jars),
         "scala.tools.nsc.Main", "@" + args],
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        raise BuildError("scalac failed:\n" + r.stdout[-4000:])


def _jar(classes, path):
    with zipfile.ZipFile(path, "w", zipfile.ZIP_STORED) as z:
        for d, _, files in os.walk(classes):
            for f in sorted(files):
                p = os.path.join(d, f)
                z.write(p, os.path.relpath(p, classes))


def tables_dir(sf):
    """The repository's standard test tables at scale `sf` (the read-only
    parquet directories `graft.Bench` reads), where TESTDATA.md lists
    them."""
    with open(os.path.join(ROOT, "TESTDATA.md")) as f:
        m = re.search(r"^\|\s*%s\s*\|\s*`([^`]+)`" % re.escape(str(sf)),
                      f.read(), re.M)
    if not m or not os.path.isdir(m.group(1)):
        raise BuildError(f"sf{sf} test tables not found (see TESTDATA.md)")
    return m.group(1).rstrip("/")


def _record_archive(b):
    """Runs the `train` workload once on the sf 0.01 tables with archive
    recording on. A failed recording leaves no archive; runs then start
    without one."""
    work = os.path.join(b.target, "train")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    cmd = b.java(["train", "0", "1", "0", work, tables_dir(0.01)],
                 tmp, archive="record")
    with open(os.path.join(b.target, "train.log"), "w") as log:
        r = subprocess.run(cmd, stdout=log, stderr=subprocess.STDOUT,
                           cwd=work, timeout=600)
    shutil.rmtree(work, ignore_errors=True)
    if r.returncode != 0 and os.path.exists(b.archive):
        os.remove(b.archive)


def build():
    """Builds (or finds) the current tree's build."""
    program = _sources(PROGRAM_SRC)
    bench = _sources(BENCH_SRC)
    if not program:
        raise BuildError(f"no program sources under {PROGRAM_SRC}")
    if not bench:
        raise BuildError(f"no benchmark sources under {BENCH_SRC}")
    jars = spark_jars()
    h = hashlib.sha256()
    for p in program + bench + [os.path.abspath(__file__)]:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    target = os.path.join(BUILD_DIR, "classes-" + h.hexdigest()[:16])
    b = Build(target, jars)
    os.makedirs(BUILD_DIR, exist_ok=True)
    with open(os.path.join(BUILD_DIR, ".lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if os.path.exists(os.path.join(target, "ok")):
            return b
        for old in glob.glob(os.path.join(BUILD_DIR, "classes-*")):
            shutil.rmtree(old, ignore_errors=True)
        os.makedirs(target)
        classes = os.path.join(target, "classes")
        _scalac(jars, os.path.join(classes, "program"), jars, program)
        _scalac(jars, os.path.join(classes, "perfbench"),
                jars + [os.path.join(classes, "program")], bench)
        _jar(os.path.join(classes, "program"), b.classpath[0])
        _jar(os.path.join(classes, "perfbench"), b.classpath[1])
        shutil.rmtree(classes)
        # the archive records class paths, so it is made in place
        _record_archive(b)
        open(os.path.join(target, "ok"), "w").close()
    return b


if __name__ == "__main__":
    try:
        print(build().target)
    except BuildError as e:
        print(e, file=sys.stderr)
        sys.exit(2)
