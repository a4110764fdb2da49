#!/usr/bin/env python3
"""Build file of the benchmark.

Compiles the engine's sources (src/main/scala) together with the
benchmark's own (perfbench/src) with the Scala compiler that ships in the
Spark distribution ($SPARK_HOME/jars, default /opt/spark/jars), so the build
needs neither sbt nor a network. The classes are packed into
.bench_build/perfbench/perfbench.jar under the checkout, and a training run
(one toy crawl) writes a class-data-sharing archive beside it, which
takes several seconds off each run's JVM and session start. Both are
rebuilt only when a source file changes.

    python3 perfbench/build.py
"""
import hashlib
import os
import pathlib
import shutil
import subprocess
import sys
import zipfile

HERE = pathlib.Path(__file__).resolve().parent
ROOT = HERE.parent
BUILD = ROOT / ".bench_build" / "perfbench"
SPARK_JARS = pathlib.Path(os.environ.get("SPARK_HOME", "/opt/spark")) / "jars"
JAR = BUILD / "perfbench.jar"
ARCHIVE = BUILD / "perfbench.jsa"
MAIN = "graft.perfbench.PerfBench"
# Spark on JDK 17 needs these when the session is built outside spark-submit
# (the same list as build.sbt).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


class BuildError(Exception):
    pass


def java_cmd(work, *jvm_flags):
    """The command prefix that runs the benchmark main; temp files go to work.
    The heap has a fixed size so that heap resizing does not vary between runs."""
    (work / "tmp").mkdir(parents=True, exist_ok=True)
    return ["java", *[a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")],
            "-Xms2g", "-Xmx2g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={work / 'tmp'}",
            "-Dspark.ui.enabled=false", *jvm_flags,
            "-cp", f"{JAR}:{SPARK_JARS}/*", MAIN]


def sources():
    engine_dir = ROOT / "src" / "main" / "scala"
    engine = sorted(engine_dir.rglob("*.scala")) if engine_dir.is_dir() else []
    if not engine:
        raise BuildError(f"no engine sources under {engine_dir}")
    return engine + sorted((HERE / "src").rglob("*.scala"))


def compile_jar(srcs):
    if not any(SPARK_JARS.glob("scala-compiler-*.jar")):
        raise BuildError(f"no Scala compiler under {SPARK_JARS}")
    classes = BUILD / "classes.tmp"
    shutil.rmtree(classes, ignore_errors=True)
    classes.mkdir(parents=True)
    argfile = BUILD / "sources.txt"
    argfile.write_text("".join(f"{p}\n" for p in srcs))
    cp = f"{SPARK_JARS}/*"
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={BUILD}",
           "-cp", cp, "scala.tools.nsc.Main", "-nowarn", "-d", str(classes), "-classpath", cp,
           f"@{argfile}"]
    if subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr).returncode != 0:
        raise BuildError("scalac failed")
    # class-data sharing archives classes from jars only, not directories
    tmp = JAR.with_suffix(".tmp")
    with zipfile.ZipFile(tmp, "w", zipfile.ZIP_STORED) as z:
        for f in sorted(p for p in classes.rglob("*") if p.is_file()):
            z.write(f, f.relative_to(classes).as_posix())
    tmp.replace(JAR)
    shutil.rmtree(classes)


def train_archive():
    """Dump the classes a warm-up loads; a run without the archive still works."""
    work = BUILD / "train"
    tmp = ARCHIVE.with_suffix(".tmp")
    cmd = java_cmd(work, f"-XX:ArchiveClassesAtExit={tmp}") + ["--train", "--work", str(work)]
    ok = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr).returncode == 0
    shutil.rmtree(work, ignore_errors=True)
    if ok and tmp.is_file():
        tmp.replace(ARCHIVE)
    else:
        tmp.unlink(missing_ok=True)
        print("perfbench build: no class-data archive, runs start slower", file=sys.stderr)


def build():
    """Build the jar and archive if a source changed; return the jar path."""
    srcs = sources()
    digest = hashlib.sha256()
    for p in srcs:
        digest.update(str(p.relative_to(ROOT)).encode())
        digest.update(p.read_bytes())
    stamp = digest.hexdigest()
    stamp_file = BUILD / "build.stamp"
    if JAR.is_file() and stamp_file.is_file() and stamp_file.read_text() == stamp:
        return JAR
    BUILD.mkdir(parents=True, exist_ok=True)
    stamp_file.unlink(missing_ok=True)
    ARCHIVE.unlink(missing_ok=True)
    compile_jar(srcs)
    train_archive()
    stamp_file.write_text(stamp)
    return JAR


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        print(f"perfbench build failed: {e}", file=sys.stderr)
        sys.exit(2)
