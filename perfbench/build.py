"""Build file of the benchmark: compiles the repo's main Scala sources and
the benchmark harness (perfbench/src) with the Scala 2.13 compiler that
ships in Spark's jars directory, the same jars the repo's sbt build compiles
against, into .bench_build/bench.jar. It then runs set-up and one unit of
every workload once (perfbench.Warmup) with -XX:ArchiveClassesAtExit, so
every benchmark run maps the classes it loads from .bench_build/app.jsa
instead of parsing and verifying them from the jars again. Rebuilds only
when a source changed.

Usage: python3 perfbench/build.py   (from the repo root; prints the jar)
"""
import hashlib
import os
import shutil
import subprocess
import sys
import zipfile
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
BUILD = ROOT / ".bench_build"
JAR = BUILD / "bench.jar"
ARCHIVE = BUILD / "app.jsa"
STAMP = BUILD / "build.stamp"
WARMUP_TIMEOUT_S = 400
SOURCE_DIRS = [ROOT / "src" / "main" / "scala", ROOT / "perfbench" / "src"]


def spark_jars() -> Path:
    """Spark's jars directory: $SPARK_HOME/jars, else the first spark-submit
    on PATH whose installation holds a Scala 2.13 compiler."""
    homes = [Path(os.environ["SPARK_HOME"])] if os.environ.get("SPARK_HOME") else [
        (Path(d) / "spark-submit").resolve().parent.parent
        for d in os.environ.get("PATH", "").split(os.pathsep) if (Path(d) / "spark-submit").is_file()]
    for home in homes:
        if any((home / "jars").glob("scala-compiler-2.13*.jar")):
            return home / "jars"
    sys.exit("build: no Spark installation with a Scala 2.13 compiler (set SPARK_HOME)")


def sources() -> list:
    missing = [str(d) for d in SOURCE_DIRS if not d.is_dir()]
    if missing:
        sys.exit(f"build: source directories missing: {', '.join(missing)}")
    files = sorted(p for d in SOURCE_DIRS for p in d.rglob("*.scala"))
    if not files:
        sys.exit("build: no Scala sources found")
    return files


def classpath(jars: Path) -> str:
    return f"{JAR}:{jars}/*"


def java_flags() -> list:
    """JVM flags of a benchmark run; the warm-up that writes the class-data
    archive runs with the same ones. A run is one to three units in a fresh
    JVM, so C2 would spend 55-65 % of the process's CPU compiling code the
    run then leaves; with C1 alone a run takes 10-20 % less wall on 4 vCPUs.
    The number of compiler threads is fixed, so their CPU can be read per
    thread and none of it leaves with an exited thread."""
    opens = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]
    return (["-Xms3g", "-Xmx3g", "-XX:-UsePerfData", "-XX:-UseDynamicNumberOfCompilerThreads",
             "-XX:TieredStopAtLevel=1"]
            + [x for p in opens for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")])


def java_env() -> dict:
    return {k: v for k, v in os.environ.items() if k not in ("SPARK_LOCAL_DIRS", "_JAVA_OPTIONS")}


def write_archive(jars: Path) -> None:
    """Class-data archive of a warm-up run; a run without it is slower to
    start but otherwise the same, so a failed warm-up only drops it."""
    work = BUILD / "warmup"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    ARCHIVE.unlink(missing_ok=True)
    cmd = (["java"] + java_flags() + [f"-XX:ArchiveClassesAtExit={ARCHIVE}",
           f"-Djava.io.tmpdir={work / 'tmp'}", "-cp", classpath(jars), "perfbench.Warmup", str(work)])
    with open(BUILD / "warmup.log", "w") as log:
        try:
            code = subprocess.run(cmd, cwd=ROOT, stdout=log, stderr=subprocess.STDOUT,
                                  env=java_env(), timeout=WARMUP_TIMEOUT_S).returncode
        except subprocess.TimeoutExpired:
            code = "timeout"
    shutil.rmtree(work, ignore_errors=True)
    if code != 0:
        ARCHIVE.unlink(missing_ok=True)
        sys.stderr.write(f"build: warm-up exited with {code}; runs go without a class-data archive\n")


def build() -> Path:
    jars = spark_jars()
    files = sources()
    h = hashlib.sha256(str(jars.resolve()).encode())
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    digest = h.hexdigest()
    if JAR.is_file() and STAMP.is_file() and STAMP.read_text() == digest:
        return JAR
    STAMP.unlink(missing_ok=True)
    classes = BUILD / "classes"
    shutil.rmtree(classes, ignore_errors=True)
    classes.mkdir(parents=True)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={BUILD}",
           "-cp", f"{jars}/*", "scala.tools.nsc.Main", "-usejavacp", "-nowarn",
           "-d", str(classes)] + [str(f) for f in files]
    r = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-20000:])
        sys.exit(f"build: scalac failed with code {r.returncode}")
    with zipfile.ZipFile(JAR, "w") as z:
        for p in sorted(classes.rglob("*")):
            if p.is_file():
                z.write(p, p.relative_to(classes).as_posix())
    shutil.rmtree(classes)
    write_archive(jars)
    STAMP.write_text(digest)
    return JAR


if __name__ == "__main__":
    print(build())
