"""Build file of the benchmark: compiles the engine's sources together with the
benchmark's own Scala sources into one class directory, using the Scala
compiler that ships with Spark's jars. A stamp of every source's content
skips the compile when nothing changed.

    python3 perfbench/build.py      # prints the class directory
"""
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
WORK = ROOT / ".bench_build" / "perfbench"
ENGINE_SOURCES = ROOT / "src" / "main" / "scala"
ENGINE_RESOURCES = ROOT / "src" / "main" / "resources"
BENCH_SOURCES = BENCH / "src"


def spark_jars() -> Path:
    """Spark's jar directory: $SPARK_HOME/jars, else next to spark-submit."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if not submit:
            raise SystemExit("perfbench: set SPARK_HOME or put spark-submit on PATH")
        home = str(Path(submit).resolve().parent.parent)
    jars = Path(home) / "jars"
    if not list(jars.glob("scala-compiler-*.jar")):
        raise SystemExit(f"perfbench: no Scala compiler among Spark's jars in {jars}")
    return jars


def sources() -> list:
    if not ENGINE_SOURCES.is_dir():
        raise SystemExit(f"perfbench: engine sources not found at {ENGINE_SOURCES}")
    found = sorted(ENGINE_SOURCES.rglob("*.scala")) + sorted(BENCH_SOURCES.rglob("*.scala"))
    if not any(ENGINE_SOURCES in p.parents for p in found):
        raise SystemExit("perfbench: no engine sources to compile")
    return found


def build() -> Path:
    """Compiles when any source changed; returns the class directory."""
    srcs = sources()
    jars = spark_jars()
    digest = hashlib.sha256()
    for p in srcs:
        digest.update(str(p.relative_to(ROOT)).encode())
        digest.update(p.read_bytes())
    stamp = digest.hexdigest()
    classes = WORK / "classes"
    stamp_file = WORK / "classes.stamp"
    if classes.is_dir() and stamp_file.exists() and stamp_file.read_text() == stamp:
        return classes
    tmp = WORK / "classes.tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    (WORK / "tmp").mkdir(parents=True, exist_ok=True)
    cp = f"{jars}/*"
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={WORK / 'tmp'}", "-cp", cp,
           "scala.tools.nsc.Main", "-classpath", cp, "-d", str(tmp), "-nowarn",
           *map(str, srcs)]
    log = WORK / "build.log"
    with open(log, "w") as f:
        rc = subprocess.run(cmd, stdout=f, stderr=subprocess.STDOUT, cwd=ROOT).returncode
    if rc != 0:
        sys.stderr.write(log.read_text()[-4000:])
        raise SystemExit(f"perfbench: compile failed (exit {rc}); log in {log}")
    shutil.rmtree(classes, ignore_errors=True)
    tmp.rename(classes)
    stamp_file.write_text(stamp)
    return classes


def classpath(classes: Path) -> str:
    return os.pathsep.join([str(classes), str(ENGINE_RESOURCES), f"{spark_jars()}/*"])


if __name__ == "__main__":
    print(build())
