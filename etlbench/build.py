"""Builds the benchmark: compiles the program's sources (src/main/scala),
then the benchmark's own (etlbench/src) against them, with the Scala
compiler that ships with the Spark jars the program builds against, into
.bench_build/etlbench/program-<hash>/ and .bench_build/etlbench/bench-<hash>/.

Each is reused while its sources do not change, so editing the benchmark
does not recompile the program. Run it alone with
`python3 etlbench/build.py`; it prints the runtime classpath.
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
BENCH = ROOT / "etlbench"
OUT = ROOT / ".bench_build" / "etlbench"
PROGRAM_SRC = ROOT / "src" / "main" / "scala"
RESOURCES = ROOT / "src" / "main" / "resources"
ENTRY = PROGRAM_SRC / "graft" / "etl" / "StravaEtl.scala"


class BuildError(Exception):
    pass


def spark_jars() -> Path:
    """$SPARK_HOME/jars, else the jars directory build.sbt compiles against."""
    if "SPARK_HOME" in os.environ:
        jars = Path(os.environ["SPARK_HOME"]) / "jars"
    else:
        sbt = ROOT / "build.sbt"
        found = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)',
                          sbt.read_text() if sbt.is_file() else "")
        if not found:
            raise BuildError("set SPARK_HOME: build.sbt names no unmanagedBase")
        jars = Path(found.group(1))
    if not any(jars.glob("spark-sql_*.jar")):
        raise BuildError(f"no Spark jars under {jars} (set SPARK_HOME)")
    return jars


def classpath() -> str:
    """Runtime classpath: the benchmark's and the program's classes, the
    program's resources and Spark."""
    return os.pathsep.join([*map(str, build()), str(RESOURCES), str(spark_jars() / "*")])


def build() -> tuple:
    """(benchmark classes, program classes), compiling what changed."""
    if not ENTRY.is_file():
        raise BuildError(f"{ENTRY.relative_to(ROOT)} not found: run from a checkout of the program")
    jars = spark_jars()
    compiler = [next(iter(sorted(jars.glob(f"scala-{p}-2.13*.jar"))), None)
                for p in ("compiler", "library", "reflect")]
    if None in compiler:
        raise BuildError(f"no Scala 2.13 compiler jars under {jars}")
    program = compile_once("program", sorted(PROGRAM_SRC.rglob("*.scala")), compiler,
                           str(jars / "*"))
    bench = compile_once("bench", sorted((BENCH / "src").rglob("*.scala")), compiler,
                         os.pathsep.join([str(program), str(jars / "*")]), salt=program.name)
    return bench, program


def compile_once(kind: str, sources: list, compiler: list, cp: str, salt: str = "") -> Path:
    """Compiles `sources` into OUT/<kind>-<hash of sources, compiler and
    salt>, unless that directory is already complete."""
    digest = hashlib.sha256(salt.encode())
    for f in sources + compiler:
        digest.update(str(f.relative_to(ROOT) if f.is_relative_to(ROOT) else f.name).encode())
        digest.update(f.read_bytes() if f.suffix == ".scala" else b"")
    classes = OUT / f"{kind}-{digest.hexdigest()[:16]}"
    if (classes / ".done").exists():
        return classes

    staging = OUT / f"staging-{kind}-{os.getpid()}"
    shutil.rmtree(staging, ignore_errors=True)
    (staging / "classes").mkdir(parents=True)
    (staging / "tmp").mkdir()
    argfile = staging / "sources.txt"
    argfile.write_text("\n".join(str(f) for f in sources) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={staging / 'tmp'}",
           "-cp", os.pathsep.join(str(j) for j in compiler),
           "scala.tools.nsc.Main", "-nowarn", "-d", str(staging / "classes"),
           "-classpath", cp, f"@{argfile}"]
    try:
        done = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, timeout=800)
    except subprocess.TimeoutExpired:
        shutil.rmtree(staging, ignore_errors=True)
        raise BuildError(f"scalac timed out on the {kind} sources")
    if done.returncode != 0:
        shutil.rmtree(staging, ignore_errors=True)
        raise BuildError(f"scalac failed on the {kind} sources:\n"
                         + done.stdout.decode(errors="replace")[-4000:])
    shutil.rmtree(classes, ignore_errors=True)
    (staging / "classes").rename(classes)
    shutil.rmtree(staging, ignore_errors=True)
    (classes / ".done").touch()
    return classes


if __name__ == "__main__":
    try:
        print(classpath())
    except BuildError as e:
        print(f"build: {e}", file=sys.stderr)
        sys.exit(2)
