"""End-to-end benchmark of the reference pipeline, StravaEtl.addHistoryData.

    python3 etlbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the program from source (etlbench/build.py), generates the
workload's input files from the seed, and runs one JVM that times
add_history_data from those files into the parquet sink, checks the
sink after every run, and prints one JSON result as its last line:
the end-to-end metrics with --trace 0, the per-layer metrics of a
separate traced run with --trace 1. Exits nonzero when a run fails or
its output check fails. See etlbench/README.md.

--scale <f> shrinks the inputs (self-test); --corrupt-sink 1 deletes a
written sink file before each check, which must then fail.
"""
import argparse
import os
import shutil
import signal
import subprocess
import sys

sys.dont_write_bytecode = True
from build import OUT, BuildError, classpath  # noqa: E402

WORKLOADS = ("backfill_long", "backfill_short", "incremental")
HEAP = "3g"
# under the 180 s a run of a BENCHMARK.json workload may take; incremental,
# run by hand only, takes longer with --trace 1
RUN_TIMEOUT_S = {"incremental": 400}
# Spark 4 on JDK 17 outside spark-submit (org.apache.spark.launcher.JavaModuleOptions)
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    ap.add_argument("--scale", type=float, default=1.0)
    ap.add_argument("--corrupt-sink", choices=("0", "1"), default="0")
    a = ap.parse_args()
    try:
        cp = classpath()
    except BuildError as e:
        print(f"etlbench: {e}", file=sys.stderr)
        return 2

    work = OUT / "runs" / f"{a.workload}-seed{a.seed}-trace{a.trace}-pid{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    cmd = ["java", *ADD_OPENS, f"-Xmx{HEAP}", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={work / 'tmp'}", "-Duser.timezone=UTC",
           "-cp", cp, "graft.etlbench.Main",
           "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
           "--trace", a.trace, "--scale", str(a.scale), "--corrupt-sink", a.corrupt_sink,
           "--work", str(work)]
    sys.stdout.flush()
    proc = subprocess.Popen(cmd)
    # stopped from outside: stop the JVM too, and wait for it
    for sig in (signal.SIGTERM, signal.SIGINT):
        signal.signal(sig, lambda signum, _: sys.exit(128 + signum))
    try:
        timeout = RUN_TIMEOUT_S.get(a.workload, 170)
        code = proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        print(f"etlbench: run exceeded {timeout} s", file=sys.stderr)
        code = 3
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()
    for d in ("inputs", "warm", "spark-local", "warehouse", "tmp"):
        shutil.rmtree(work / d, ignore_errors=True)
    return code


if __name__ == "__main__":
    sys.exit(main())
