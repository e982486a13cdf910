"""Tiny-size self-test of the benchmark. Run from the repository root:

    python3 etlbench/selftest.py

Checks, on inputs shrunk with --scale, that
  1. a traced run of every workload, including those BENCHMARK.json leaves
     out, prints every per-layer metric that BENCHMARK.json names, and its
     report carries every end-to-end metric;
  2. an untraced run prints every end-to-end metric;
  3. a deliberately corrupted sink fails the output check: the result
     says correct=false with failed runs, and the exit code is nonzero.
Takes a few minutes; exits nonzero on the first failed check.
"""
import json
import subprocess
import sys
from pathlib import Path

sys.dont_write_bytecode = True
from run import WORKLOADS  # noqa: E402

ROOT = Path(__file__).resolve().parent.parent
SCALE = "0.02"


def run(workload, trace, corrupt="0"):
    cmd = [sys.executable, str(ROOT / "etlbench" / "run.py"), "--workload", workload,
           "--seed", "7", "--seconds", "1", "--trace", trace, "--scale", SCALE,
           "--corrupt-sink", corrupt]
    done = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                          text=True, timeout=900)
    lines = [l for l in done.stdout.splitlines() if l.strip()]
    result = json.loads(lines[-1]) if lines else None
    report = next((json.loads(l)["etlbench"] for l in lines if l.startswith('{"etlbench"')), None)
    return done.returncode, result, report


def expect(cond, what):
    print(("ok   " if cond else "FAIL ") + what)
    if not cond:
        sys.exit(1)


def main():
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    e2e = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    layers = {m["name"]: m["unit"] for m in spec["per_layer"]}

    def has_all(metrics, names):
        return all(n in metrics and metrics[n]["unit"] == u
                   and isinstance(metrics[n]["value"], (int, float)) for n, u in names.items())

    for w in WORKLOADS:
        code, result, report = run(w, "1")
        expect(code == 0 and result and result["correct"] and result["failed"] == 0,
               f"{w}: traced run passes its output check")
        expect(set(result) == {"correct", "attempted", "failed", "metrics"}, f"{w}: result keys")
        expect(has_all(result["metrics"], layers), f"{w}: every per-layer metric printed")
        expect(report and set(e2e) <= set(report["end_to_end"]), f"{w}: report has every end-to-end metric")

    w = spec["workloads"][0]["name"]
    code, result, _ = run(w, "0")
    expect(code == 0 and result["correct"] and has_all(result["metrics"], e2e),
           f"{w}: untraced run prints every end-to-end metric")

    code, result, _ = run(w, "0", corrupt="1")
    expect(code != 0 and result and not result["correct"] and result["failed"] > 0,
           f"{w}: a corrupted sink fails the check and the exit code")
    print("selftest passed")


if __name__ == "__main__":
    main()
