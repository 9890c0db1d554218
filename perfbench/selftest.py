#!/usr/bin/env python3
"""Self-test of the benchmark's own checks. Run from the repository root:

    python3 perfbench/selftest.py

1. For every workload, a run with --plant-fault (one observed answer is
   corrupted before it is checked) must report correct=false, count the
   failure, and exit non-zero.
2. A directory holding only BENCHMARK.json and perfbench/ (no engine
   sources) must make the benchmark exit non-zero without a result line.
"""
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ["loader_tar", "curate_text", "table_churn"]


def run(args, cwd):
    p = subprocess.run([sys.executable, "perfbench/run.py"] + args, cwd=cwd,
                       stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True, timeout=180)
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    return p.returncode, (lines[-1] if lines else "")


def main():
    failures = []
    for w in WORKLOADS:
        rc, last = run(["--workload", w, "--seed", "7", "--seconds", "1", "--plant-fault"], ROOT)
        try:
            res = json.loads(last)
        except ValueError:
            res = None
        ok = rc != 0 and res is not None and res["correct"] is False and res["failed"] >= 1
        print(f"{'ok  ' if ok else 'FAIL'} planted fault in {w}: exit {rc}, result {last[:120]}")
        if not ok:
            failures.append(w)

    bare = os.path.join(ROOT, ".bench_build", "selftest-bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns("target", "__pycache__"))
    rc, last = run(["--workload", "loader_tar", "--seed", "1", "--seconds", "1", "--trace", "0"], bare)
    ok = rc != 0 and not last.startswith("{")
    print(f"{'ok  ' if ok else 'FAIL'} bare directory: exit {rc}")
    if not ok:
        failures.append("bare")
    shutil.rmtree(bare, ignore_errors=True)

    if failures:
        print("selftest FAILED:", ", ".join(failures))
        sys.exit(1)
    print("selftest ok")


if __name__ == "__main__":
    main()
