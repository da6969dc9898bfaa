#!/usr/bin/env python3
"""Self-test: an operation that fails is reported as failed, never timed.

Runs rpc_testsuite and rpc_dag with one extra case whose query names a
missing table (an error response), and ops_suite with one extra key whose
builder throws. Each run must report the failure in `failed`, set `correct` to
false, name it on a FAILED line, and keep it out of the timings.

Usage (from the repository root): python3 perfbench/selftest.py
Takes about three minutes; exits non-zero on the first broken promise.
"""
import glob
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def run(workload):
    p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload, "--seed", "7",
                        "--seconds", "1", "--trace", "0", "--inject-failure"],
                       cwd=os.path.dirname(HERE), capture_output=True, text=True, timeout=900)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        sys.exit(f"{workload}: run failed (exit {p.returncode})\n{p.stderr[-3000:]}")
    record = max(glob.glob(os.path.join(HERE, ".work", "records", f"{workload}-seed7-trace0-*.json")),
                 key=os.path.getmtime)
    return json.loads(lines[-1]), [l for l in lines if l.startswith("FAILED")], json.load(open(record))


def check(cond, what):
    print(("ok   " if cond else "FAIL ") + what)
    if not cond:
        sys.exit(1)


def main():
    result, failed_lines, record = run("rpc_testsuite")
    check(result["failed"] >= 1 and result["correct"] is False, "rpc_testsuite: the error response counts as failed")
    check(any("does not exist" in l for l in failed_lines), "rpc_testsuite: a FAILED line names the erroring case")
    n_cases = record["samples"]["cases"]
    check(n_cases % record["samples"]["rounds"] == 0 and n_cases // record["samples"]["rounds"] == 8,
          "rpc_testsuite: only the 8 passing cases are timed")

    result, failed_lines, record = run("rpc_dag")
    check(result["failed"] == 1 and result["correct"] is False, "rpc_dag: the error response counts as failed")
    check(any("does not exist" in l for l in failed_lines), "rpc_dag: a FAILED line names the erroring case")

    result, failed_lines, record = run("ops_suite")
    check(result["failed"] == 1 and result["correct"] is False, "ops_suite: the throwing key counts as failed")
    check(any("perfbench_throwing_key" in l for l in failed_lines), "ops_suite: a FAILED line names the key")
    check("perfbench_throwing_key" not in record["per_key_wall_s"] and len(record["per_key_wall_s"]) == 6,
          "ops_suite: only the 6 passing keys are timed")


if __name__ == "__main__":
    main()
