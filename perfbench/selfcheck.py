#!/usr/bin/env python3
"""Self-check of the benchmark's failure accounting.

    python3 perfbench/selfcheck.py

Runs the tensors workload with one forced failure (a Spark task that throws
an IllegalStateException caused by an ArithmeticException) and checks that
the failure is counted in `failed` and `fail_ratio` and that the whole cause
chain, down to the root cause, is printed. Exits 0 when it is.
"""
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def main():
    p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", "tensors",
                        "--seed", "1", "--seconds", "1", "--trace", "0", "--force-failure"],
                       capture_output=True, text=True, timeout=600)
    out = p.stdout.strip().splitlines()
    result = json.loads(out[-1]) if out else {}
    cause = "ArithmeticException: root cause of the forced failure"
    checks = {
        "exit code 0": p.returncode == 0,
        "failed >= 1": result.get("failed", 0) >= 1,
        "correct is false": result.get("correct") is False,
        "fail_ratio > 0 printed": any(l.startswith("fail_ratio") and float(l.split()[1]) > 0
                                      for l in out),
        "forced failure reported": "FAILED fit forced_failure" in p.stderr,
        "root cause printed": cause in p.stderr,
        "cause chain printed": "IllegalStateException: forced failure" in p.stderr,
    }
    for name, ok in checks.items():
        print(f"{'ok  ' if ok else 'FAIL'} {name}")
    if not all(checks.values()):
        sys.stderr.write(p.stderr[-4000:])
        sys.exit(1)


if __name__ == "__main__":
    main()
