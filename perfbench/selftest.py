#!/usr/bin/env python3
"""Self-test of the benchmark's output check: one short demo_frame run with
a corrupted expectation must report the failure (failed > 0, correct
false) and exit non-zero; the same run without corruption must pass.

    python3 perfbench/selftest.py
"""
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run(*extra):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", "demo_frame",
           "--seed", "7", "--seconds", "1", "--trace", "0", *extra]
    p = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                       text=True, timeout=300)
    lines = [l for l in p.stdout.splitlines() if l.startswith('{"correct"')]
    return p.returncode, (json.loads(lines[-1]) if lines else None)


def main():
    rc, res = run("--corrupt", "q05_groupby_sum")
    assert rc != 0, f"corrupted expectation: exit code {rc}, expected non-zero"
    assert res and not res["correct"] and res["failed"] >= 1, res
    print(f"corrupted expectation: exit {rc}, failed {res['failed']}/{res['attempted']}")
    rc, res = run()
    assert rc == 0 and res and res["correct"] and res["failed"] == 0, (rc, res)
    print(f"clean run: exit 0, failed 0/{res['attempted']}")
    print("selftest: ok")


if __name__ == "__main__":
    main()
