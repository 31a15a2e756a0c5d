#!/usr/bin/env python3
"""Benchmark entry point: builds the engine and the benchmark from source,
then runs one workload in one JVM at local[nproc] and relays its output.
The last stdout line is the result JSON (correct, attempted, failed,
metrics).

    python3 perfbench/run.py --workload demo_frame --seed 1 --seconds 20 --trace 0

Workloads: demo_frame, llm_ingest (see perfbench/RECORD.json). The metric
names and units come from BENCHMARK.json.
Inputs are generated under .perfbench_run/ from --seed and removed at exit;
the run's report and spans are kept in .perfbench_out/.
"""
import argparse
import os
import shutil
import subprocess
import sys
import threading
import time

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

ROOT = build.ROOT
# A run must end within 180 s once built; leave room for JVM teardown.
JVM_DEADLINE_S = 170
JDK_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


def heap_gb():
    """Driver heap as the repo's Tier-1 suite sizes it: half of RAM, 2-8 GiB."""
    try:
        with open("/proc/meminfo") as fh:
            kb = next(int(l.split()[1]) for l in fh if l.startswith("MemTotal:"))
        return max(2, min(8, kb // 2097152))
    except (OSError, StopIteration, ValueError):
        return 2


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", choices=["0", "1"], default="0")
    ap.add_argument("--corrupt", help="self-test: corrupt this query's expectation")
    a = ap.parse_args()

    classes = build.build()
    work = os.path.join(ROOT, ".perfbench_run", f"{a.workload}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    cmd = ["java"] + [x for p in JDK_OPENS for x in
                      ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    cmd += [f"-Xmx{heap_gb()}g", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", os.pathsep.join([classes, os.path.join(ROOT, "src", "main", "resources"),
                                    os.path.join(build.spark_jars(), "*")]),
            "perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", a.trace,
            "--work", work, "--out", os.path.join(ROOT, ".perfbench_out"),
            "--expected", os.path.join(ROOT, "perfbench", "expected.json"),
            "--spec", os.path.join(ROOT, "BENCHMARK.json")]
    if a.corrupt:
        cmd += ["--corrupt", a.corrupt]

    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True, cwd=ROOT)
    timer = threading.Timer(JVM_DEADLINE_S, proc.kill)
    timer.start()
    last = None
    t0 = time.time()
    try:
        for line in proc.stdout:
            line = line.rstrip("\n")
            if line.strip():
                last = line
                print(line, flush=True)
        rc = proc.wait()
    finally:
        timer.cancel()
        if proc.poll() is None:
            proc.kill()
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
    if time.time() - t0 >= JVM_DEADLINE_S:
        print(f"perfbench: run killed after {JVM_DEADLINE_S} s", file=sys.stderr)
        return 3
    if rc == 0 and not (last and last.startswith('{"correct"')):
        print("perfbench: the run printed no result", file=sys.stderr)
        return 4
    return rc


if __name__ == "__main__":
    sys.exit(main())
