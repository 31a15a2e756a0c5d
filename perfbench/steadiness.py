#!/usr/bin/env python3
"""Run-to-run steadiness of the end-to-end metrics: runs each workload once
per seed (untraced) and prints, per metric, the median and the spread
(interquartile range over median, statistics.quantiles(n=4)) next to the
metric's bound in BENCHMARK.json. Raw results go to
.perfbench_out/steadiness-<workload>.json.

    python3 perfbench/steadiness.py --workloads demo_frame llm_ingest --seeds 1 2 3 4 5
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def main():
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workloads", nargs="+", default=[w["name"] for w in spec["workloads"]])
    ap.add_argument("--seeds", nargs="+", type=int, default=list(range(1, 11)))
    ap.add_argument("--seconds", type=int, default=spec["run_seconds"])
    a = ap.parse_args()
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    os.makedirs(os.path.join(ROOT, ".perfbench_out"), exist_ok=True)
    summary = {}
    for w in a.workloads:
        runs = []
        for s in a.seeds:
            t0 = time.time()
            p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", w,
                                "--seed", str(s), "--seconds", str(a.seconds), "--trace", "0"],
                               cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                               text=True)
            lines = [l for l in p.stdout.splitlines() if l.strip()]
            res = json.loads(lines[-1]) if p.returncode == 0 and lines else None
            rep = next((json.loads(l)["report"] for l in lines if l.startswith('{"report"')), {})
            runs.append({"seed": s, "rc": p.returncode, "wall_s": time.time() - t0,
                         "result": res, "load_avg_1m": [rep.get("load_avg_1m_start"),
                                                        rep.get("load_avg_1m_end")],
                         "process_cpu_share": rep.get("process_cpu_share"),
                         "cpu_steal_share": rep.get("cpu_steal_share")})
            print(f"{w} seed {s}: rc {p.returncode} wall {time.time() - t0:.1f}s "
                  f"load {runs[-1]['load_avg_1m']} steal {rep.get('cpu_steal_share')}",
                  file=sys.stderr)
        ok = [r["result"] for r in runs if r["result"] and r["result"]["correct"]]
        stats = {}
        for m in bounds:
            vals = [r["metrics"][m]["value"] for r in ok]
            if len(vals) >= 2:
                q1, med, q3 = statistics.quantiles(vals, n=4)
                stats[m] = {"median": statistics.median(vals), "spread": (q3 - q1) / statistics.median(vals),
                            "bound": bounds[m], "n": len(vals)}
        summary[w] = {"runs": len(runs), "correct": len(ok), "metrics": stats,
                      "max_wall_s": max(r["wall_s"] for r in runs)}
        with open(os.path.join(ROOT, ".perfbench_out", f"steadiness-{w}.json"), "w") as fh:
            json.dump({"runs": runs, "summary": summary[w]}, fh, indent=1)
    print(json.dumps(summary, indent=1))


if __name__ == "__main__":
    main()
