#!/usr/bin/env python3
"""Repeat the benchmark over seeds and report each metric's spread.

    python3 perfbench/steady.py --workload W --seeds 1-10 [--trace 0|1] [--out FILE]

For every metric: the median of the runs and the spread, the distance
between the first and third quartile (statistics.quantiles, n=4) as a
share of the median. Run from the repository root; the run length comes
from BENCHMARK.json.
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


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--trace", default="0")
    ap.add_argument("--out")
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    runs = []
    for seed in seeds(a.seeds):
        t0 = time.time()
        p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", a.workload,
                            "--seed", str(seed), "--seconds", str(spec["run_seconds"]),
                            "--trace", a.trace], cwd=ROOT, capture_output=True, text=True)
        line = p.stdout.strip().splitlines()[-1] if p.stdout.strip() else "{}"
        res = json.loads(line)
        res.update(seed=seed, exit=p.returncode, run_s=round(time.time() - t0, 1),
                   log=[x for x in p.stderr.splitlines() if x.startswith("[perfbench]")])
        runs.append(res)
        print(json.dumps(res), flush=True)
    summary = {}
    for name in runs[0].get("metrics", {}):
        xs = [r["metrics"][name]["value"] for r in runs if "metrics" in r]
        med = statistics.median(xs)
        q1, _, q3 = statistics.quantiles(xs, n=4)
        summary[name] = {"median": med, "q1": q1, "q3": q3,
                         "spread": (q3 - q1) / med if med else None}
    for name, s in summary.items():
        print(f"{name:28s} median {s['median']:.6g}  spread {s['spread']}", file=sys.stderr)
    if a.out:
        with open(a.out, "w") as f:
            json.dump({"workload": a.workload, "trace": a.trace, "runs": runs,
                       "summary": summary}, f, indent=1)


if __name__ == "__main__":
    main()
