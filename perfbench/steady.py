#!/usr/bin/env python3
"""Steadiness check: runs one workload with several seeds, one after the
other, and reports for each end-to-end metric the median and the spread
(distance between the first and third quartile, as a share of the median)
next to the metric's bound from BENCHMARK.json.

Usage (from the repository root):
    python3 perfbench/steady.py --workload W [--seeds 1-10] [--out FILE]
--out appends every run's metrics as one JSON line to FILE.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--out")
    a = ap.parse_args()
    lo, hi = (int(x) for x in a.seeds.split("-"))
    bench = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    runs = []
    for seed in range(lo, hi + 1):
        r = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload",
                            a.workload, "--seed", str(seed), "--seconds",
                            str(bench["run_seconds"]), "--trace", "0"],
                           cwd=ROOT, stdout=subprocess.PIPE, text=True)
        res = json.loads(r.stdout.strip().splitlines()[-1])
        res.update(workload=a.workload, seed=seed)
        runs.append(res)
        if a.out:
            with open(a.out, "a") as f:
                f.write(json.dumps(res) + "\n")
        print(seed, res["correct"], res["attempted"], res["failed"], flush=True)
    ok = True
    for m in bench["end_to_end"]:
        v = [r["metrics"][m["name"]]["value"] for r in runs]
        q1, med, q3 = statistics.quantiles(v, n=4)
        spread = (q3 - q1) / med
        flag = "" if m["name"] == "setup_s" or spread < m["bound"] / 3 else "  <-- above bound/3"
        ok &= flag == ""
        print(f"{m['name']:18s} median {med:12.4f} {m['unit']:5s} spread {spread:6.3f}"
              f"  bound {m['bound']}{flag}")
    sys.exit(0 if ok and all(r["correct"] for r in runs) else 1)


if __name__ == "__main__":
    main()
