#!/usr/bin/env python3
"""Self-test of the benchmark at tiny size. Checks that
  1. every metric BENCHMARK.json names prints with its unit, untraced
     (end-to-end) and traced (per-layer);
  2. an injected wrong result is counted as a failed op, for a catalog
     entry and for an ingest cycle;
  3. every traced span nests inside its parent span.
Usage (from the repository root): python3 perfbench/selftest.py
Exit code = number of failed checks.
"""
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TOL_MS = 2.0


def run(*args):
    r = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--tiny",
                        "--seed", "7", "--seconds", "1"] + list(args),
                       cwd=ROOT, stdout=subprocess.PIPE, text=True)
    if r.returncode != 0:
        return None, None
    lines = r.stdout.strip().splitlines()
    return json.loads(lines[-1]), json.loads(lines[-2])["detail"]


def main():
    bench = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    want = {"0": {m["name"]: m["unit"] for m in bench["end_to_end"]},
            "1": {m["name"]: m["unit"] for m in bench["per_layer"]}}
    light = json.load(open(os.path.join(HERE, "workloads.json")))[
        "catalog"]["entries"]["perfbench/data/sf0.01"][0]
    bad = []

    def expect(ok, what):
        print(("ok   " if ok else "FAIL ") + what)
        if not ok:
            bad.append(what)

    cases = [("ingest", "0", "cycle"), ("catalog", "1", light)]
    for wl, trace, inject in cases:
        res, detail = run("--workload", wl, "--trace", trace)
        expect(res is not None, f"{wl} trace={trace} runs")
        if res is None:
            continue
        got = {k: v["unit"] for k, v in res["metrics"].items()}
        expect(got == want[trace], f"{wl} trace={trace}: every metric prints with its unit")
        expect(res["correct"] and res["failed"] == 0, f"{wl}: clean run has no failed op")
        if trace == "1":
            spans = json.load(open(detail["spans_file"]))
            by_id = {s["id"]: s for s in spans}
            loose = [s for s in spans if s["parent"] >= 0 and not (
                s["start"] >= by_id[s["parent"]]["start"] - TOL_MS and
                s["end"] <= by_id[s["parent"]]["end"] + TOL_MS)]
            roots = [s for s in spans if s["parent"] < 0]
            expect(spans and not loose and all(s["layer"] == "op" for s in roots),
                   f"{wl}: {len(spans)} spans nest inside their parents")
        res, _ = run("--workload", wl, "--trace", "0", "--inject-wrong", inject)
        expect(res is not None and not res["correct"] and res["failed"] >= 1,
               f"{wl}: injected wrong result ({inject}) counts as a failed op")
    sys.exit(len(bad))


if __name__ == "__main__":
    main()
