#!/usr/bin/env python3
"""The repository benchmark: one command that builds the engine from
source, runs one workload against it, checks every output, and prints the
metrics as the last line of standard output.

Usage (from the repository root):
    python3 perfbench/run.py --workload ingest|catalog
        --seed N --seconds S --trace 0|1

--trace 0 prints the end-to-end metrics (tracing off). --trace 1 also runs
the measured phase with Spark's listeners registered and prints the
per-layer metrics, the traced-minus-untraced overhead and the span tree in
<build>/work/<workload>/spans.json. See perfbench/README.md.
"""
import argparse
import json
import math
import os
import random
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import build   # noqa: E402
import checks  # noqa: E402

with open(os.path.join(HERE, "workloads.json")) as _f:
    WORKLOADS = json.load(_f)

ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]
LEVELS = {"codegen.compile_ms_p50", "jvm.heap_peak_mb", "stream.state_rows"}
WARM_SECONDS = 10
JVM_TIMEOUT_S = 150
MODULES = ["relational", "functions", "scalar", "ingest", "dedup", "similarity",
           "text", "multimodal", "streaming", "pipeline", "observability"]


def cpus():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def quantile(vals, p):
    """Harrell-Davis estimate of the p-quantile: a mean of all order
    statistics weighted by the Beta(p(n+1), (1-p)(n+1)) density over each
    one's 1/n of the unit interval. A catalog pass mixes entries whose
    latencies sit apart, and a single order statistic jumps from one entry
    to the next between runs."""
    v = sorted(vals)
    n = len(v)
    a, b = p * (n + 1), (1 - p) * (n + 1)
    steps = 100 * n
    w = [0.0] * n
    for k in range(steps):
        x = (k + 0.5) / steps
        w[k * n // steps] += math.exp((a - 1) * math.log(x) + (b - 1) * math.log1p(-x))
    return sum(wi * vi for wi, vi in zip(w, v)) / sum(w)


def tail(vals):
    """Latency at the highest percentile with at least ten samples beyond
    it, with that percentile and the sample count."""
    n = len(vals)
    if n <= 10:
        return max(vals), 100.0, n
    return quantile(vals, (n - 10) / n), 100.0 * (n - 10) / n, n


def e2e(passes, setup, heap, spec, stored):
    """End-to-end metrics of one phase's measured passes."""
    ops = [o for p in passes for o in p["ops"]]
    lat = [o["latency_s"] for o in ops if o["kind"] != "backfill"]
    by_kind = {}
    for o in ops:
        by_kind.setdefault(o["name"], []).append(o["latency_s"])
    geo = math.exp(statistics.fmean(math.log(max(statistics.median(v), 1e-9))
                                    for v in by_kind.values()))
    if spec["kind"] == "ingest":
        # all measured ops' articles over all their time: the median of a
        # run's two or three backfills alone spread up to 0.25 across seeds
        thr = sum(s["articles"] for s in stored) / sum(o["latency_s"] for o in ops)
    else:
        thr = len(ops) / sum(p["wall_s"] for p in passes)
    t, pct, n = tail(lat)
    m = {"setup_s": setup["total_s"],
         "wall_s": statistics.median(p["wall_s"] for p in passes),
         "op_p50_s": quantile(lat, 0.5),
         "op_tail_s": t,
         "query_geomean_s": geo,
         "throughput_per_s": thr,
         "cpu_s": statistics.median(p["cpu_s"] for p in passes),
         "heap_live_mb": heap}
    return m, {"tail_percentile": pct, "tail_n": n, "passes": len(passes),
               "op_medians": {k: statistics.median(v) for k, v in by_kind.items()}}


def span_tree(spans):
    """Parents each listener span under the smallest span of its op that
    contains it (a stage under its own job) and returns (spans, self
    seconds by layer, spans that fit no parent)."""
    tol = 2.0   # listener times are whole milliseconds
    own = [s for s in spans if "id" in s]
    nid = max((s["id"] for s in own), default=-1) + 1
    placed = {}
    for s in own:
        placed.setdefault(s["op"], []).append(s)

    def inside(c, p):
        return c["start"] >= p["start"] - tol and c["end"] <= p["end"] + tol

    rank = {"trigger": 0, "job": 2, "stage": 3}
    derived = sorted((s for s in spans if "id" not in s), key=lambda s: rank.get(s["name"], 1))
    jobs = {}
    orphans = []
    for s in derived:
        s["id"] = nid
        nid += 1
        # planning phases are siblings, never nested in one another
        cands = [p for p in placed.get(s["op"], []) if inside(s, p)
                 and not (s["layer"] == p["layer"] == "plans")]
        job = jobs.get((s["op"], s.get("job")))
        if s["name"] == "stage" and job in cands:
            parent = job
        else:
            parent = min(cands, key=lambda p: p["end"] - p["start"], default=None)
        s["parent"] = parent["id"] if parent else -1
        if parent is None:
            orphans.append(s)
        placed.setdefault(s["op"], []).append(s)
        if s["name"] == "job":
            jobs[(s["op"], s["job"])] = s
    alls = own + derived
    kids = {}
    for s in alls:
        kids.setdefault(s["parent"], []).append(s)
    self_s = {}
    for s in alls:
        iv = sorted((max(c["start"], s["start"]), min(c["end"], s["end"]))
                    for c in kids.get(s["id"], []))
        covered, cur_s, cur_e = 0.0, None, None
        for a, b in iv:
            if b <= a:
                continue
            if cur_e is None or a > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = a, b
            else:
                cur_e = max(cur_e, b)
        if cur_e is not None:
            covered += cur_e - cur_s
        layer = s["layer"] if s["layer"] in ("op", "plans") else s["name"]
        self_s[layer] = self_s.get(layer, 0.0) + max(0.0, s["end"] - s["start"] - covered) / 1000
    return alls, self_s, orphans


def per_layer(result, traced, traced_m, stored):
    n = len(traced)
    lay = result["layers"]
    m = {}
    m["session.build_s"] = result["setup"]["build_s"]
    m["session.install_s"] = result["setup"]["install_s"]
    ops = [o for p in traced for o in p["ops"]]
    for mod in MODULES:
        mine = [o for o in ops if o["module"] == mod]
        m[f"{mod}.build_s"] = sum(o["build_s"] for o in mine) / n
        m[f"{mod}.exec_s"] = sum(o["exec_s"] for o in mine) / n
        m[f"{mod}.ops"] = len(mine) / n
    # listener and JVM counters are totals over the traced passes; levels
    # (a median, a peak, a state size) are reported as read
    for k, v in lay.items():
        m[k] = v if k in LEVELS else v / n
    inv = lay.get("plans.graft_rule_invocations", 0.0)
    m["plans.graft_rules_effective_ratio"] = lay.get("plans.graft_rule_effective", 0.0) / inv if inv else 0.0
    m["exec.busy_ratio"] = lay.get("exec.task_run_s", 0.0) / (
        sum(p["wall_s"] for p in traced) * cpus())
    cycles = [o for o in ops if o["kind"] == "cycle"]
    m["stream.start_stop_s"] = max(0.0, sum(o["latency_s"] for o in cycles) / n -
                                   m.get("stream.trigger_s", 0.0))
    m["jvm.peak_rss_mb"] = result["peak_rss_mb"]
    m["jvm.process_cpu_s"] = traced_m["cpu_s"]
    m["sink.files"] = sum(s["files"] for s in stored) / n
    batch_writes = sum(o["exec_s"] for o in ops if o["kind"] != "cycle")
    m["sink.write_s"] = batch_writes / n + m.get("stream.add_batch_s", 0.0)
    vb = sum(s["valid_bytes"] for s in stored)
    m["sink.bytes_per_article"] = sum(s["bytes"] for s in stored) / vb if vb else 0.0
    spans, self_s, orphans = span_tree(result["spans"])
    for layer in ("op", "build", "write", "cycle", "plans", "job", "stage", "trigger"):
        m[f"self.{layer}_s"] = self_s.get(layer, 0.0) / n
    m["trace.orphan_spans"] = float(len(orphans))
    m["trace.overhead_wall_s"] = overhead(result["passes"], lambda p: p["wall_s"])
    m["trace.overhead_op_p50_s"] = overhead(result["passes"], lambda p: quantile(
        [o["latency_s"] for o in p["ops"] if o["kind"] != "backfill"], 0.5))
    return m, spans


def overhead(passes, value):
    """Median over the complete untraced/traced pairs of traced minus
    untraced `value`; the order within a pair alternates."""
    pairs = {}
    for p in passes:
        pairs.setdefault(p["pair"], {})[p["phase"]] = value(p)
    return statistics.median(d["traced"] - d["untraced"] for d in pairs.values() if len(d) == 2)


def run(args):
    spec = dict(WORKLOADS[args.workload])
    if args.tiny:
        spec.update(pages=5, cycles=2, feed_passes=1, warm_passes=1)
    bdir = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    os.makedirs(bdir, exist_ok=True)
    cp = build.build(bdir)
    work = os.path.join(bdir, "work", args.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp", "java"))
    conf = {"workload": spec["kind"], "work": work, "seconds": args.seconds,
            "trace": bool(args.trace), "cpus": cpus(),
            "inject_wrong": args.inject_wrong or "", "warm_seconds": WARM_SECONDS}
    if spec["kind"] == "ingest":
        feed = os.path.join(work, "feed")
        passes = spec["feed_passes"] * (2 if args.trace else 1)
        subprocess.run([sys.executable, os.path.join(HERE, "gen_feed.py"), feed,
                        "--seed", str(args.seed), "--passes", str(passes),
                        "--pages", str(spec["pages"]), "--cycles", str(spec["cycles"]),
                        "--pages-per-cycle", str(spec["pages_per_cycle"]),
                        "--warm", str(spec["warm_passes"])], check=True)
        conf.update(feed=feed, feed_passes=passes, cycles=spec["cycles"],
                    warm_passes=spec["warm_passes"])
    else:
        # (entry, data set) pairs; at tiny size the first entry of each set
        entries = [[n, os.path.join(ROOT, d)] for d, names in spec["entries"].items()
                   for n in (names[:1] if args.tiny else names)]
        random.Random(args.seed).shuffle(entries)
        conf.update(entries=entries, probe=spec["probe"], warm_passes=spec["warm_passes"],
                    min_passes=1 if args.tiny else spec["min_passes"],
                    probe_data=os.path.join(ROOT, spec["probe_data"]))
    with open(os.path.join(work, "config.json"), "w") as f:
        json.dump(conf, f)
    cmd = ["java"] + ADD_OPENS + [
        "-XX:-UsePerfData", "-Dspark.ui.enabled=false", "-Duser.timezone=UTC",
        "-Xms3g", "-Xmx3g", "-Djava.io.tmpdir=" + os.path.join(work, "tmp", "java"),
        "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties"),
        "-cp", cp, "perfbench.Harness", os.path.join(work, "config.json")]
    with open(os.path.join(work, "jvm.log"), "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=work)
        try:
            code = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            code = "timeout"
        finally:
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    if code != 0:
        with open(os.path.join(work, "jvm.log")) as f:
            sys.stderr.write(f.read()[-4000:])
        sys.exit(f"benchmark JVM failed: {code}")
    with open(os.path.join(work, "result.json")) as f:
        result = json.load(f)

    # ---- output checks (outside every timed region) ----
    measured = result["passes"]
    stored = {}
    if spec["kind"] == "ingest":
        for p in measured:
            stored[p["tag"]] = checks.check_ingest_pass(p, conf["feed"])
    else:
        cats = {d: checks.Catalog(d, os.path.join(bdir, f"digests-{os.path.basename(d)}.json"))
                for d in {d for _, d in conf["entries"]}}
        for p in measured:
            for op in p["ops"]:
                op["check"] = op["error"] or cats[op["data"]].check(op, result["oracle_sql"])
            stored[p["tag"]] = {"files": sum(
                len([f for f in os.listdir(o["out"]) if f.startswith("part-")])
                for o in p["ops"] if os.path.isdir(o["out"])), "bytes": 0, "valid_bytes": 0}
    ops = [o for p in measured for o in p["ops"]]
    bad = [o for o in ops if o["check"]]
    for o in bad[:20]:
        sys.stderr.write(f"[perfbench] FAILED {o['name']}: {o['check']}\n")
    setup_err = [result["setup"]["probe_error"]] if result["setup"]["probe_error"] else []
    warm_err = [o["error"] for p in result["warmup"] for o in p["ops"] if o["error"]]
    for e in setup_err + warm_err:
        sys.stderr.write(f"[perfbench] set-up/warm-up op failed: {e}\n")

    untraced = [p for p in measured if p["phase"] == "untraced"]
    traced = [p for p in measured if p["phase"] == "traced"]
    heap = result["heap_live_mb"]
    mu, du = e2e(untraced, result["setup"], heap, spec, [stored[p["tag"]] for p in untraced])
    detail = {"workload": args.workload, "seed": args.seed, "cpus": cpus(),
              "untraced": du, "failed_ops": [[o["name"], o["check"]] for o in bad]}
    if args.trace:
        mt, dt = e2e(traced, result["setup"], heap, spec, [stored[p["tag"]] for p in traced])
        metrics, spans = per_layer(result, traced, mt, [stored[p["tag"]] for p in traced])
        with open(os.path.join(work, "spans.json"), "w") as f:
            json.dump(spans, f)
        detail.update(traced=dt, end_to_end_untraced=mu, end_to_end_traced=mt,
                      tracing_overhead={k: metrics[f"trace.overhead_{k}"]
                                        for k in ("wall_s", "op_p50_s")},
                      spans=len(spans), spans_file=os.path.join(work, "spans.json"))
        # a layer the workload never reaches reads 0
        out = {k: {"value": metrics.get(k, 0.0), "unit": u} for k, u in units("per_layer")}
    else:
        out = {k: {"value": mu[k], "unit": u} for k, u in units("end_to_end")}
    print(json.dumps({"detail": detail}))
    return {"correct": not bad and not setup_err and not warm_err,
            "attempted": len(ops), "failed": len(bad), "metrics": out}


def units(kind):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return [(m["name"], m["unit"]) for m in json.load(f)[kind]]


def main():
    # a terminated run unwinds, so the JVM it started is killed and reaped
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--inject-wrong", default=None,
                    help="self-test: corrupt this entry's result ('cycle' drops a page)")
    ap.add_argument("--tiny", action="store_true",
                    help="self-test size: a 5-page feed with 2 cycles, or one catalog entry per data set")
    args = ap.parse_args()
    t0 = time.time()
    res = run(args)
    sys.stderr.write(f"[perfbench] {args.workload} done in {time.time() - t0:.1f} s\n")
    print(json.dumps(res))


if __name__ == "__main__":
    main()
