#!/usr/bin/env python3
"""Steadiness runner: runs each workload over ten seeds, in two sets, at
BENCHMARK.json's run_seconds, and checks every end-to-end metric against
BENCHMARK.json's bounds.

    python3 perfbench/steady.py                    # every workload
    python3 perfbench/steady.py --workloads build  # some of them
    python3 perfbench/steady.py --traced           # also one traced run
                                                   # per workload and set

For each workload and metric it prints the median and quartiles of each
set, the spread (interquartile range over the median, by Python's
statistics.quantiles(n=4)) and the shift of the second set's median against
the first. A spread above the metric's bound fails, and so does a second
median worse than the first by more than the bound. It also prints the
percentile and sample count behind each tail metric, and with --traced the
tracing overhead on op_p50_ms and throughput_per_s (traced value against
the untraced median) and the traced run's job attribution.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETS = 2
SEEDS = 10


def run_once(workload, seed, seconds, trace):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    p = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    lines = p.stdout.strip().splitlines()
    report = {}
    for line in lines:
        if line.startswith("[perfbench] ") and " = " in line:
            k, v = line[len("[perfbench] "):].split(" = ", 1)
            report[k] = float(v.split()[0])
    try:
        result = json.loads(lines[-1])
    except (IndexError, json.JSONDecodeError):
        result = None
    if p.returncode != 0 or result is None or not result.get("correct"):
        sys.stderr.write(p.stderr[-3000:])
        raise SystemExit(f"{workload} seed {seed} trace {trace}: rc={p.returncode}")
    return result, report


def quartiles(values):
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


def worse_by(metric, first, second):
    """Share by which `second` is worse than `first` (negative = better)."""
    if metric["better"] == "lower":
        return (second - first) / first
    return (first - second) / first


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawDescriptionHelpFormatter)
    names = [w["name"] for w in bench["workloads"]]
    ap.add_argument("--workloads", default=",".join(names))
    ap.add_argument("--traced", action="store_true")
    a = ap.parse_args()
    unknown = [w for w in a.workloads.split(",") if w not in names]
    if unknown:
        ap.error(f"unknown workload(s) {unknown}; BENCHMARK.json has {names}")
    seconds = bench["run_seconds"]
    metrics = bench["end_to_end"]
    ok = True
    for wl in a.workloads.split(","):
        sets, reports, traced = [], [], []
        for s in range(SETS):
            runs = []
            for i in range(SEEDS):
                seed = 1000 * (s + 1) + i
                res, rep = run_once(wl, seed, seconds, 0)
                runs.append(res["metrics"])
                reports.append(rep)
                print(f"[steady] {wl} set {s + 1} seed {seed}: " + ", ".join(
                    f"{m['name']}={res['metrics'][m['name']]['value']:.4g}" for m in metrics),
                    flush=True)
            sets.append(runs)
            if a.traced:
                res, _ = run_once(wl, 1000 * (s + 1) + 999, seconds, 1)
                traced.append(res["metrics"])
        print(f"\n[steady] === {wl}: {SETS} sets of {SEEDS} seeds, {seconds}s runs ===")
        medians = []
        for m in metrics:
            name = m["name"]
            line = f"  {name:28s}"
            meds = []
            for runs in sets:
                vals = [r[name]["value"] for r in runs]
                q1, med, q3 = quartiles(vals)
                spread = (q3 - q1) / med
                meds.append(med)
                flag = ""
                if spread > m["bound"]:
                    flag, ok = " SPREAD>BOUND", False
                line += f" | med {med:.5g} q1 {q1:.5g} q3 {q3:.5g} spread {spread:.3f}{flag}"
            shift = worse_by(m, meds[0], meds[1])
            flag = ""
            if shift > m["bound"]:
                flag, ok = " SHIFT>BOUND", False
            line += f" | 2nd worse by {shift:+.3f} (bound {m['bound']}){flag}"
            print(line)
            medians.append((name, meds[0]))
        for tail, n, pct in (("query_tail_ms", "query_n", "query_tail_pct"),
                             ("topk_tail_ms", "topk_n", "topk_tail_pct"),
                             ("dist_tail_ms", "dist_n", "dist_tail_pct"),
                             ("build_tail_s", "builds", "build_tail_pct")):
            ns = [r[n] for r in reports if n in r]
            if ns:
                pcts = sorted({r.get(pct, 0) for r in reports})
                print(f"  {tail:28s} percentile(s) {pcts}, samples per run "
                      f"min {min(ns):.0f} median {statistics.median(ns):.0f} max {max(ns):.0f}")
        med = dict(medians)
        for t in traced:
            for name in ("op_p50_ms", "throughput_per_s"):
                tv = t[f"trace.{name}"]["value"]
                print(f"  tracing overhead on {name}: traced {tv:.5g} vs untraced median "
                      f"{med[name]:.5g} ({(tv - med[name]) / med[name]:+.3f})")
            print(f"  traced run: {t['trace.spans']['value']:.0f} spans, "
                  f"{t['trace.unattributed_jobs']['value']:.0f} unattributed jobs, "
                  f"{t['trace.fallback_jobs']['value']:.0f} attributed by the fallback rule")
        print(flush=True)
    print("[steady] PASS" if ok else "[steady] FAIL")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
