#!/usr/bin/env python3
"""Steadiness check: runs each workload with several seeds and reports, per
metric, the median, the quartiles and the spread (interquartile distance
over the median) against the bound in BENCHMARK.json.

    python3 perfbench/steady.py [--runs 10] [--workloads stream,batch]
                                [--trace]

Seeds run from 1 to --runs. A metric is "steady" when its spread is below a
third of its bound, and "within" when below the bound itself.
With --trace every seed also runs traced, and the tracing overhead (traced
minus untraced median) is printed. Run from the root of a checkout.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run(w, seed, seconds, trace):
    r = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", w,
                        "--seed", str(seed), "--seconds", str(seconds),
                        "--trace", str(int(trace))],
                       cwd=ROOT, stdout=subprocess.PIPE, text=True, timeout=900)
    if r.returncode != 0:
        sys.exit("%s seed %d: run.py exited with %d" % (w, seed, r.returncode))
    res = json.loads(r.stdout.strip().splitlines()[-1])
    if not res["correct"]:
        sys.exit("%s seed %d: %d of %d ops failed" % (w, seed, res["failed"], res["attempted"]))
    return {k: v["value"] for k, v in res["metrics"].items()}


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--workloads", default=",".join(w["name"] for w in bench["workloads"]))
    ap.add_argument("--trace", action="store_true")
    a = ap.parse_args()

    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    report = {}
    for w in a.workloads.split(","):
        rows = []
        traced = []
        for i in range(a.runs):
            seed = i + 1
            rows.append(run(w, seed, bench["run_seconds"], False))
            print("%s seed %d: %s" % (w, seed, json.dumps(rows[-1])), file=sys.stderr, flush=True)
            if a.trace:
                traced.append(run(w, seed, bench["run_seconds"], True))
                print("%s seed %d traced: %s" % (w, seed, json.dumps(traced[-1])),
                      file=sys.stderr, flush=True)
        report[w] = {}
        for m, bound in bounds.items():
            vals = [r[m] for r in rows]
            med = statistics.median(vals)
            if len(vals) >= 2:
                q1, _, q3 = statistics.quantiles(vals, n=4)
            else:
                q1 = q3 = vals[0]
            spread = (q3 - q1) / med if med else float("inf")
            verdict = ("steady" if spread < bound / 3 else
                       "within" if spread <= bound else "UNSTEADY")
            report[w][m] = {"median": med, "q1": q1, "q3": q3, "spread": spread,
                            "bound": bound, "verdict": verdict, "values": vals}
            print("%-10s %-18s median %12.3f  q1 %12.3f  q3 %12.3f  spread %6.3f  bound %.2f  %s"
                  % (w, m, med, q1, q3, spread, bound, verdict))
        if traced:
            for m in ("latency_p50_ms", "throughput_per_s"):
                t = statistics.median(r["trace." + m] for r in traced)
                u = report[w][m]["median"]
                report[w]["trace_overhead." + m] = t - u
                print("%-10s tracing overhead on %s: %+.3f (traced %.3f, untraced %.3f)"
                      % (w, m, t - u, t, u))
    print(json.dumps(report))


if __name__ == "__main__":
    main()
