#!/usr/bin/env python3
"""Steadiness check: runs each workload in two alternating sets of runs,
each run with its own seed, and prints for every end-to-end metric its
median and quartiles per set, its spread (quartile distance over the
median) and the gap between the two sets' medians, next to the metric's
bound in BENCHMARK.json.

    python3 perfbench/steady.py --runs 5 [--workloads cdc_stream,table_dml] [--traced]

``--traced`` then makes one traced run per workload and prints its
per-layer metrics and the tracing overhead: the traced run's end-to-end
figures against the untraced medians. Results are also written to
``.perfbench/steady.json``.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys


def run(workload, seed, seconds, trace):
    p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds),
                        "--trace", str(trace)], capture_output=True, text=True)
    if p.returncode != 0:
        sys.stderr.write(p.stderr[-3000:])
        raise SystemExit(f"{workload} seed {seed} failed")
    return json.loads(p.stdout.strip().splitlines()[-1])


def quartiles(xs):
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, statistics.median(xs), q3


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=5, help="runs per set and workload")
    ap.add_argument("--workloads", default="")
    ap.add_argument("--first-seed", type=int, default=100)
    ap.add_argument("--traced", action="store_true")
    a = ap.parse_args()
    bench = json.load(open("BENCHMARK.json"))
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    workloads = a.workloads.split(",") if a.workloads else [w["name"] for w in bench["workloads"]]

    sets = {w: ([], []) for w in workloads}
    seed = a.first_seed
    for i in range(a.runs):
        for s in (0, 1):  # alternate the sets so drift lands on both
            for w in workloads:
                r = run(w, seed, bench["run_seconds"], 0)
                sets[w][s].append(r)
                print(f"{w} set {s + 1} seed {seed}: failed {r['failed']}/{r['attempted']} "
                      + " ".join(f"{k}={v['value']:.4g}" for k, v in sorted(r["metrics"].items())),
                      flush=True)
                seed += 1

    report = {}
    for w in workloads:
        print(f"\n{w}")
        print(f"  {'metric':20} {'set':>3} {'q1':>12} {'median':>12} {'q3':>12} "
              f"{'spread':>7} {'gap':>7} {'bound':>6}")
        report[w] = {}
        for m in sorted(sets[w][0][0]["metrics"]):
            rows = []
            for s in (0, 1):
                xs = [r["metrics"][m]["value"] for r in sets[w][s]]
                q1, med, q3 = quartiles(xs)
                rows.append((q1, med, q3, (q3 - q1) / med, xs))
            gap = (rows[1][1] - rows[0][1]) / rows[0][1]
            report[w][m] = {"sets": [dict(zip(("q1", "median", "q3", "spread", "values"), r))
                                     for r in rows], "gap": gap, "bound": bounds.get(m)}
            for s, (q1, med, q3, spread, _) in enumerate(rows):
                tail = f"{gap:+7.3f} {bounds.get(m, 0):6.2f}" if s == 1 else ""
                print(f"  {m if s == 0 else '':20} {s + 1:>3} {q1:12.5g} {med:12.5g} {q3:12.5g} "
                      f"{spread:7.3f} {tail}")
        fails = [(r["failed"], r["attempted"]) for s in sets[w] for r in s]
        print(f"  failed/attempted per run: {sorted(set(fails))}")
        report[w]["_failed"] = fails

    if a.traced:
        for w in workloads:
            r = run(w, a.first_seed, bench["run_seconds"], 1)
            t = json.load(open(f".perfbench/traces/{w}-seed{a.first_seed}.json"))
            print(f"\n{w} traced (seed {a.first_seed})")
            for k, v in sorted(r["metrics"].items()):
                print(f"  {k:40} {v['value']:14.6g} {v['unit']}")
            print("  tracing overhead (traced - untraced median):")
            for k, v in sorted(t["detail"].get("traced_e2e", {}).items()):
                base = statistics.median(x["metrics"][k]["value"]
                                         for s in sets[w] for x in s)
                print(f"  {k:40} {v:14.6g} {v - base:+14.6g} ({(v - base) / base:+.1%})")
            report[w]["_traced"] = {"metrics": r["metrics"], "detail": t["detail"]}

    os.makedirs(".perfbench", exist_ok=True)
    with open(".perfbench/steady.json", "w") as f:
        json.dump(report, f, indent=1)


if __name__ == "__main__":
    main()
