#!/usr/bin/env python3
"""Steadiness check: two sets of benchmark runs must agree within the
bounds in BENCHMARK.json.

For each workload it runs `run.py` --runs times per set, each run with its
own seed (set A: seeds 1.., set B: seeds 1001..), and prints per metric
the median, the quartiles and the interquartile spread as a share of the
median. A metric agrees when each set's spread is within its bound and the
two medians differ, either way, by no more than the bound (as a share of
set A's median).

Usage (from the repo root):
    python3 perfbench/steadiness.py [--runs 10] [--workloads a,b] [--trace 0|1]
    python3 perfbench/steadiness.py --load A.jsonl B.jsonl
Each set's results are also written to <build dir>/steadiness-<set>.jsonl,
which --load reads back.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys


def run_set(bench, workloads, runs, first_seed, trace, path):
    with open(path, "w") as out:
        for w in workloads:
            for seed in range(first_seed, first_seed + runs):
                cmd = bench["command"] + ["--workload", w, "--seed", str(seed),
                                          "--seconds", str(bench["run_seconds"]),
                                          "--trace", str(trace)]
                p = subprocess.run(cmd, stdout=subprocess.PIPE, text=True)
                if p.returncode != 0:
                    sys.exit(f"{w} seed {seed}: exit {p.returncode}")
                lines = p.stdout.strip().splitlines()
                res = json.loads(lines[-1])
                rec = {"workload": w, "seed": seed, **res,
                       "failures": [x for x in lines if "  FAILED " in x or "  WRONG " in x]}
                out.write(json.dumps(rec) + "\n")
                out.flush()
                vals = " ".join(f"{k}={v['value']:.4g}" for k, v in res["metrics"].items())
                print(f"  {w} seed {seed}: failed {res['failed']}/{res['attempted']} {vals}",
                      flush=True)
                for x in rec["failures"]:
                    print(f"    {x[:200]}", flush=True)


def load(path):
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]


def stats(values):
    q1, med, q3 = statistics.quantiles(values, n=4)
    return med, q1, q3, (q3 - q1) / med if med else float("inf")


def agreement(metric, a_vals, b_vals):
    """(spread_a, spread_b, drift, ok) for one metric; drift is set B's
    median less set A's, as a share of A's. Two sets of the same code must
    agree both ways, so a set that reads better counts as much as one that
    reads worse."""
    *_, sa = stats(a_vals)
    *_, sb = stats(b_vals)
    ma, mb = statistics.median(a_vals), statistics.median(b_vals)
    drift = (mb - ma) / ma if ma else float("inf")
    bound = metric["bound"]
    return sa, sb, drift, sa <= bound and sb <= bound and abs(drift) <= bound


def report(bench, set_a, set_b, trace):
    metrics = bench["per_layer"] if trace else bench["end_to_end"]
    all_ok = True
    for w in sorted({r["workload"] for r in set_a}):
        ra = [r for r in set_a if r["workload"] == w]
        rb = [r for r in set_b if r["workload"] == w]
        fails = sum(r["failed"] for r in ra + rb)
        tries = sum(r["attempted"] for r in ra + rb)
        print(f"\n{w}: {len(ra)} + {len(rb)} runs, failed {fails} of {tries} executions")
        print(f"  {'metric':<34} {'set':>3} {'median':>12} {'q1':>12} {'q3':>12} "
              f"{'spread':>8} {'bound':>6}")
        for m in metrics:
            name = m["name"]
            a = [r["metrics"][name]["value"] for r in ra]
            b = [r["metrics"][name]["value"] for r in rb]
            for label, vals in (("A", a), ("B", b)):
                med, q1, q3, sp = stats(vals)
                print(f"  {name:<34} {label:>3} {med:12.5g} {q1:12.5g} {q3:12.5g} "
                      f"{sp:8.4f} {m.get('bound', float('nan')):6.3f}")
            if "bound" in m:
                sa, sb, drift, ok = agreement(m, a, b)
                all_ok &= ok
                print(f"  {'':<34} {'':>3} drift B vs A {drift:+.4f}  "
                      f"{'AGREE' if ok else 'DISAGREE'}"
                      f"{'' if max(sa, sb) < m['bound'] / 3 else '  (spread above bound/3)'}")
    print("\nall metrics agree within bounds" if all_ok else "\nsome metrics DISAGREE")
    return all_ok


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--workloads")
    ap.add_argument("--trace", type=int, default=0, choices=(0, 1))
    ap.add_argument("--load", nargs=2, metavar=("A", "B"))
    a = ap.parse_args()
    with open("BENCHMARK.json") as f:
        bench = json.load(f)
    if a.load:
        set_a, set_b = load(a.load[0]), load(a.load[1])
    else:
        workloads = a.workloads.split(",") if a.workloads else \
            [w["name"] for w in bench["workloads"]]
        build_dir = os.path.abspath(os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
        os.makedirs(build_dir, exist_ok=True)
        paths = [os.path.join(build_dir, f"steadiness-{s}.jsonl") for s in "AB"]
        for path, first in zip(paths, (1, 1001)):
            print(f"set {os.path.basename(path)}:")
            run_set(bench, workloads, a.runs, first, a.trace, path)
        set_a, set_b = load(paths[0]), load(paths[1])
    sys.exit(0 if report(bench, set_a, set_b, a.trace) else 1)


if __name__ == "__main__":
    main()
