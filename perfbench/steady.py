#!/usr/bin/env python3
"""Steadiness check: two sets of runs of each workload, compared.

    python3 perfbench/steady.py [--runs 10] [--workloads batch,sql] [--out FILE]

Runs the benchmark command from BENCHMARK.json `--runs` times per workload
in each of two sets, every run with its own seed (set 1: seeds 1..runs,
set 2: seeds 101..100+runs), interleaving the workloads so host drift
falls on all of them alike. For every end-to-end metric it prints each
set's median, each set's spread (quartile distance over median, as
statistics.quantiles(n=4) gives the quartiles) and how far the second
median moved from the first, each against the metric's bound. It also
prints every run's attempted and failed operation counts, and whether the
failed share is the same in both sets. Run from the repository root.
"""
import argparse
import json
import statistics
import subprocess
import sys
import time


def run(cmd, workload, seed, seconds):
    t0 = time.time()
    p = subprocess.run(cmd + ["--workload", workload, "--seed", str(seed), "--seconds",
                              str(seconds), "--trace", "0"],
                       stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    wall = time.time() - t0
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stderr[-3000:])
        raise SystemExit(f"{workload} seed {seed}: exit {p.returncode}")
    res = json.loads(lines[-1])
    res["wall_s"] = wall
    return res


def spread(values):
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--workloads", default=None, help="comma-separated; default all")
    ap.add_argument("--out", default=None, help="write every run's result here as JSON")
    args = ap.parse_args()
    with open("BENCHMARK.json") as fh:
        bench = json.load(fh)
    workloads = args.workloads.split(",") if args.workloads else [w["name"] for w in bench["workloads"]]
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    lower = {m["name"]: m["better"] == "lower" for m in bench["end_to_end"]}

    results = {w: [[], []] for w in workloads}
    for s in range(2):
        for i in range(args.runs):
            seed = 100 * s + i + 1
            for w in workloads:
                r = run(bench["command"], w, seed, bench["run_seconds"])
                results[w][s].append(r)
                print(f"set {s + 1} {w:6s} seed {seed:3d}: correct={r['correct']} "
                      f"attempted={r['attempted']} failed={r['failed']} wall={r['wall_s']:.1f}s "
                      + " ".join(f"{k}={v['value']:.4g}" for k, v in r["metrics"].items()),
                      flush=True)
    if args.out:
        with open(args.out, "w") as fh:
            json.dump(results, fh, indent=1)

    ok = True
    for w in workloads:
        print(f"\n== {w}")
        sets = results[w]
        shares = [sum(r["failed"] for r in rs) / sum(r["attempted"] for r in rs) for rs in sets]
        wrong = sum(not r["correct"] for rs in sets for r in rs)
        print(f"   failed share per set: {shares}; runs with a wrong answer: {wrong}")
        ok &= wrong == 0 and len(set(shares)) == 1
        print(f"   {'metric':26s} {'bound':>6s} " + " ".join(
            f"{'median' + str(s + 1):>12s} {'spread' + str(s + 1):>8s}" for s in range(2))
            + "  change")
        for name, bound in bounds.items():
            vals = [[r["metrics"][name]["value"] for r in rs] for rs in sets]
            meds = [statistics.median(v) for v in vals]
            sprs = [spread(v) for v in vals]
            line = f"   {name:26s} {bound:6.2f} " + " ".join(
                f"{m:12.5g} {s:8.3f}" for m, s in zip(meds, sprs))
            change = (meds[1] - meds[0]) / meds[0]
            line += f"  {change:+.3f}"
            flags = []
            if any(s > bound for s in sprs):
                flags.append("SPREAD>BOUND")
            elif any(s > bound / 3 for s in sprs):
                flags.append("spread>bound/3")
            if (change if lower[name] else -change) > bound:
                flags.append("WORSE>BOUND")
            ok &= not any(f.isupper() for f in flags)
            print(line + ("  " + " ".join(flags) if flags else ""))
    print("\nsteady" if ok else "\nNOT steady")
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
