#!/usr/bin/env python3
"""Compare two checkouts (a parent commit and a change) on the benchmark.

    python3 perfbench/compare.py PARENT_DIR CHANGE_DIR [--pairs 10]
        [--workloads assemble,curate,ann_serve] [--seed0 1]

For each workload it runs `--pairs` alternating pairs (the parent first
in even pairs, the change first in odd ones), both sides of a pair on
the same seed, and prints one row per workload and end-to-end metric:
each side's median and quartiles, the change's win fraction (ties count
for neither side) and a verdict against the bound in the change's
BENCHMARK.json:

- unresolved: the parent's own spread (quartile distance over median)
  is wider than the bound, and the change does not beat every parent
  run;
- worse: the change's median is worse than the parent's by more than
  the bound;
- better: the change wins at least 9 pairs in 10 and the medians differ
  by more than the parent's quartile distance;
- same: none of the above.

    python3 perfbench/compare.py --overhead DIR [--pairs 5]

runs traced and untraced runs of one checkout alternately and prints
the tracing overhead per workload: the traced `trace.e2e_s` minus the
untraced `e2e_s`, as medians.
"""
import argparse
import json
import statistics
import subprocess
import sys


def run(checkout, workload, seed, seconds, trace):
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", str(trace)],
        cwd=checkout, stdout=subprocess.PIPE, text=True)
    if proc.returncode != 0:
        sys.exit(f"compare: run failed in {checkout} ({workload}, seed {seed})")
    res = json.loads(proc.stdout.strip().splitlines()[-1])
    if not res["correct"]:
        print(f"  note: {checkout} {workload} seed {seed}: {res['failed']} of "
              f"{res['attempted']} operations failed")
    return {k: v["value"] for k, v in res["metrics"].items()}


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, statistics.median(xs), q3


def verdict(parent, change, m):
    lower = m["better"] == "lower"
    p1, pm, p3 = quartiles(parent)
    _, cm, _ = quartiles(change)
    wins = sum((c < p) if lower else (c > p) for p, c in zip(parent, change))
    losses = sum((c > p) if lower else (c < p) for p, c in zip(parent, change))
    worse_by = ((cm - pm) if lower else (pm - cm)) / pm if pm else 0.0
    beats_all = (max(change) < min(parent)) if lower else (min(change) > max(parent))
    if pm and (p3 - p1) / pm > m["bound"] and not beats_all:
        v = "unresolved"
    elif worse_by > m["bound"]:
        v = "worse"
    elif wins >= 0.9 * len(parent) and abs(cm - pm) > (p3 - p1):
        v = "better"
    else:
        v = "same"
    return wins, losses, worse_by, v


def compare(args):
    with open(f"{args.change}/BENCHMARK.json") as f:
        bench = json.load(f)
    metrics = bench["end_to_end"]
    workloads = args.workloads.split(",") if args.workloads else [w["name"] for w in bench["workloads"]]
    print(f"{'workload':10} {'metric':13} {'parent med [q1,q3]':>28} {'change med [q1,q3]':>28} "
          f"{'wins':>6} {'worse by':>9}  verdict")
    for w in workloads:
        vals = {"parent": [], "change": []}
        for i in range(args.pairs):
            seed = args.seed0 + i
            order = ["parent", "change"] if i % 2 == 0 else ["change", "parent"]
            for side in order:
                checkout = args.parent if side == "parent" else args.change
                vals[side].append(run(checkout, w, seed, bench["run_seconds"], 0))
        for m in metrics:
            p = [r[m["name"]] for r in vals["parent"]]
            c = [r[m["name"]] for r in vals["change"]]
            wins, losses, worse_by, v = verdict(p, c, m)
            fmt = lambda xs: "{1:.4g} [{0:.4g},{2:.4g}]".format(*quartiles(xs))
            print(f"{w:10} {m['name']:13} {fmt(p):>28} {fmt(c):>28} "
                  f"{wins:>2}/{len(p):<3} {worse_by:>+8.1%}  {v}")


def overhead(args):
    with open(f"{args.overhead}/BENCHMARK.json") as f:
        bench = json.load(f)
    for w in [x["name"] for x in bench["workloads"]]:
        plain, traced = [], []
        for i in range(args.pairs):
            plain.append(run(args.overhead, w, args.seed0 + i, bench["run_seconds"], 0)["e2e_s"])
            traced.append(run(args.overhead, w, args.seed0 + i, bench["run_seconds"], 1)["trace.e2e_s"])
        pm, tm = statistics.median(plain), statistics.median(traced)
        print(f"{w:10} untraced e2e_s {pm:.3f}  traced e2e_s {tm:.3f}  "
              f"overhead {tm - pm:+.3f} s ({(tm - pm) / pm:+.1%})")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("parent", nargs="?")
    ap.add_argument("change", nargs="?")
    ap.add_argument("--overhead", metavar="DIR")
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--workloads")
    ap.add_argument("--seed0", type=int, default=1)
    args = ap.parse_args()
    if args.overhead:
        overhead(args)
    elif args.parent and args.change:
        compare(args)
    else:
        ap.error("give PARENT_DIR CHANGE_DIR, or --overhead DIR")


if __name__ == "__main__":
    main()
