#!/usr/bin/env python3
"""Paired benchmark runs of two checkouts: a parent commit and a change.

usage: python3 tools/bench_pairs.py PARENT_DIR CHANGE_DIR --seeds 1-10 --workload all

For each seed it runs `perfbench/run.py` untraced once in each checkout,
alternating which side runs first (odd seeds: parent first). It prints every
run, then, per workload and end-to-end metric of BENCHMARK.json: both medians,
the change-vs-parent difference, the parent's spread (IQR / median), the
metric's bound and a verdict:

  within bound         the change's median is not worse than the parent's by
                       more than the bound, and the parent's spread is within
                       the bound (or every change run beats every parent run)
  worse beyond bound   the change's median is worse by more than the bound
  unresolved           the parent's own spread is wider than the bound

Neither checkout's BENCHMARK.json nor perfbench/ is modified; each checkout
builds its own benchmark once (perfbench/run.py does that on its first run).
"""
import argparse
import json
import os
import statistics
import subprocess
import sys


def parse_seeds(text):
    """'1-10' or '1,3,5' (or a mix) as a list of ints."""
    seeds = []
    for part in text.split(","):
        lo, _, hi = part.partition("-")
        seeds += range(int(lo), int(hi or lo) + 1)
    return seeds


def run_once(checkout, workload, seed, seconds):
    """One untraced run: (metrics by 'workload.metric', attempted, failed), or None."""
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", "0"],
        cwd=checkout, stdin=subprocess.DEVNULL, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
        text=True)
    lines = [ln for ln in proc.stdout.splitlines() if ln.startswith("{")]
    if not lines:
        sys.stderr.write(proc.stderr[-2000:])
        return None
    result = json.loads(lines[-1])
    metrics = {k if workload == "all" else f"{workload}.{k}": v["value"]
               for k, v in result["metrics"].items()}
    return metrics, result["attempted"], result["failed"]


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0]
    q = statistics.quantiles(xs, n=4, method="inclusive")
    return q[0], q[2]


def verdict(parent, change, better, bound):
    """(change-vs-parent fraction, parent IQR/median, verdict) for one metric."""
    pm, cm = statistics.median(parent), statistics.median(change)
    diff = (cm - pm) / pm
    worse = diff if better == "lower" else -diff
    q1, q3 = quartiles(parent)
    spread = (q3 - q1) / pm
    if worse > bound:
        return diff, spread, "worse beyond bound"
    beats = (max(change) < min(parent)) if better == "lower" else (min(change) > max(parent))
    if spread > bound and not beats:
        return diff, spread, "unresolved"
    return diff, spread, "within bound"


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("parent_dir")
    ap.add_argument("change_dir")
    ap.add_argument("--seeds", required=True, help="e.g. 1-10 or 1,3,5")
    ap.add_argument("--workload", required=True, help="a BENCHMARK.json workload, or all")
    a = ap.parse_args()
    with open(os.path.join(a.parent_dir, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    workloads = [w["name"] for w in spec["workloads"]]
    if a.workload != "all" and a.workload not in workloads:
        ap.error(f"unknown workload {a.workload}; one of {workloads} or all")
    metrics = spec["end_to_end"]
    sides = {"parent": a.parent_dir, "change": a.change_dir}
    runs = {"parent": [], "change": []}
    ops = {side: [0, 0] for side in sides}
    names = [m["name"] for m in metrics]
    print("side seed " + " ".join(f"{w}.{n}" for w in workloads for n in names), flush=True)
    for seed in parse_seeds(a.seeds):
        for side in (("parent", "change") if seed % 2 else ("change", "parent")):
            got = run_once(sides[side], a.workload, seed, spec["run_seconds"])
            if got is None:
                print(f"{side} {seed} FAILED (no result line)", flush=True)
                continue
            values, attempted, failed = got
            runs[side].append(values)
            ops[side][0] += attempted
            ops[side][1] += failed
            print(f"{side} {seed} " + " ".join(
                f"{values[f'{w}.{n}']:.4g}" if f"{w}.{n}" in values else "-"
                for w in workloads for n in names), flush=True)
    for side, (attempted, failed) in ops.items():
        print(f"{side}: {len(runs[side])} runs, {failed} of {attempted} operations failed")
    print("workload metric parent_median change_median change_vs_parent parent_iqr/median bound verdict")
    for w in workloads:
        for m in metrics:
            key = f"{w}.{m['name']}"
            parent = [r[key] for r in runs["parent"] if key in r]
            change = [r[key] for r in runs["change"] if key in r]
            if not parent or not change:
                continue
            diff, spread, v = verdict(parent, change, m["better"], m["bound"])
            print(f"{w} {m['name']} {statistics.median(parent):.4g} {statistics.median(change):.4g} "
                  f"{diff:+.1%} {spread:.2f} {m['bound']:.2f} {v}")


if __name__ == "__main__":
    main()
