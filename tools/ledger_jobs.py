#!/usr/bin/env python3
"""Spark jobs per parent span, from perfbench traces.

A perfbench traced run (`perfbench/run.py --trace 1`) writes its spans to
`.bench_build/traces/<workload>-seed<N>-<pid>.json`; every Spark job is a
`spark.job` span whose parent is the innermost engine span that launched it
(e.g. `validate.violations`).

usage:
  python3 tools/ledger_jobs.py TRACE.json            # jobs per span, per operation
  python3 tools/ledger_jobs.py BEFORE.json AFTER.json  # mean jobs per span, and the diff

Jobs outside any operation (setup, warm-up) are listed under op 0.
"""
import json
import sys
from collections import Counter, defaultdict


def jobs_per_span(path):
    """{op: Counter(parent span name -> Spark jobs)} of one trace."""
    with open(path) as fh:
        spans = json.load(fh)["spans"]
    names = {s["id"]: s["name"] for s in spans}
    per_op = defaultdict(Counter)
    for s in spans:
        if s["name"] == "spark.job":
            per_op[s["op"]][names.get(s["parent"], "(no span)")] += 1
    return per_op


def means(per_op):
    """Mean jobs per span name over the trace's operations (op 0 excluded):
    a span that runs in only some operations (e.g. a resume leg) still
    shows, and the rows add up to the total."""
    ops = [c for op, c in per_op.items() if op != 0]
    names = sorted({n for c in ops for n in c})
    return {n: sum(c[n] for c in ops) / len(ops) for n in names}, len(ops)


def fmt(x):
    return f"{x:.2f}".rstrip("0").rstrip(".")


def show(path):
    per_op = jobs_per_span(path)
    names = sorted({n for c in per_op.values() for n in c})
    ops = sorted(per_op)
    width = max([len(n) for n in names] + [len("span")])
    print(f"{'span':<{width}} " + " ".join(f"{'op ' + str(op):>6}" for op in ops))
    for n in names:
        print(f"{n:<{width}} " + " ".join(f"{per_op[op][n]:>6}" for op in ops))
    print(f"{'total':<{width}} " + " ".join(f"{sum(per_op[op].values()):>6}" for op in ops))


def diff(before, after):
    (a, na), (b, nb) = means(jobs_per_span(before)), means(jobs_per_span(after))
    names = sorted(set(a) | set(b))
    width = max([len(n) for n in names] + [len("span")])
    print(f"mean Spark jobs per operation ({na} vs {nb} operations)")
    print(f"{'span':<{width}} {'before':>8} {'after':>8} {'delta':>8}")
    for n in names + ["total"]:
        x = sum(a.values()) if n == "total" else a.get(n, 0)
        y = sum(b.values()) if n == "total" else b.get(n, 0)
        print(f"{n:<{width}} {fmt(x):>8} {fmt(y):>8} {fmt(y - x):>8}")


def main(argv):
    if len(argv) == 1:
        show(argv[0])
    elif len(argv) == 2:
        diff(*argv)
    else:
        sys.exit(__doc__)


if __name__ == "__main__":
    main(sys.argv[1:])
