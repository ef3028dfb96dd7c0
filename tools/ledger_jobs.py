#!/usr/bin/env python3
"""Spark jobs per parent span, from perfbench traces.

A perfbench traced run (`perfbench/run.py --trace 1`) writes its spans and
per-operation ledgers to `.bench_build/traces/<workload>-seed<N>-<pid>.json`;
every Spark job is a `spark.job` span whose parent is the innermost engine
span that launched it (e.g. `validate.violations`).

usage:
  python3 tools/ledger_jobs.py TRACE.json            # jobs per span, per operation
  python3 tools/ledger_jobs.py BEFORE.json AFTER.json  # mean jobs per span, and the diff,
      # then the mean of every ledger count (spark.exchanges, ...), and the diff

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


def op_ids(per_op):
    """The trace's operations (op 0 excluded)."""
    return sorted(op for op in per_op if op != 0)


def means(per_op):
    """Mean jobs per span name over the trace's operations: a span that
    runs in only some operations (e.g. a resume leg) still shows, and the
    rows add up to the total."""
    ops = [per_op[op] for op in op_ids(per_op)]
    names = sorted({n for c in ops for n in c})
    return {n: sum(c[n] for c in ops) / len(ops) for n in names}, len(ops)


def count_means(path, ops):
    """Mean of every `ledgers[].counts` entry over the operations `ops`."""
    with open(path) as fh:
        ledgers = {l["op"]: l["counts"] for l in json.load(fh)["ledgers"]}
    counts = [ledgers.get(op, {}) for op in ops]
    names = sorted({n for c in counts for n in c})
    return {n: sum(c.get(n, 0) for c in counts) / len(counts) for n in names}


def fmt(x):
    s = f"{x:,.0f}" if abs(x) >= 1000 else f"{x:.2f}".rstrip("0").rstrip(".")
    return "0" if s == "-0" else s


def show(path):
    per_op = jobs_per_span(path)
    names = sorted({n for c in per_op.values() for n in c})
    ops = sorted(per_op)
    width = max([len(n) for n in names] + [len("span")])
    print(f"{'span':<{width}} " + " ".join(f"{'op ' + str(op):>6}" for op in ops))
    for n in names:
        print(f"{n:<{width}} " + " ".join(f"{per_op[op][n]:>6}" for op in ops))
    print(f"{'total':<{width}} " + " ".join(f"{sum(per_op[op].values()):>6}" for op in ops))


def table(head, rows):
    """Print (name, before, after) rows with their delta."""
    width = max([len(r[0]) for r in rows] + [len(head)])
    cell = max([len(fmt(v)) for r in rows for v in (r[1], r[2], r[2] - r[1])] + [8])
    print(f"{head:<{width}} {'before':>{cell}} {'after':>{cell}} {'delta':>{cell}}")
    for n, x, y in rows:
        print(f"{n:<{width}} {fmt(x):>{cell}} {fmt(y):>{cell}} {fmt(y - x):>{cell}}")


def diff(before, after):
    pa, pb = jobs_per_span(before), jobs_per_span(after)
    (a, na), (b, nb) = means(pa), means(pb)
    names = sorted(set(a) | set(b))
    print(f"mean Spark jobs per operation ({na} vs {nb} operations)")
    table("span", [(n, a.get(n, 0), b.get(n, 0)) for n in names] +
          [("total", sum(a.values()), sum(b.values()))])
    ca, cb = count_means(before, op_ids(pa)), count_means(after, op_ids(pb))
    print()
    print("mean ledger counts per operation")
    table("count", [(n, ca.get(n, 0), cb.get(n, 0)) for n in sorted(set(ca) | set(cb))])


def main(argv):
    if len(argv) == 1:
        show(argv[0])
    elif len(argv) == 2:
        diff(*argv)
    else:
        sys.exit(__doc__)


if __name__ == "__main__":
    main(sys.argv[1:])
