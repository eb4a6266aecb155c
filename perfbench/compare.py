#!/usr/bin/env python3
"""Compare two sets of benchmark results.

    python3 perfbench/compare.py <parent results> <change results>

Each side is a directory (or a single file) of run records written by
run.py. For every (workload, end-to-end metric) it prints each side's
median and quartiles with the sample count, the change against the
parent, the fixed bound and a verdict:

  ok          the change's median is not worse than the parent's by more
              than the bound
  REGRESSION  it is
  unresolved  either side's spread (quartile distance over median) is
              wider than the bound, so the medians cannot be trusted to
              the bound, unless every change run reads better than every
              parent run ("better")

Bounds come from BENCHMARK.json only. The end-to-end metrics it does
not gate (README.md says why) are printed with "not gated" in place of
a bound and verdict.

Traced records (--trace 1) are listed separately: for the count metrics
that should repeat exactly, each side says whether they did.
"""
import glob
import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))

EXACT_COUNTS = ["sched.jobs", "sched.stages", "sched.tasks", "sources.input_rows",
                "shuffle.records", "streaming.batches", "state.store_commits",
                "state.rows_total"]


def bounds():
    """{metric: (better, bound)} for the metrics BENCHMARK.json gates."""
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        return {m["name"]: (m["better"], m["bound"]) for m in json.load(f)["end_to_end"]}


def load(path):
    files = sorted(glob.glob(os.path.join(path, "*.json"))) if os.path.isdir(path) else [path]
    out = []
    for f in files:
        with open(f) as fh:
            out.append(json.load(fh))
    return out


def quartiles(values):
    """(q1, median, q3) as statistics.quantiles(values, n=4) gives them."""
    if len(values) < 2:
        return values[0], values[0], values[0]
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


def spread(values):
    q1, med, q3 = quartiles(values)
    return (q3 - q1) / abs(med) if med else 0.0


def verdict(parent, change, better, bound):
    """One of ok / REGRESSION / unresolved / better (see module doc)."""
    pm, cm = quartiles(parent)[1], quartiles(change)[1]
    if better == "lower":
        all_better = max(change) < min(parent)
        worse = (cm - pm) / abs(pm) if pm else (1.0 if cm > pm else 0.0)
    else:
        all_better = min(change) > max(parent)
        worse = (pm - cm) / abs(pm) if pm else (1.0 if cm < pm else 0.0)
    if max(spread(parent), spread(change)) > bound and bound > 0:
        return "better" if all_better else "unresolved"
    return "REGRESSION" if worse > bound else "ok"


def values_by(records, trace):
    """{(workload, metric): [values]} over records of one trace mode."""
    out = {}
    for r in records:
        if r["trace"] != trace:
            continue
        src = r["per_layer"] if trace else {k: m["value"] for k, m in r["end_to_end"].items()}
        for k, v in src.items():
            if v is not None:
                out.setdefault((r["workload"], k), []).append(v)
    return out


def fmt(values):
    q1, med, q3 = quartiles(values)
    return f"{med:.6g} [{q1:.6g}, {q3:.6g}] n={len(values)}"


def main(argv):
    if len(argv) != 3:
        print(__doc__, file=sys.stderr)
        return 2
    parent, change = load(argv[1]), load(argv[2])
    b = bounds()
    pv, cv = values_by(parent, 0), values_by(change, 0)
    print("workload metric | parent median [q1, q3] | change median [q1, q3] | change | bound | verdict")
    for key in sorted(set(pv) & set(cv)):
        w, m = key
        p, c = pv[key], cv[key]
        pm, cm = quartiles(p)[1], quartiles(c)[1]
        rel = f"{(cm - pm) / pm:+.1%}" if pm else "n/a"
        if m in b:
            better, bound = b[m]
            tail = f"{bound:.0%} {better} | {verdict(p, c, better, bound)}"
        else:
            tail = "- | not gated"
        print(f"{w} {m} | {fmt(p)} | {fmt(c)} | {rel} | {tail}")
    for name, recs in (("parent", parent), ("change", change)):
        tv = values_by(recs, 1)
        for w in sorted({k[0] for k in tv}):
            rep = [f"{m}={'repeats' if len(set(tv[(w, m)])) == 1 else 'spread ' + fmt(tv[(w, m)])}"
                   for m in EXACT_COUNTS if (w, m) in tv]
            print(f"{name} traced {w}: " + ", ".join(rep))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
