#!/usr/bin/env python3
"""Alternated parent/change A/B of one perfbench workload.

    python3 tools/ab.py --workload W --seed S [--pairs 10] [--metric M]
                        [--parent REV] [--change REV] [--work DIR]

Exports the parent and change revisions into their own trees (git
archive), then runs each tree's own, unmodified
`perfbench/run.py --workload W --seed S --seconds 1 --trace 0`
alternately: the parent first on odd pairs, the change first on even
pairs. One discarded warm-up run per side comes first, so the build and
the input and oracle caches are in place before any counted run.

The records go to `parent/` and `change/` under
DIR/<workload>-s<seed>-<parent sha>-<change sha>; the script then
prints the change tree's `perfbench/compare.py` table over them. With --metric it also prints
every pair, each side's median and quartiles, and the claim verdict:
the change must win at least 9 of every 10 pairs (ties count for
neither side), and the medians must differ by more than the distance
between the parent's quartiles.

Uncommitted edits to tracked files can be measured with
`--change $(git stash create)`; untracked files are not part of that
revision. The environment passes through to run.py (and from there to
the JVM), so `JAVA_TOOL_OPTIONS` reaches both sides alike.
"""
import argparse
import glob
import json
import math
import os
import shutil
import subprocess
import sys
import tempfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(REPO, "perfbench"))
sys.dont_write_bytecode = True  # leave nothing behind in perfbench/

from compare import quartiles  # noqa: E402


def git(*args):
    return subprocess.run(["git", *args], cwd=REPO, check=True, capture_output=True,
                          text=True).stdout.strip()


def export(rev, work):
    """The tree of `rev` under `work`, exported once per commit."""
    sha = git("rev-parse", "--verify", f"{rev}^{{commit}}")
    tree = os.path.join(work, "trees", sha[:12])
    if not os.path.isdir(tree):
        tmp = tree + ".partial"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        archive = subprocess.Popen(["git", "archive", sha], cwd=REPO, stdout=subprocess.PIPE)
        subprocess.run(["tar", "-x", "-C", tmp], stdin=archive.stdout, check=True)
        if archive.wait() != 0:
            raise SystemExit(f"[ab] git archive {sha} failed")
        os.rename(tmp, tree)
    return sha, tree


def run_one(tree, workload, seed, dest):
    """One run.py invocation in `tree`; its record is moved into `dest`."""
    results = os.path.join(tree, "perfbench", "results")
    before = set(glob.glob(os.path.join(results, "*.json")))
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
           "--seconds", "1", "--trace", "0"]
    r = subprocess.run(cmd, cwd=tree, stdout=subprocess.PIPE, text=True)
    sys.stdout.write(r.stdout)
    sys.stdout.flush()
    new = sorted(set(glob.glob(os.path.join(results, "*.json"))) - before)
    if r.returncode != 0 or len(new) != 1:
        raise SystemExit(f"[ab] run.py failed in {tree} (exit {r.returncode})")
    os.makedirs(dest, exist_ok=True)
    path = shutil.move(new[0], dest)
    with open(path) as f:
        return json.load(f)


def better_of(tree, metric):
    with open(os.path.join(tree, "BENCHMARK.json")) as f:
        bench = json.load(f)
    for m in bench["end_to_end"]:
        if m["name"] == metric:
            return m["better"]
    raise SystemExit(f"[ab] {metric} is not an end-to-end metric of BENCHMARK.json")


def claim(pairs, metric, better):
    """Print every pair, both sides' quartiles and the 9-of-10 verdict."""
    def value(r):
        return r["end_to_end"][metric]["value"]

    wins = losses = 0
    print(f"\npair | first | parent {metric} | change {metric} | winner")
    for i, (p, c) in enumerate(pairs, 1):
        pv, cv = value(p), value(c)
        if pv == cv:
            who = "tie"
        elif (cv < pv) == (better == "lower"):
            who, wins = "change", wins + 1
        else:
            who, losses = "parent", losses + 1
        first = "parent" if i % 2 else "change"
        print(f"{i} | {first} | {pv:.6g} | {cv:.6g} | {who}")
    pq, cq = quartiles([value(p) for p, _ in pairs]), quartiles([value(c) for _, c in pairs])
    for name, q in (("parent", pq), ("change", cq)):
        print(f"{name} median {q[1]:.6g} quartiles [{q[0]:.6g}, {q[2]:.6g}]")
    gap, parent_iqr = abs(cq[1] - pq[1]), pq[2] - pq[0]
    n = len(pairs)
    need = math.ceil(0.9 * n)
    toward = (cq[1] < pq[1]) == (better == "lower") and cq[1] != pq[1]
    ok = n >= 10 and wins >= need and toward and gap > parent_iqr
    rel = f" ({(cq[1] - pq[1]) / pq[1]:+.1%} on {pq[1]:.6g})" if pq[1] else ""
    print(f"change wins {wins}/{n} (needs {need}), parent wins {losses}; "
          f"median gap {gap:.6g} vs parent quartile distance {parent_iqr:.6g}{rel}")
    print(f"verdict: {'CLAIM MET' if ok else 'claim not met'}"
          + ("" if n >= 10 else f" (only {n} pairs; at least 10 are needed)"))


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--metric", help="end-to-end metric to judge a claim on")
    ap.add_argument("--parent", default="HEAD~1")
    ap.add_argument("--change", default="HEAD")
    ap.add_argument("--work", default=os.path.join(tempfile.gettempdir(), "graft-ab"))
    a = ap.parse_args()
    trees = {side: export(rev, a.work) for side, rev in (("parent", a.parent),
                                                         ("change", a.change))}
    better = better_of(trees["change"][1], a.metric) if a.metric else None
    out = os.path.join(a.work, f"{a.workload}-s{a.seed}-{trees['parent'][0][:12]}-"
                       f"{trees['change'][0][:12]}")
    shutil.rmtree(out, ignore_errors=True)
    for side, (sha, tree) in trees.items():
        print(f"[ab] {side} {sha} in {tree}", flush=True)
    for side in ("parent", "change"):
        print(f"[ab] warm-up {side}", flush=True)
        run_one(trees[side][1], a.workload, a.seed, os.path.join(out, "warmup"))
    pairs = []
    for i in range(1, a.pairs + 1):
        order = ("parent", "change") if i % 2 else ("change", "parent")
        got = {}
        for side in order:
            print(f"[ab] pair {i}/{a.pairs} {side}", flush=True)
            got[side] = run_one(trees[side][1], a.workload, a.seed, os.path.join(out, side))
        pairs.append((got["parent"], got["change"]))
    failed = [(side, i) for i, p in enumerate(pairs, 1)
              for side, r in zip(("parent", "change"), p) if r["failed"]]
    print(f"\n[ab] records in {out}; runs with failed > 0: {failed or 'none'}\n", flush=True)
    compare = os.path.join(trees["change"][1], "perfbench", "compare.py")
    subprocess.run([sys.executable, compare, os.path.join(out, "parent"),
                    os.path.join(out, "change")], check=True)
    if a.metric:
        claim(pairs, a.metric, better)
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
