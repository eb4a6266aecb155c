#!/usr/bin/env python3
"""Full-surface sweep runner for big scale factors (sf10): drives
graft.Bench in CHUNKS so a JVM-fatal error (OOM at default heap) only
loses one chunk, then retries that chunk query-by-query so every
query gets an individual verdict.

Verdict classes per query:
  ok      — ran, seconds recorded
  guard   — the operator's fail-loud pre-flight refused (the CORRECT
            answer when the saturated synthetic corpus exceeds the
            candidate/solution bounds; message recorded)
  fail    — non-fatal failure that is not a recognized guard
  fatal   — the JVM died running this query alone (OOM at this heap)

Usage: python3 tools/sweep.py <sfDir> <queriesFile> <outJson>
Env: SWEEP_CHUNK (default 12), SPARK_GRAFT_CPUS (default unset ->
     Bench's own default; the record reports the count Bench used),
     SPARK_DRIVER_MEM (default unset -> Bench's 8g default).
"""
import json
import os
import re
import subprocess
import sys
import time

GUARD_PAT = re.compile(
    r"maxCandidates|maxSolutions|maxTombstones|maxGroups|maxBucket|"
    r"exceeds? the .*bound|candidate .*bound|requirement failed: .*max")


def run_bench(sf_dir, names, timeout=7200):
    env = dict(os.environ)
    env["SPARK_GRAFT_SF_DIR"] = sf_dir
    env["SPARK_GRAFT_BENCH_PASSES"] = "1"
    env["SPARK_GRAFT_BENCH_ONLY"] = ",".join(names)
    t0 = time.time()
    try:
        p = subprocess.run(
            ["sbt", "-batch", "runMain graft.Bench"], env=env,
            capture_output=True, text=True, timeout=timeout,
            cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    except subprocess.TimeoutExpired:
        return None, {}, {"__timeout__": f"chunk exceeded {timeout}s"}, time.time() - t0
    fails = {}
    for line in (p.stdout + p.stderr).splitlines():
        m = re.search(r"\[bench\] (\S+) FAILED: (.*)", line)
        if m:
            fails[m.group(1)] = m.group(2)[:500]
    metric = None
    for line in p.stdout.splitlines():
        m = re.search(r'(\{"metric".*\})', line)
        if m:
            # greedy match can grab trailing non-JSON on log-polluted
            # lines; a parse failure must not kill the whole chunk
            try:
                metric = json.loads(m.group(1))
            except json.JSONDecodeError:
                pass
    return metric, (metric or {}).get("queries", {}), fails, time.time() - t0


def main():
    sf_dir, qfile, out_json = sys.argv[1], sys.argv[2], sys.argv[3]
    queries = [q.strip() for q in open(qfile) if q.strip()]
    chunk_n = int(os.environ.get("SWEEP_CHUNK", "12"))
    # resume: keep prior ok/guard verdicts (deterministic), retry the rest
    results = {}
    if os.path.exists(out_json):
        prior = json.load(open(out_json)).get("results", {})
        results = {k: v for k, v in prior.items()
                   if v["class"] in ("ok", "guard") and k in queries}
        print(f"[sweep] resuming: {len(results)} prior verdicts kept",
              flush=True)
    queries = [q for q in queries if q not in results]
    chunks = [queries[i:i + chunk_n] for i in range(0, len(queries), chunk_n)]

    def record(name, cls, sec=None, msg=None):
        results[name] = {"class": cls}
        if sec is not None:
            results[name]["sec"] = round(sec, 2)
        if msg is not None:
            results[name]["msg"] = msg
        print(f"[sweep] {name}: {cls}"
              + (f" {results[name].get('sec')}s" if sec is not None else "")
              + (f" ({msg[:120]})" if msg else ""), flush=True)

    def classify(name, sec, fail_msg):
        if sec is not None and sec >= 0:
            record(name, "ok", sec=sec)
        elif fail_msg is not None and GUARD_PAT.search(fail_msg):
            record(name, "guard", msg=fail_msg)
        elif fail_msg is not None:
            record(name, "fail", msg=fail_msg)
        else:
            return False
        return True

    cpus = None  # the core count Bench reports running at
    for ci, chunk in enumerate(chunks):
        print(f"[sweep] chunk {ci + 1}/{len(chunks)}: {chunk[0]}..{chunk[-1]}",
              flush=True)
        metric, secs, fails, wall = run_bench(sf_dir, chunk)
        cpus = (metric or {}).get("cpus", cpus)
        missing = []
        for name in chunk:
            sec = secs.get(name)
            if sec is not None and sec < 0:
                sec = None  # Bench's failure sentinel
            if not classify(name, sec, fails.get(name)):
                missing.append(name)
        if missing:
            print(f"[sweep] chunk died (wall {wall:.0f}s); retrying "
                  f"{len(missing)} singly: {missing}", flush=True)
            for name in missing:
                m2, s2, f2, w2 = run_bench(sf_dir, [name], timeout=5400)
                cpus = (m2 or {}).get("cpus", cpus)
                sec = s2.get(name)
                if sec is not None and sec < 0:
                    sec = None
                if not classify(name, sec, f2.get(name)):
                    record(name, "fatal",
                           msg=f2.get("__timeout__",
                                      "JVM died (OOM at this heap?)"))
        with open(out_json, "w") as f:
            json.dump({"sf_dir": sf_dir,
                       "heap": os.environ.get("SPARK_DRIVER_MEM", "8g"),
                       "cpus": cpus,
                       "results": results}, f, indent=1, sort_keys=True)
    counts = {}
    for v in results.values():
        counts[v["class"]] = counts.get(v["class"], 0) + 1
    print(f"[sweep] done: {counts}", flush=True)


if __name__ == "__main__":
    main()
