#!/usr/bin/env python3
"""Seeded closed-loop benchmark of the graft engine.

    python3 perfbench/run.py --workload <name|all> --seed N --seconds S --trace 0|1

One client runs a workload's SparkEntry queries one at a time on
local[nproc] over inputs generated from the seed (see README.md). The
run builds the program and the harness from source once per source
tree, generates and caches the inputs per (seed, scale), runs the JVM
harness, checks every query against its DuckDB oracle, and prints one
line per metric (name, value, unit, sample count), then, as its last
line, one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

--trace 0 reports the end-to-end metrics named in BENCHMARK.json,
--trace 1 the per-layer ones. The full record of every run, provenance
included, is written to perfbench/results/ for compare.py.
"""
import argparse
import glob
import hashlib
import json
import os
import platform
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402
import metrics  # noqa: E402
from workloads import MODULES, WORKLOADS  # noqa: E402

CACHE = os.path.join(HERE, ".cache")
WORK = os.path.join(HERE, ".work")
RESULTS = os.path.join(HERE, "results")
TARGET = os.path.join(HERE, "target")
PROGRAM = os.path.join(REPO, "src", "main", "scala")
# the JVM flags the program's own build.sbt gives its forked runs
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io",
             "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]
HEAP = "4g"
YOUNG = "512m"
JVM_TIMEOUT_S = 170


def log(*a):
    print(*a, file=sys.stderr, flush=True)


def source_hash():
    """Hash of everything the build compiles."""
    h = hashlib.sha256()
    files = [os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for root in (PROGRAM, os.path.join(HERE, "src")):
        files += sorted(glob.glob(os.path.join(root, "**", "*.scala"), recursive=True))
    for f in files:
        h.update(os.path.relpath(f, REPO).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def spark_home():
    """The Spark installation whose bin/ on PATH holds spark-submit and
    whose jars/ holds Spark SQL (a pip pyspark wrapper has no jars/)."""
    for d in os.environ.get("PATH", "").split(os.pathsep):
        home = os.path.dirname(os.path.realpath(d))
        if os.path.isfile(os.path.join(d, "spark-submit")) and \
                glob.glob(os.path.join(home, "jars", "spark-sql_*.jar")):
            return home
    raise SystemExit("[perfbench] set SPARK_HOME: no Spark installation on PATH")


def build():
    """Compile program + harness once per source tree; return the classpath."""
    stamp = os.path.join(TARGET, "perfbench.stamp")
    cp_file = os.path.join(TARGET, "classpath.txt")
    want = source_hash()
    if os.path.exists(stamp) and os.path.exists(cp_file):
        with open(stamp) as f:
            if f.read() == want:
                with open(cp_file) as g:
                    return g.read().strip()
    log("[perfbench] building program and harness with sbt")
    env = dict(os.environ)
    if "SPARK_HOME" not in env:
        env["SPARK_HOME"] = spark_home()
    r = subprocess.run(["sbt", "-batch", "-Dsbt.log.noformat=true", "writeClasspath"],
                       cwd=HERE, env=env, stdout=sys.stderr, stderr=sys.stderr,
                       stdin=subprocess.DEVNULL)
    if r.returncode != 0:
        raise SystemExit(f"[perfbench] build failed (exit {r.returncode})")
    with open(stamp, "w") as f:
        f.write(want)
    with open(cp_file) as g:
        return g.read().strip()


def cpu_jiffies():
    """(steal, total) jiffies over all CPUs, from /proc/stat."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    return vals[7], sum(vals[:8])


def provenance(cpus):
    """Who/what/where of a run, taken before it starts."""
    try:
        sha = subprocess.run(["git", "rev-parse", "HEAD"], cwd=REPO, capture_output=True,
                             text=True, timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        sha = None
    mem_kb = None
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                mem_kb = int(line.split()[1])
    load1 = os.getloadavg()[0]
    return {"git_sha": sha, "source_sha256": source_hash(), "nproc": cpus,
            "mem_total_kb": mem_kb, "load1_before": load1,
            # a run that starts with a full core's worth of other work per
            # core is flagged, not dropped
            "busy_box": load1 >= cpus, "python": platform.python_version(),
            "time_utc": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime())}


def jvm_flags(work):
    flags = []
    for p in ADD_OPENS:
        flags += ["--add-opens", f"{p}=ALL-UNNAMED"]
    return flags + [
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        # fixed heap and young-generation sizes: a young GC then falls after
        # every 512 MB allocated in every run, so heap_peak_mb's post-GC
        # samples come at the same cadence; left adaptive, G1 grew eden until
        # a pass saw no young GC in some runs and several in others
        f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Xmn{YOUNG}", "-XX:ReservedCodeCacheSize=1g",
        # everything the JVM writes stays in this run's work directory
        f"-Djava.io.tmpdir={work}/tmp", f"-Dspark.local.dir={work}/local",
        f"-Dspark.sql.warehouse.dir={work}/warehouse", f"-Dderby.system.home={work}",
    ]


def run_harness(cp, data_dir, queries, seconds, trace, cpus, work):
    verify = os.path.join(work, "verify")
    out = os.path.join(work, "raw.json")
    for d in ("tmp", "local", "warehouse", "verify"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    flags = jvm_flags(work)
    cmd = ["java"] + flags + ["-cp", cp, "perfbench.Harness", data_dir, ",".join(queries),
                              str(seconds), str(trace), str(cpus), verify, out]
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "local"))
    with open(os.path.join(work, "jvm.log"), "w") as jlog:
        proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=jlog, stderr=jlog,
                                stdin=subprocess.DEVNULL)
        try:
            rc = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            rc = "timeout"
    if rc != 0:
        with open(os.path.join(work, "jvm.log")) as f:
            log(f.read()[-4000:])
        raise SystemExit(f"[perfbench] harness failed ({rc})")
    with open(out) as f:
        return json.load(f), verify, flags


def run_workload(name, seed, seconds, trace, cpus, cp):
    import oracle
    wl = WORKLOADS[name]
    queries = list(wl["queries"])
    t_start = time.time()
    prov = provenance(cpus)
    steal0, total0 = cpu_jiffies()
    data_dir = gen.generate(seed, wl["scale"], CACHE)
    t_gen = time.time()
    g = gen.gen_sf()
    inputs = gen.table_stats(data_dir, g.TABLES)
    work = os.path.join(WORK, f"{name}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    try:
        record, verify, flags = run_harness(cp, data_dir, queries, seconds, trace, cpus, work)
        t_jvm = time.time()
        checks = oracle.check_queries(
            queries, verify, data_dir,
            os.path.join(CACHE, f"oracle-s{seed}-sf{wl['scale']}"))
    finally:
        shutil.rmtree(work, ignore_errors=True)
    steal1, total1 = cpu_jiffies()
    # CPU time the hypervisor gave to other guests while this run went:
    # runs with a high share are noisy through no fault of the program
    prov["steal_frac"] = (steal1 - steal0) / max(total1 - total0, 1)
    errors = [q["name"] for p in record["passes"] for q in p["queries"] if q["error"]]
    wrong = sorted(q for q, why in checks.items() if why)
    record["attempted"] = len(queries) + sum(len(p["queries"]) for p in record["passes"])
    record["failed"] = len(errors) + len(wrong)
    record.update(workload=name, seed=seed, scale=wl["scale"], seconds=seconds,
                  trace=trace, provenance=prov, jvm_flags=flags, inputs=inputs,
                  oracle=checks,
                  phases_s={"inputs": t_gen - t_start, "jvm": t_jvm - t_gen,
                            "oracle": time.time() - t_jvm})
    modules = {m: [q for q, mod in wl["queries"].items() if mod == m] for m in MODULES}
    e2e = metrics.end_to_end(record)
    layers, n_traced = metrics.per_layer(record, modules) if trace else (None, 0)
    record["end_to_end"] = e2e
    record["per_layer"] = layers
    os.makedirs(RESULTS, exist_ok=True)
    stamp = time.strftime("%Y%m%dT%H%M%S", time.gmtime())
    with open(os.path.join(RESULTS, f"{name}-s{seed}-t{trace}-{stamp}-{os.getpid()}.json"),
              "w") as f:
        json.dump({k: v for k, v in record.items() if k != "spans"} if not trace else record, f)
    report(record, n_traced)
    return record


def report(r, n_traced):
    w = r["workload"]
    flag = " BUSY-BOX" if r["provenance"]["busy_box"] else ""
    ph = " ".join(f"{k}={v:.1f}s" for k, v in r["phases_s"].items())
    print(f"== {w} seed={r['seed']} scale=sf{r['scale']} load1={r['provenance']['load1_before']:.2f}"
          f" steal={r['provenance']['steal_frac']:.1%}"
          f"{flag} passes={len(r['passes'])} {ph}")
    for q, why in r["oracle"].items():
        if why:
            print(f"   FAIL {q}: {why}")
    for k, m in r["end_to_end"].items():
        base = f" ({m['num']}/{m['den']})" if "den" in m else ""
        val = "n/a" if m["value"] is None else f"{m['value']:.6g}"
        note = "" if m.get("reportable", True) else " (fewer than 10 samples beyond it)"
        print(f"{w} {k} {val} {m['unit']} n={m['n']}{base}{note}")
    if r["per_layer"]:
        for k, v in r["per_layer"].items():
            print(f"{w} {k} {v:.6g} n={n_traced}")


def contract_line(records, trace):
    """The last-line JSON, restricted to the metrics BENCHMARK.json names."""
    with open(os.path.join(REPO, "BENCHMARK.json")) as f:
        bench = json.load(f)
    wanted = bench["per_layer"] if trace else bench["end_to_end"]
    r = records[0]
    src = r["per_layer"] if trace else {k: m["value"] for k, m in r["end_to_end"].items()}
    return {"correct": all(not x["failed"] for x in records),
            "attempted": sum(x["attempted"] for x in records),
            "failed": sum(x["failed"] for x in records),
            "metrics": {m["name"]: {"value": src[m["name"]], "unit": m["unit"]}
                        for m in wanted}}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS) + ["all"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if not os.path.isfile(os.path.join(PROGRAM, "graft", "SparkEntry.scala")) or \
            not os.path.isfile(os.path.join(REPO, "tools", "gen_sf.py")):
        log("[perfbench] the program's sources (src/main/scala, tools/) are not here; "
            "run from the root of a full checkout")
        return 2
    cpus = len(os.sched_getaffinity(0))
    cp = build()
    names = sorted(WORKLOADS) if a.workload == "all" else [a.workload]
    records = [run_workload(n, a.seed, a.seconds, a.trace, cpus, cp) for n in names]
    if a.workload != "all":
        print(json.dumps(contract_line(records, a.trace)))
    return 0


if __name__ == "__main__":
    sys.exit(main())
