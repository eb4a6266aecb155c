"""Metric definitions: every number the benchmark reports is derived
here from the harness's raw records (see src/main/scala/perfbench/
Harness.scala for the record layout)."""
import statistics

PERCENTILES = (50, 75, 90, 95, 99)


def percentile(values, p):
    """Linear-interpolated p-th percentile of `values` (p in 0..100)."""
    s = sorted(values)
    if not s:
        raise ValueError("percentile of no samples")
    k = (len(s) - 1) * p / 100.0
    lo = int(k)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (k - lo)


def reportable_percentiles(n):
    """The median, plus every standard percentile with at least ten
    samples beyond it among `n` samples."""
    return [p for p in PERCENTILES if p == 50 or n * (100 - p) / 100.0 >= 10]


def ratio(num, den):
    """num/den with its base kept: {"value", "num", "den"}; value is
    None when the base is 0."""
    return {"value": num / den if den else None, "num": num, "den": den}


def union_ms(intervals, lo, hi):
    """Length of the union of [start, end] intervals, clipped to [lo, hi]."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_ms(span, children):
    """A span's duration minus the part of it its children cover."""
    lo, hi = span["start_ms"], span["end_ms"]
    return (hi - lo) - union_ms([(c["start_ms"], c["end_ms"]) for c in children], lo, hi)


def pass_wall_s(p):
    return sum(q["dur_s"] for q in p["queries"])


def batches_of(passes):
    return [b for p in passes for q in p["queries"] for b in q["batches"]]


def trigger_ms(b):
    return b["durations"].get("triggerExecution", 0)


def end_to_end(record):
    """The end-to-end metrics of one run, from its untraced passes.

    Returns {name: {"value", "unit", "n", ...}}; metrics that do not
    apply to the workload (no micro-batches, nothing written) are left
    out rather than reported as 0."""
    passes = [p for p in record["passes"] if not p["traced"]]
    walls = [pass_wall_s(p) for p in passes]
    heaps = [p["heap_peak_bytes"] / 2 ** 20 for p in passes]
    out = {
        "setup_s": {"value": record["setup_s"], "unit": "s", "n": 1},
        "wall_s": {"value": statistics.median(walls), "unit": "s", "n": len(walls)},
        "heap_peak_mb": {"value": statistics.median(heaps), "unit": "MB", "n": len(heaps)},
    }
    failed, attempted = record["failed"], record["attempted"]
    out["failed_frac"] = {"value": failed / attempted, "unit": "fraction",
                          "n": attempted, "num": failed, "den": attempted}
    batches = batches_of(passes)
    if batches:
        ms = [trigger_ms(b) for b in batches]
        for p in (50, 75):
            out[f"batch_p{p}_ms"] = {"value": percentile(ms, p), "unit": "ms", "n": len(ms),
                                     "reportable": p in reportable_percentiles(len(ms))}
        r = ratio(sum(b["input_rows"] for b in batches), sum(ms) / 1e3)
        out["events_per_s"] = {"value": r["value"], "unit": "1/s", "n": len(ms),
                               "num": r["num"], "den": r["den"]}
    written = sum(q["output_bytes"] for p in passes for q in p["queries"])
    if written:
        r = ratio(written, sum(q["input_bytes"] for p in passes for q in p["queries"]))
        out["stored_bytes_ratio"] = {"value": r["value"], "unit": "ratio",
                                     "n": len(passes), "num": r["num"], "den": r["den"]}
    return out


def traced_pass_layers(p, spans_by_parent, modules, cores):
    """Per-layer metrics of one traced pass."""
    m = {}
    wall = pass_wall_s(p)
    jobs, stages, batches = [], [], []
    gap_ms = 0.0
    for q in p["queries"]:
        qspan = spans_by_parent["__id__"][q["span"]]
        qjobs = [s for s in spans_by_parent.get(q["span"], []) if s["kind"] == "job"]
        gap_ms += self_ms(qspan, qjobs)
        jobs += qjobs
        batches += [s for s in spans_by_parent.get(q["span"], []) if s["kind"] == "batch"]
        for j in qjobs:
            for st in spans_by_parent.get(j["id"], []):
                stages.append((j, st))
    m["graft.driver_gap_s"] = gap_ms / 1e3
    m["graft.replay_write_s"] = sum(q["replay_s"] for q in p["queries"])
    m["graft.artifact_write_s"] = sum(q["artifact_s"] for q in p["queries"])
    for mod in modules:
        m[f"{mod}.busy_s"] = sum(q["dur_s"] for q in p["queries"]
                                 if modules[mod] and q["name"] in modules[mod])

    def st_sum(key, only_stream=False):
        return sum(st["attrs"].get(key, 0) for j, st in stages
                   if not only_stream or j["attrs"]["stream"])

    m["sched.jobs"] = len(jobs)
    m["sched.stages"] = len(stages)
    m["sched.tasks"] = st_sum("tasks")
    m["sched.task_overhead_s"] = st_sum("task_overhead_ms") / 1e3
    m["sched.failed_tasks"] = st_sum("failed_tasks")
    m["exec.run_s"] = st_sum("run_ms") / 1e3
    m["exec.cpu_s"] = st_sum("cpu_ns") / 1e9
    m["exec.gc_s"] = st_sum("gc_ms") / 1e3
    m["exec.busy_frac"] = m["exec.run_s"] / (wall * cores)
    m["sources.input_rows"] = st_sum("input_rows")
    m["sources.input_bytes"] = st_sum("input_bytes")
    m["sources.output_rows"] = st_sum("output_rows")
    m["sources.output_bytes"] = st_sum("output_bytes")
    m["shuffle.write_bytes"] = st_sum("shuffle_write_bytes")
    m["shuffle.read_bytes"] = st_sum("shuffle_read_bytes")
    m["shuffle.records"] = st_sum("shuffle_write_records")
    m["shuffle.fetch_wait_s"] = st_sum("fetch_wait_ms") / 1e3
    m["shuffle.spill_bytes"] = st_sum("spill_bytes")
    m["shuffle.skew_bytes"] = max([st["attrs"].get("skew_bytes", 0) for _, st in stages],
                                  default=0)
    m.update(streaming_layers([b["attrs"] for b in batches],
                              st_sum("tasks", only_stream=True)))
    m["state.rows_total"] = sum(final_state_rows(q["batches"]) for q in p["queries"])
    m["state.memory_bytes"] = sum(peak_state_memory(q["batches"]) for q in p["queries"])
    return m


def streaming_layers(batches, stream_tasks):
    """Micro-batch engine and state-store counts over progress records."""
    d = lambda b, k: b["durations"].get(k, 0) / 1e3
    n = len(batches)
    return {
        "streaming.batches": n,
        "streaming.trigger_s": sum(d(b, "triggerExecution") for b in batches),
        "streaming.add_batch_s": sum(d(b, "addBatch") for b in batches),
        "streaming.planning_s": sum(d(b, "queryPlanning") for b in batches),
        "streaming.offsets_s": sum(d(b, "latestOffset") + d(b, "getBatch") for b in batches),
        "streaming.wal_s": sum(d(b, "walCommit") + d(b, "commitOffsets") for b in batches),
        "streaming.tasks_per_batch": stream_tasks / n if n else 0.0,
        "state.store_commits": sum(s["instances"] for b in batches for s in b["state"]),
        "state.commit_s": sum(s["commit_ms"] for b in batches for s in b["state"]) / 1e3,
        "state.rows_updated": sum(s["rows_updated"] for b in batches for s in b["state"]),
    }


def final_state_rows(batches):
    """State rows held after a query's last micro-batch."""
    return sum(s["rows_total"] for s in batches[-1]["state"]) if batches else 0


def peak_state_memory(batches):
    return max((sum(s["memory_bytes"] for s in b["state"]) for b in batches), default=0)


def per_layer(record, modules):
    """Median over the traced passes of every per-layer metric, plus the
    tracing overhead against the run's own untraced passes."""
    spans = record["spans"]
    by_parent = {"__id__": {s["id"]: s for s in spans}}
    for s in spans:
        by_parent.setdefault(s["parent"], []).append(s)
    traced = [p for p in record["passes"] if p["traced"]]
    untraced = [p for p in record["passes"] if not p["traced"]]
    per_pass = [traced_pass_layers(p, by_parent, modules, record["cpus"]) for p in traced]
    out = {k: statistics.median(pp[k] for pp in per_pass) for k in per_pass[0]}
    out["trace.overhead_s"] = (statistics.median(pass_wall_s(p) for p in traced)
                               - statistics.median(pass_wall_s(p) for p in untraced))
    return out, len(per_pass)
