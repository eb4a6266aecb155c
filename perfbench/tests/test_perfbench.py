"""The benchmark's own tests: percentile and sample-count rule, the base
of every ratio, aggregation of streaming progress on a toy stream, the
oracle check on right and deliberately wrong results, the seeded
generator, and the comparator's verdicts.

    python3 -m unittest discover -s perfbench/tests
"""
import json
import os
import shutil
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
REPO = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import compare  # noqa: E402
import gen  # noqa: E402
import metrics  # noqa: E402
import oracle  # noqa: E402

import pyarrow as pa  # noqa: E402
import pyarrow.parquet as pq  # noqa: E402


def toy_batch(batch, rows, trigger, add, state):
    return {"batch": batch, "start_ms": 1000.0 * batch, "input_rows": rows,
            "durations": {"triggerExecution": trigger, "addBatch": add,
                          "queryPlanning": 2, "latestOffset": 1, "getBatch": 1,
                          "walCommit": 3, "commitOffsets": 4},
            "state": state}


def toy_state(total, updated, commit_ms, memory, instances):
    return {"rows_total": total, "rows_updated": updated, "commit_ms": commit_ms,
            "memory_bytes": memory, "instances": instances}


def toy_query(name, dur, batches=(), **kw):
    q = {"name": name, "span": -1, "dur_s": dur, "replay_s": 0.0, "artifact_s": 0.0,
         "error": None, "batches": list(batches), "input_bytes": 0, "input_rows": 0,
         "output_bytes": 0, "output_rows": 0}
    q.update(kw)
    return q


class PercentileRule(unittest.TestCase):
    def test_linear_percentile(self):
        self.assertEqual(metrics.percentile([1, 2, 3, 4], 50), 2.5)
        self.assertEqual(metrics.percentile([10], 75), 10)
        self.assertAlmostEqual(metrics.percentile(range(1, 101), 75), 75.25)

    def test_a_percentile_needs_ten_samples_beyond_it(self):
        self.assertEqual(metrics.reportable_percentiles(9), [50])
        self.assertEqual(metrics.reportable_percentiles(39), [50])
        self.assertEqual(metrics.reportable_percentiles(40), [50, 75])
        self.assertEqual(metrics.reportable_percentiles(48), [50, 75])
        self.assertEqual(metrics.reportable_percentiles(100), [50, 75, 90])
        self.assertEqual(metrics.reportable_percentiles(1000), [50, 75, 90, 95, 99])


class RatioBases(unittest.TestCase):
    def record(self):
        batches = [toy_batch(i, 100, 200, 150, [toy_state(10, 5, 7, 1000, 4)])
                   for i in range(4)]
        q1 = toy_query("a", 2.0, input_bytes=1000, output_bytes=250)
        q2 = toy_query("b", 3.0, batches)
        passes = [{"traced": False, "heap_peak_bytes": 2 ** 20 * n, "queries": [q1, q2]}
                  for n in (100, 300, 200)]
        return {"setup_s": 9.5, "cpus": 4, "passes": passes, "spans": [],
                "attempted": 8, "failed": 2}

    def test_end_to_end_ratios_keep_their_base(self):
        e = metrics.end_to_end(self.record())
        self.assertEqual((e["failed_frac"]["num"], e["failed_frac"]["den"]), (2, 8))
        self.assertEqual(e["failed_frac"]["value"], 0.25)
        # rows over summed trigger time, not over wall time
        self.assertEqual((e["events_per_s"]["num"], e["events_per_s"]["den"]), (1200, 2.4))
        self.assertAlmostEqual(e["events_per_s"]["value"], 500.0)
        # bytes written over bytes read
        self.assertEqual((e["stored_bytes_ratio"]["num"], e["stored_bytes_ratio"]["den"]),
                         (750, 3000))
        self.assertEqual(e["wall_s"]["value"], 5.0)
        self.assertEqual(e["wall_s"]["n"], 3)
        self.assertEqual(e["heap_peak_mb"]["value"], 200)
        self.assertEqual(e["batch_p50_ms"]["n"], 12)

    def test_metrics_that_do_not_apply_are_left_out(self):
        r = self.record()
        for p in r["passes"]:
            p["queries"] = [p["queries"][0]]
            p["queries"][0]["output_bytes"] = 0
        e = metrics.end_to_end(r)
        for k in ("batch_p50_ms", "batch_p75_ms", "events_per_s", "stored_bytes_ratio"):
            self.assertNotIn(k, e)

    def test_zero_base_gives_no_value(self):
        self.assertIsNone(metrics.ratio(5, 0)["value"])

    def test_busy_frac_is_run_time_over_wall_times_cores(self):
        spans = [
            {"id": 2, "parent": 1, "kind": "query", "start_ms": 0.0, "end_ms": 2000.0, "attrs": {}},
            {"id": 3, "parent": 2, "kind": "job", "start_ms": 100.0, "end_ms": 1100.0,
             "attrs": {"stream": False}},
            {"id": 4, "parent": 3, "kind": "stage", "start_ms": 100.0, "end_ms": 1100.0,
             "attrs": {"run_ms": 4000, "tasks": 4, "task_overhead_ms": 40}},
        ]
        q = toy_query("a", 2.0, span=2)
        rec = {"cpus": 4, "spans": spans,
               "passes": [{"traced": False, "queries": [toy_query("a", 1.5)]},
                          {"traced": True, "queries": [q]}]}
        layers, n = metrics.per_layer(rec, {"operators": ["a"]})
        self.assertEqual(n, 1)
        self.assertAlmostEqual(layers["exec.busy_frac"], 4.0 / (2.0 * 4))
        self.assertAlmostEqual(layers["graft.driver_gap_s"], 1.0)
        self.assertEqual(layers["operators.busy_s"], 2.0)
        self.assertAlmostEqual(layers["trace.overhead_s"], 0.5)
        self.assertEqual((layers["sched.jobs"], layers["sched.stages"], layers["sched.tasks"]),
                         (1, 1, 4))


class StreamingAggregation(unittest.TestCase):
    """A toy stream: three micro-batches over two stateful operators."""

    def setUp(self):
        self.batches = [
            toy_batch(0, 10, 100, 60, [toy_state(5, 5, 3, 100, 4), toy_state(2, 2, 1, 50, 4)]),
            toy_batch(1, 20, 300, 200, [toy_state(9, 4, 5, 180, 4), toy_state(3, 1, 1, 60, 4)]),
            toy_batch(2, 30, 200, 120, [toy_state(12, 3, 4, 170, 4), toy_state(3, 0, 1, 60, 4)]),
        ]

    def test_phase_sums(self):
        s = metrics.streaming_layers(self.batches, stream_tasks=36)
        self.assertEqual(s["streaming.batches"], 3)
        self.assertAlmostEqual(s["streaming.trigger_s"], 0.6)
        self.assertAlmostEqual(s["streaming.add_batch_s"], 0.38)
        self.assertAlmostEqual(s["streaming.planning_s"], 0.006)
        self.assertAlmostEqual(s["streaming.offsets_s"], 0.006)
        self.assertAlmostEqual(s["streaming.wal_s"], 0.021)
        self.assertEqual(s["streaming.tasks_per_batch"], 12)

    def test_state_counts(self):
        s = metrics.streaming_layers(self.batches, stream_tasks=0)
        # one commit per state-store instance per operator per batch
        self.assertEqual(s["state.store_commits"], 3 * 2 * 4)
        self.assertAlmostEqual(s["state.commit_s"], 0.015)
        self.assertEqual(s["state.rows_updated"], 15)
        self.assertEqual(metrics.final_state_rows(self.batches), 15)
        self.assertEqual(metrics.peak_state_memory(self.batches), 240)

    def test_batch_percentiles(self):
        rec = {"setup_s": 1.0, "attempted": 1, "failed": 0,
               "passes": [{"traced": False, "heap_peak_bytes": 1,
                           "queries": [toy_query("s", 1.0, self.batches)]}]}
        e = metrics.end_to_end(rec)
        self.assertEqual(e["batch_p50_ms"]["value"], 200)
        self.assertEqual(e["batch_p75_ms"]["value"], 250)
        self.assertEqual(e["batch_p50_ms"]["n"], 3)
        self.assertTrue(e["batch_p50_ms"]["reportable"])
        self.assertFalse(e["batch_p75_ms"]["reportable"])
        self.assertAlmostEqual(e["events_per_s"]["value"], 60 / 0.6)

    def test_no_batches(self):
        s = metrics.streaming_layers([], 0)
        self.assertEqual(s["streaming.batches"], 0)
        self.assertEqual(s["streaming.tasks_per_batch"], 0.0)


class SelfTime(unittest.TestCase):
    def test_overlapping_children_count_once(self):
        span = {"start_ms": 0.0, "end_ms": 100.0}
        kids = [{"start_ms": 10.0, "end_ms": 40.0}, {"start_ms": 30.0, "end_ms": 50.0},
                {"start_ms": 90.0, "end_ms": 130.0}]
        self.assertEqual(metrics.self_ms(span, kids), 100 - 40 - 10)
        self.assertEqual(metrics.self_ms(span, []), 100)


class OracleCheck(unittest.TestCase):
    def setUp(self):
        self.dir = tempfile.mkdtemp()
        self.data = os.path.join(self.dir, "data")
        os.makedirs(self.data)
        pq.write_table(pa.table({"k": pa.array([1, 2, 2], pa.int64()),
                                 "v": pa.array([0.5, 1.25, 2.0], pa.float64())}),
                       os.path.join(self.data, "lineitem.parquet"))
        self.verify = os.path.join(self.dir, "verify")
        os.makedirs(self.verify)
        sql = "SELECT k, sum(v) AS s FROM lineitem GROUP BY k"
        with open(os.path.join(self.verify, "oracle_sql.json"), "w") as f:
            json.dump({"right": sql, "wrong": sql, "typed": sql}, f)
        self.write("right", {"s": pa.array([3.25, 0.5], pa.float64()),
                             "k": pa.array([2, 1], pa.int64())})
        self.write("wrong", {"k": pa.array([1, 2], pa.int64()),
                             "s": pa.array([0.5, 3.5], pa.float64())})
        self.write("typed", {"k": pa.array([1, 2], pa.int32()),
                             "s": pa.array([0.5, 3.25], pa.float64())})

    def tearDown(self):
        shutil.rmtree(self.dir)

    def write(self, name, cols):
        os.makedirs(os.path.join(self.verify, name))
        pq.write_table(pa.table(cols), os.path.join(self.verify, name, "part-0.parquet"))

    def test_right_result_passes_and_wrong_ones_fail(self):
        got = oracle.check_queries(["right", "wrong", "typed", "missing"], self.verify,
                                   self.data, os.path.join(self.dir, "cache"))
        self.assertIsNone(got["right"])
        self.assertIn("rows differ", got["wrong"])
        self.assertIn("type mismatch", got["typed"])
        self.assertEqual(got["missing"], "no oracle SQL")

    def test_oracle_results_are_cached_by_sql(self):
        cache = os.path.join(self.dir, "cache")
        oracle.check_queries(["right"], self.verify, self.data, cache)
        self.assertEqual(len(os.listdir(cache)), 1)
        os.remove(os.path.join(self.data, "lineitem.parquet"))
        self.assertIsNone(oracle.check_queries(["right"], self.verify, self.data, cache)["right"])

    def test_floats_compare_at_nine_significant_digits(self):
        a = oracle.canonical(["x"], {"x": "float64"}, [(1.0000000001,)])
        b = oracle.canonical(["x"], {"x": "float64"}, [(1.0,)])
        self.assertIsNone(oracle.mismatch(a, b))
        c = oracle.canonical(["x"], {"x": "float64"}, [(1.00001,)])
        self.assertIsNotNone(oracle.mismatch(c, b))


class SeededInputs(unittest.TestCase):
    def setUp(self):
        self.dir = tempfile.mkdtemp()

    def tearDown(self):
        shutil.rmtree(self.dir)

    def test_seed_is_mixed_into_every_table_and_reproducible(self):
        a = gen.generate(1, 0.001, self.dir)
        b = gen.generate(2, 0.001, self.dir)
        tables = gen.gen_sf().TABLES
        self.assertEqual(gen.schema_drift(a, tables), [])
        for t in ("customer", "orders", "lineitem", "events", "documents", "embeddings"):
            ta = pq.read_table(os.path.join(a, t + ".parquet"))
            tb = pq.read_table(os.path.join(b, t + ".parquet"))
            self.assertEqual(ta.num_rows, tb.num_rows, t)
            self.assertFalse(ta.equals(tb), f"{t} ignores the seed")
        again = os.path.join(self.dir, "again")
        c = gen.generate(1, 0.001, again)
        for t in tables:
            self.assertTrue(pq.read_table(os.path.join(a, t + ".parquet")).equals(
                pq.read_table(os.path.join(c, t + ".parquet"))), t)
        stats = gen.table_stats(a, tables)
        self.assertEqual(stats["region"]["rows"], 5)
        self.assertGreater(stats["lineitem"]["bytes"], 0)

    def test_reference_schema_matches_the_reference_fixture(self):
        fixture = gen.gen_sf().DRIVER_FIXTURE
        if not os.path.isdir(fixture):
            self.skipTest("reference fixture not present")
        out = gen.generate(3, 0.001, self.dir)
        self.assertEqual(gen.gen_sf().check_schemas(out), [])


class Comparator(unittest.TestCase):
    def test_verdicts(self):
        parent = [10.0, 10.1, 10.2, 10.0, 9.9]
        self.assertEqual(compare.verdict(parent, [10.3, 10.2, 10.4, 10.3, 10.2],
                                         "lower", 0.1), "ok")
        self.assertEqual(compare.verdict(parent, [12.0, 12.1, 12.2, 11.9, 12.0],
                                         "lower", 0.1), "REGRESSION")
        noisy = [5.0, 15.0, 10.0, 7.0, 13.0]
        self.assertEqual(compare.verdict(parent, noisy, "lower", 0.1), "unresolved")
        self.assertEqual(compare.verdict(noisy, [4.0, 4.1, 3.9, 4.0, 4.2],
                                         "lower", 0.1), "better")
        self.assertEqual(compare.verdict([100, 101, 99], [80, 81, 79], "higher", 0.1),
                         "REGRESSION")

    def test_bounds_come_from_benchmark_json_alone(self):
        with open(os.path.join(REPO, "BENCHMARK.json")) as f:
            gated = {m["name"]: (m["better"], m["bound"]) for m in json.load(f)["end_to_end"]}
        self.assertEqual(compare.bounds(), gated)

    def test_every_gated_metric_is_reported_by_every_workload(self):
        # a batch workload has no micro-batches and writes nothing
        q = toy_query("a", 2.0, input_bytes=1000, output_bytes=0)
        record = {"setup_s": 9.5, "cpus": 4, "attempted": 2, "failed": 0, "spans": [],
                  "passes": [{"traced": False, "heap_peak_bytes": 2 ** 20, "queries": [q]}]}
        e = metrics.end_to_end(record)
        for name in compare.bounds():
            self.assertGreater(e[name]["value"], 0, name)

    def test_quartiles_match_statistics_quantiles(self):
        q1, med, q3 = compare.quartiles([1, 2, 3, 4, 5, 6, 7, 8, 9, 10])
        self.assertEqual((q1, med, q3), (2.75, 5.5, 8.25))


if __name__ == "__main__":
    unittest.main()
