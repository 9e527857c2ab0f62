"""Metric extraction from a harness run record.

Run: python3 -m unittest discover -s perfbench/tests
"""
import json
import sys
import unittest
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))
import metrics  # noqa: E402
import workloads  # noqa: E402

BENCHMARK = json.loads((Path(__file__).resolve().parents[2] / "BENCHMARK.json").read_text())


def op(row, layer, start, sec, error=None):
    return {"row": row, "layer": layer, "start_ms": start, "sec": sec,
            "cpu_s": 2 * sec, "jit_s": sec / 2, "error": error}


def run_record(trace=None):
    ops = [op("a1_rate_curves", "queries.Reference", 10_000, 2.0),
           op("a2_lag_rates", "queries.Reference", 12_000, 1.0),
           op("b1_pushes_by_timebin", "queries.Reference", 13_000, 4.0),
           op("c2_city_gate", "queries.Reference", 17_000, 1.0)]
    r = {"workload": "markt_reference", "cpus": 4, "heap_max_mb": 3072,
         "spark_version": "4.1.2", "java_version": "17", "launch_ms": 0,
         "setup_end_ms": 10_000, "setup_cpu_s": 25.0, "setup_jit_s": 5.0, "last_op_end_ms": 18_000,
         "peak_rss_mb": 1200.0, "setup_errors": {}, "builds": [],
         "ops": ops}
    if trace is not None:
        r["trace"] = trace
    return r


class EndToEndTest(unittest.TestCase):
    def test_timings(self):
        m = metrics.end_to_end(run_record())
        self.assertEqual(m["setup_s"], 10.0)
        self.assertEqual(m["setup_cpu_s"], 25.0)
        self.assertEqual(m["op_cpu_s"], 4.0)  # 16 CPU seconds over 4 ops
        self.assertEqual(m["op_prog_cpu_s"], 3.0)  # without 4 JIT seconds
        self.assertEqual(m["run_s"], 18.0)
        self.assertEqual(m["op_p50_s"], 1.5)
        self.assertEqual(m["ops_per_s"], 4 / 8.0)
        self.assertIsNone(m["op_tail_s"])  # 4 ops: no percentile has 10 beyond it
        self.assertEqual(m["ops_timed"], 4)

    def test_tail_keeps_ten_ops_beyond(self):
        value, pct = metrics.tail([float(i) for i in range(1, 41)])  # 40 ops
        self.assertEqual(value, 30.0)  # ops 31..40 lie beyond
        self.assertEqual(pct, 75.0)
        self.assertEqual(metrics.tail([1.0] * 10), (None, None))

    def test_metric_names_match_benchmark(self):
        m = metrics.end_to_end(run_record())
        declared = {e["name"]: e["unit"] for e in BENCHMARK["end_to_end"]}
        units = dict(metrics.END_TO_END)
        for name, unit in declared.items():
            self.assertIn(name, m)
            self.assertEqual(units[name], unit)
        self.assertEqual([(n, u, b) for n, u, b in metrics.per_layer_names()],
                         [(e["name"], e["unit"], e["better"]) for e in BENCHMARK["per_layer"]])
        self.assertEqual([w["name"] for w in BENCHMARK["workloads"]], list(workloads.WORKLOADS))

    def test_every_op_has_a_wall_metric(self):
        names = {n for n, _, _ in metrics.per_layer_names()}
        for layer, op_name in workloads.all_ops():
            self.assertIn(f"{layer}.{op_name}.wall_s", names)
        for layer in workloads.CORPUS_LAYERS:
            self.assertIn(f"{layer}.driver_gap_s", names)


class FailureTest(unittest.TestCase):
    def test_clean_run(self):
        record, result = metrics.summarize(run_record(), {}, trace=False)
        self.assertEqual(result["attempted"], 4)
        self.assertEqual(result["failed"], 0)
        self.assertTrue(result["correct"])
        self.assertEqual(set(result["metrics"]), {n for n, _ in metrics.END_TO_END})

    def test_thrown_op_keeps_its_message(self):
        r = run_record()
        r["ops"][1]["error"] = "java.lang.IllegalStateException: boom"
        record, result = metrics.summarize(r, {}, trace=False)
        self.assertEqual(result["failed"], 1)
        self.assertFalse(result["correct"])
        self.assertEqual(record["failures"][0]["error"], "java.lang.IllegalStateException: boom")

    def test_oracle_mismatch_fails_the_row(self):
        record, result = metrics.summarize(run_record(), {"a1_rate_curves": "oracle mismatch: rows"},
                                           trace=False)
        self.assertEqual(result["failed"], 1)
        self.assertFalse(result["correct"])

    def test_failed_corpus_setup_counts_as_a_failed_op(self):
        r = run_record()
        r["workload"] = "vector_dedup"
        r["setup_errors"] = {"day_update": "java.io.IOException: disk full"}
        record, result = metrics.summarize(r, {}, trace=False)
        self.assertEqual((result["attempted"], result["failed"]), (5, 1))
        self.assertEqual(record["failures"][0]["error"], "java.io.IOException: disk full")

    def test_corpus_check_fails_the_day(self):
        r = run_record()
        r["workload"] = "vector_dedup"
        r["ops"].append(op("day_update", "ext.Corpus", 18_000, 0.4))
        record, result = metrics.summarize(r, {"day_update.manifest": "oracle mismatch: rows"},
                                           trace=False)
        self.assertEqual(result["failed"], 1)
        self.assertEqual(record["failures"][0]["row"], "day_update.manifest")


class PerLayerTest(unittest.TestCase):
    def trace(self):
        spans = [
            {"layer": "spark.driver", "name": "session", "start_ms": 500, "end_ms": 2_000},
            {"layer": "setup", "name": "a1_rate_curves", "start_ms": 2_000, "end_ms": 8_000},
            {"layer": "setup", "name": "a2_lag_rates", "start_ms": 8_000, "end_ms": 10_000},
            {"layer": "queries.Reference", "name": "a1_rate_curves", "start_ms": 10_000, "end_ms": 12_000},
            {"layer": "queries.Reference", "name": "a2_lag_rates", "start_ms": 12_000, "end_ms": 13_000},
            {"layer": "queries.Reference", "name": "b1_pushes_by_timebin", "start_ms": 13_000, "end_ms": 17_000},
            {"layer": "queries.Reference", "name": "c2_city_gate", "start_ms": 17_000, "end_ms": 18_000},
        ]
        jobs = [
            {"id": 0, "group": "queries.Reference/a1_rate_curves", "start_ms": 10_500, "end_ms": 11_500},
            {"id": 1, "group": "queries.Reference/a1_rate_curves", "start_ms": 11_000, "end_ms": 11_800},
            {"id": 2, "group": "queries.Reference/a2_lag_rates", "start_ms": 12_000, "end_ms": 13_000},
            {"id": 3, "group": "unattributed/-", "start_ms": 9_000, "end_ms": 9_100},
            {"id": 4, "group": "3f0c-run-id", "start_ms": 17_100, "end_ms": 17_900},
            {"id": 5, "group": "unattributed/-", "start_ms": 19_000, "end_ms": 19_500},
        ]
        zero = {k: 0 for k in ("tasks", "empty_tasks", "input_bytes", "records_read",
                               "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
                               "cpu_ns", "gc_ms", "run_ms", "scan_run_ms", "output_bytes")}
        groups = {
            "queries.Reference/a1_rate_curves": dict(zero, tasks=8, empty_tasks=2, input_bytes=2**21,
                                                     records_read=1000, shuffle_write_bytes=2**20,
                                                     cpu_ns=4 * 10**9, scan_run_ms=600),
            "queries.Reference/a2_lag_rates": dict(zero, tasks=3, cpu_ns=2 * 10**9),
            "3f0c-run-id": dict(zero, tasks=1),
        }
        plans = [{"start_ms": 10_100, "plan_ms": 300, "native_nodes": 0},
                 {"start_ms": 12_100, "plan_ms": 100, "native_nodes": 2}]
        return {"spans": spans, "jobs": jobs, "groups": groups, "plans": plans}

    def test_layer_counters_of_the_round(self):
        record, result = metrics.summarize(run_record(self.trace()), {}, trace=True)
        v = {k: m["value"] for k, m in result["metrics"].items()}
        self.assertEqual(set(v), {n for n, _, _ in metrics.per_layer_names()})
        self.assertEqual(v["queries.Reference.wall_s"], 8.0)
        self.assertEqual(v["queries.Reference.jobs"], 4.0)  # job 4's foreign group falls in c2's span
        self.assertEqual(v["queries.Reference.tasks"], 12.0)
        self.assertAlmostEqual(v["queries.Reference.empty_task_ratio"], 2 / 12)
        self.assertEqual(v["queries.Reference.a1_rate_curves.wall_s"], 2.0)
        self.assertEqual(v["queries.Reference.a1_rate_curves.shuffle_mb"], 1.0)
        self.assertEqual(v["ext.Corpus.wall_s"], 0.0)  # not a layer of this workload
        self.assertEqual(v["ops.Tables.input_mb"], 2.0)
        self.assertEqual(v["ops.Tables.records_read"], 1000.0)
        self.assertEqual(v["queries.Reference.plan_s"], 0.4)
        # a1: 2.0 s span, jobs cover 10.5-11.8 -> 0.7 s gap; a2 fully covered;
        # c1: no job, 4.0 s gap; c2: covered 17.1-17.9 -> 0.2 s gap
        self.assertAlmostEqual(v["queries.Reference.driver_gap_s"], 4.9)
        self.assertEqual(v["functions.native_nodes"], 2.0)
        self.assertEqual(v["functions.cpu_s"], 2.0)  # a2 carries the native plan
        self.assertEqual(v["setup.wall_s"], 8.0)
        self.assertEqual(v["unattributed.jobs"], 1.0)  # job 5 starts after the last op
        self.assertAlmostEqual(v["unattributed.wall_s"], 18.0 - 17.5)
        self.assertAlmostEqual(v["trace.coverage"], 17.5 / 18.0)
        self.assertIn("per_layer", record)


if __name__ == "__main__":
    unittest.main()
