"""Self-tests for the benchmark's own arithmetic.

    python3 -m unittest discover -s perfbench/tests
"""
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import metrics  # noqa: E402
import run  # noqa: E402


def op(key, start, end, error=None):
    return {"key": key, "start": start, "build_end": start + 1, "end": end, "error": error}


def record(ops, check):
    return {"workload": "w", "seed": 1, "trace": False, "corpus": None,
            "env": {"gc": [], "jvm": "x"}, "peak_rss_kb": 2048,
            "setup": {"session_ms": 100.0, "cold_pass_ms": 900.0,
                      "ops": [op(k, 0, 10) for k in check], "inputs_ms": 0, "check_ms": 0},
            "check": check, "traces": [], "pipeline": {},
            "passes": [{"settle": False, "traced": False, "ops": ops, "live_rdds": 0,
                        "checkpoint_bytes": 0, "codegen_compiles": 0, "codegen_ms": 0}]}


class TailTest(unittest.TestCase):
    def test_withheld_below_ten_beyond(self):
        self.assertIsNone(metrics.tail(list(range(10))))

    def test_eleven_samples_give_the_lowest(self):
        t = metrics.tail(list(range(11)))
        self.assertEqual(t["value"], 0)
        self.assertEqual(t["samples"], 11)

    def test_exactly_ten_beyond(self):
        xs = list(range(100, 0, -1))
        t = metrics.tail(xs)
        self.assertEqual(sum(1 for x in xs if x > t["value"]), 10)
        self.assertAlmostEqual(t["percentile"], 90.0)


class SpanTest(unittest.TestCase):
    def test_self_time_subtracts_covered_children(self):
        # children overlap each other and one sticks out of the span
        self.assertEqual(metrics.self_time((0, 100), [(10, 30), (20, 40), (90, 120)]), 60)

    def test_self_time_without_children(self):
        self.assertEqual(metrics.self_time((5, 8), []), 3)

    def test_idle_over_overlapping_jobs(self):
        jobs = [(10, 50), (20, 60), (70, 80)]
        self.assertEqual(metrics.idle_ms((0, 100), jobs), 40)

    def test_idle_counts_nested_and_identical_jobs_once(self):
        self.assertEqual(metrics.idle_ms((0, 10), [(2, 8), (3, 4), (2, 8)]), 4)


class FailureTest(unittest.TestCase):
    def test_throwing_key_is_failed_not_fast(self):
        passes = [{"ops": [op("a", 0, 500), op("b", 500, 501, error="boom")]}]
        ok, failed = metrics.samples(passes)
        self.assertEqual(ok, [500])
        self.assertEqual(failed, 1)

    def test_throwing_key_fails_the_run(self):
        cols = {"c": "h"}
        check = {"a": {"rows": 1, "cols": cols}, "b": {"rows": 1, "cols": cols}}
        expected = {"a": {"rows": 1, "cols": cols}, "b": {"rows": 1, "cols": cols}}
        ops = [op("a", 0, 500), op("b", 500, 501, error="boom"), op("a", 501, 1001)]
        result, rec = run.summarize(record(ops, check), expected, 4)
        self.assertFalse(result["correct"])
        self.assertEqual(result["failed"], 1)
        self.assertEqual(result["attempted"], 5)
        self.assertEqual(result["metrics"]["key_p50_ms"]["value"], 500)

    def test_wrong_digest_is_failed(self):
        check = {"a": {"rows": 1, "cols": {"c": "h1"}}}
        expected = {"a": {"rows": 1, "cols": {"c": "h2"}}}
        result, rec = run.summarize(record([op("a", 0, 5)], check), expected, 4)
        self.assertEqual(result["failed"], 1)
        self.assertIn("a", rec["check"]["mismatched"])

    def test_clean_run_is_correct(self):
        check = {"a": {"rows": 1, "cols": {"c": "h"}}}
        result, _ = run.summarize(record([op("a", 0, 5)], check), check, 4)
        self.assertTrue(result["correct"])
        self.assertEqual(result["metrics"]["setup_s"]["value"], 1.0)
        self.assertEqual(sorted(result["metrics"]), sorted(run.END_TO_END))


class TracedTest(unittest.TestCase):
    def test_traced_run_reports_every_per_layer_metric(self):
        check = {"a": {"rows": 1, "cols": {"c": "h"}}}
        rec = record([op("a", 0, 100)], check)
        traced = dict(rec["passes"][0], traced=True, ops=[op("a", 200, 300)])
        rec["passes"].append(traced)
        job = {"id": 1, "start": 210, "end": 250, "stages": 1, "tasks": 4,
               "task_failures": 0, "run_ms": 120, "cpu_ms": 60.0, "gc_ms": 0,
               "shuffle_write": 0, "shuffle_read": 0, "fetch_wait_ms": 0, "spill": 0,
               "in_bytes": 10, "in_records": 1, "out_bytes": 0, "out_records": 0,
               "last_task_end": 249}
        rec["traces"] = [{"jobs": [job], "queries": [],
                          "stages": [{"stage": 0, "attempt": 0, "tasks": 4, "job": 1,
                                      "start": 211, "end": 249}],
                          "tables_probes": [{"key": "a", "table": "t", "start": 301,
                                             "end": 311, "jobs": 1}]}]
        result, out = run.summarize(rec, check, 4)
        m = {k: v["value"] for k, v in result["metrics"].items()}
        self.assertEqual(sorted(m), sorted(run.PER_LAYER_UNITS))
        self.assertEqual(m["driver.idle_ms"], 60)
        self.assertEqual(m["tables.load_ms"], 10)
        self.assertEqual(m["exec.busy_share"], 120 / (100 * 4))
        self.assertEqual(m["trace.overhead"], 1.0)
        self.assertEqual(out["per_key"]["a"][0]["sink_self_ms"], 99 - 40)


if __name__ == "__main__":
    unittest.main()
