"""Unit checks for the benchmark's own helpers.

Run: python3 perfbench/test_metrics.py
"""
import json
import sys
import unittest
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))
import metrics  # noqa: E402
import run  # noqa: E402


def call(kind, error=None, matches=True):
    return {"kind": kind, "error": error, "matches_reference": matches}


class TailPercentile(unittest.TestCase):
    def test_highest_sample_with_ten_beyond(self):
        t = metrics.tail_percentile(list(range(1, 21)))
        self.assertEqual((t["value"], t["percentile"], t["samples"], t["beyond"]),
                         (10, 50.0, 20, 10))

    def test_hundred_samples_give_p90(self):
        t = metrics.tail_percentile([float(x) for x in range(100, 0, -1)])
        self.assertEqual((t["value"], t["percentile"]), (90.0, 90.0))

    def test_ties_do_not_count_as_beyond(self):
        t = metrics.tail_percentile([1] * 5 + [2] * 15)
        self.assertEqual((t["value"], t["beyond"]), (1, 15))

    def test_none_below_eleven_samples(self):
        self.assertIsNone(metrics.tail_percentile(list(range(10))))
        self.assertIsNotNone(metrics.tail_percentile(list(range(11))))


class Skew(unittest.TestCase):
    def test_ignores_stages_with_fewer_tasks_than_cores(self):
        stages = [{"num_tasks": 2, "task_ms": [1, 100]},
                  {"num_tasks": 4, "task_ms": [10, 10, 10, 40]}]
        self.assertEqual(metrics.skew(stages, cores=4), (4.0, 30.0))

    def test_no_qualifying_stage_is_no_skew(self):
        self.assertEqual(metrics.skew([{"num_tasks": 1, "task_ms": [5]}], cores=4),
                         (1.0, 0.0))

    def test_ratio_of_sums_weights_long_stages(self):
        stages = [{"num_tasks": 4, "task_ms": [1, 1, 1, 9]},
                  {"num_tasks": 4, "task_ms": [100, 100, 100, 100]}]
        ratio, straggler = metrics.skew(stages, cores=4)
        self.assertAlmostEqual(ratio, 109 / 101)
        self.assertEqual(straggler, 8.0)


class PlanFingerprint(unittest.TestCase):
    A = ("ResultQueryStage 106\n"
         "+- *(70) Sort [stage#10855 ASC NULLS FIRST], true, 0\n"
         "   +- ShuffleQueryStage 105\n"
         "      +- Exchange hashpartitioning(doc_id#12L, 4), ENSURE_REQUIREMENTS, [plan_id=106652]\n"
         "         +- Scan parquet [doc_id#12L] Location: InMemoryFileIndex(1 paths)"
         "[file:/tmp/a/perfbench/data/sf0.1/documents.parquet]\n")

    def test_ids_and_paths_are_stripped(self):
        b = (self.A.replace("106", "7").replace("105", "6").replace("10855", "3")
             .replace("#12L", "#99L").replace("*(70)", "*(2)").replace("/tmp/a", "/x/y"))
        self.assertNotEqual(self.A, b)
        self.assertEqual(metrics.strip_plan(self.A), metrics.strip_plan(b))
        self.assertEqual(metrics.fingerprint(self.A), metrics.fingerprint(b))
        self.assertNotIn("#", metrics.strip_plan(self.A))

    def test_operator_change_changes_fingerprint(self):
        b = self.A.replace("hashpartitioning", "rangepartitioning")
        self.assertNotEqual(metrics.fingerprint(self.A), metrics.fingerprint(b))


class FailedCalls(unittest.TestCase):
    def test_exception_and_oracle_mismatch_both_count(self):
        calls = [call("d3"), call("d3", error="SparkException: boom"),
                 call("d4"), call("d4"), call("d6", matches=False), call("t12")]
        # d4's reference failed the oracle: both its calls count
        self.assertEqual(metrics.failed_calls(calls, bad_kinds={"d4"}), 4)
        self.assertEqual(metrics.failed_calls(calls, bad_kinds=set()), 2)


class BenchmarkJson(unittest.TestCase):
    def test_declared_metrics_match_reported_ones(self):
        spec = json.loads((run.ROOT / "BENCHMARK.json").read_text())
        self.assertEqual({w["name"] for w in spec["workloads"]}, set(run.WORKLOADS))
        self.assertEqual({m["name"]: m["unit"] for m in spec["end_to_end"]},
                         run.UNITS_E2E)
        self.assertEqual({m["name"]: m["unit"] for m in spec["per_layer"]},
                         metrics.LAYER_UNITS)


if __name__ == "__main__":
    unittest.main()
