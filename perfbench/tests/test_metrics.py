"""Tests for the benchmark's own rules: percentiles, sample counts,
metric names and the result line's format.

    python3 -m unittest discover -s perfbench/tests
"""
import json
import statistics
import sys
import unittest
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE.parent))
import metrics  # noqa: E402

SPEC = {
    "workloads": [{"name": "ecs_step", "why": "w"}, {"name": "ecs_query", "why": "r"}],
    "end_to_end": [
        {"name": "setup_s", "unit": "s", "better": "lower", "bound": 0.25},
        {"name": "op_ms.p50", "unit": "ms", "better": "lower", "bound": 0.1},
    ],
    "per_layer": [{"name": "world.step_jobs", "unit": "count", "better": "lower"}],
}


def raw_record(workload="ecs_step", ops=None, checks=None):
    ops = ops or [{"type": "step", "ms": float(ms), "ok": True} for ms in (30, 10, 20)]
    return {
        "workload": workload, "seed": 1, "run_id": "r", "machine": {"cores": 4},
        "setup_s": [3.0, 1.0, 2.0], "measured_s": 2.0, "ops": ops,
        "peak_block_bytes": 2 ** 21, "samples": {"bytes_per_user_byte": [0.5]},
        "extra": {}, "checks": checks or [{"name": "c", "ok": True}],
        "spans": [],
    }


class PercentileTest(unittest.TestCase):
    def test_matches_statistics_inclusive_method(self):
        xs = [7.0, 1.0, 3.0, 9.0, 4.0, 12.0, 5.5]
        for n in (4, 10):
            want = statistics.quantiles(xs, n=n, method="inclusive")
            got = [metrics.percentile(xs, i / n) for i in range(1, n)]
            for g, w in zip(got, want):
                self.assertAlmostEqual(g, w)

    def test_median_of_even_count_is_mean_of_middle_pair(self):
        self.assertEqual(metrics.median([4.0, 1.0, 3.0, 2.0]), 2.5)

    def test_endpoints_and_errors(self):
        self.assertEqual(metrics.percentile([5.0, 1.0], 0.0), 1.0)
        self.assertEqual(metrics.percentile([5.0, 1.0], 1.0), 5.0)
        self.assertRaises(ValueError, metrics.percentile, [], 0.5)
        self.assertRaises(ValueError, metrics.percentile, [1.0], 1.5)


class SampleCountTest(unittest.TestCase):
    def test_a_tail_needs_ten_samples_beyond_it(self):
        self.assertFalse(metrics.supports(99, 0.9))
        self.assertTrue(metrics.supports(100, 0.9))
        self.assertTrue(metrics.supports(40, 0.75))
        self.assertFalse(metrics.supports(39, 0.75))
        self.assertTrue(metrics.supports(1000, 0.99))

    def test_tail_picks_the_highest_supported_percentile(self):
        self.assertIsNone(metrics.tail(list(range(39))))
        self.assertEqual(metrics.tail(list(range(40)))[0], 0.75)
        self.assertEqual(metrics.tail(list(range(200)))[0], 0.95)

    def test_summary_reports_count_median_and_supported_tail(self):
        s = metrics.summary([float(i) for i in range(100)])
        self.assertEqual(s["n"], 100)
        self.assertEqual(s["p50"], 49.5)
        self.assertIn("p90", s)
        self.assertEqual(metrics.summary([1.0, 2.0]), {"n": 2, "p50": 1.5})


class NameTest(unittest.TestCase):
    def test_valid_names(self):
        for n in ("setup_s", "op_ms.p50", "self_ms_per_op.ecs.World", "a-b", "9lives"):
            self.assertTrue(metrics.valid_name(n), n)

    def test_invalid_names(self):
        for n in ("", "_x", ".x", "a b", "a/b", "ms%", "x" * 65, "naïve"):
            self.assertFalse(metrics.valid_name(n), n)

    def test_benchmark_json_is_well_formed(self):
        spec = json.loads((HERE.parent.parent / "BENCHMARK.json").read_text())
        metrics.check_spec(spec)
        self.assertIn("setup_s", [m["name"] for m in spec["end_to_end"]])
        for m in spec["end_to_end"]:
            self.assertLessEqual(m["bound"], 0.25)

    def test_repeated_name_is_refused(self):
        spec = dict(SPEC, per_layer=[{"name": "setup_s", "unit": "s", "better": "lower"}])
        self.assertRaises(ValueError, metrics.check_spec, spec)


class SelfTimeTest(unittest.TestCase):
    def test_self_time_subtracts_the_union_of_children(self):
        parent = {"start_ms": 0.0, "end_ms": 10.0}
        kids = [{"start_ms": 1.0, "end_ms": 4.0}, {"start_ms": 3.0, "end_ms": 5.0},
                {"start_ms": 8.0, "end_ms": 12.0}]
        self.assertEqual(metrics.self_ms(parent, kids), 10.0 - 4.0 - 2.0)
        self.assertEqual(metrics.self_ms(parent, []), 10.0)


class OutputSchemaTest(unittest.TestCase):
    def test_untraced_line_has_the_result_format(self):
        line = metrics.result_line(raw_record(), SPEC, traced=False)
        metrics.check_line(line, SPEC, traced=False)
        self.assertEqual(line["attempted"], 4)
        self.assertEqual(line["failed"], 0)
        self.assertTrue(line["correct"])
        self.assertEqual(line["metrics"]["setup_s"], {"value": 2.0, "unit": "s"})
        self.assertEqual(line["metrics"]["op_ms.p50"]["value"], 20.0)
        self.assertEqual(json.loads(json.dumps(line)), line)

    def test_query_rate_does_not_depend_on_the_mix(self):
        def ops(n_point, n_scan):
            return ([{"type": "point", "ms": 250.0, "ok": True}] * n_point
                    + [{"type": "history_scan", "ms": 1000.0, "ok": True}] * n_scan)
        few = metrics.end_to_end(raw_record("ecs_query", ops(4, 1)))["ops_per_s"]
        many = metrics.end_to_end(raw_record("ecs_query", ops(12, 1)))["ops_per_s"]
        self.assertAlmostEqual(few, 2.0)
        self.assertAlmostEqual(many, 2.0)

    def test_step_rate_counts_maintenance_time(self):
        ops = [{"type": "step", "ms": 500.0, "ok": True}] * 2 + [{"type": "compact", "ms": 1000.0, "ok": True}]
        raw = dict(raw_record("ecs_step", ops), measured_s=2.0)
        self.assertEqual(metrics.end_to_end(raw)["ops_per_s"], 1.0)

    def test_traced_line_carries_only_per_layer_metrics(self):
        line = metrics.result_line(raw_record(), SPEC, traced=True)
        metrics.check_line(line, SPEC, traced=True)
        self.assertEqual(set(line["metrics"]), {"world.step_jobs"})

    def test_wrong_ops_and_failed_checks_count_as_failed(self):
        ops = [{"type": "point", "ms": 5.0, "ok": True}, {"type": "point", "ms": 6.0, "ok": False}]
        checks = [{"name": "a", "ok": False}, {"name": "b", "ok": True}]
        line = metrics.result_line(raw_record("ecs_query", ops, checks), SPEC, traced=False)
        self.assertEqual((line["attempted"], line["failed"], line["correct"]), (4, 2, False))

    def test_malformed_lines_are_refused(self):
        good = metrics.result_line(raw_record(), SPEC, traced=False)
        bad = [dict(good, extra=1), dict(good, attempted=0), dict(good, failed=1.0),
               dict(good, correct="yes"),
               dict(good, metrics={"setup_s": good["metrics"]["setup_s"]}),
               dict(good, metrics=dict(good["metrics"], setup_s={"value": 1.0, "unit": "ms"})),
               dict(good, metrics=dict(good["metrics"], setup_s={"value": float("nan"), "unit": "s"}))]
        for line in bad:
            self.assertRaises(ValueError, metrics.check_line, line, SPEC, False)


if __name__ == "__main__":
    unittest.main()
