"""Unit tests of the benchmark's metric arithmetic.

    python3 -m unittest discover -s perfbench/tests
"""
import json
import math
import os
import statistics
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import metrics  # noqa: E402
import oracle  # noqa: E402
import run  # noqa: E402


class TailTest(unittest.TestCase):
    def test_p99_needs_a_thousand_samples(self):
        xs = list(range(1, 1001))
        p, v, n = metrics.tail(xs)
        self.assertEqual((p, n), (0.99, 1000))
        self.assertEqual(v, 990)
        self.assertEqual(sum(1 for x in xs if x > v), 10)

    def test_falls_back_to_highest_supported_percentile(self):
        xs = list(range(1, 101))
        p, v, n = metrics.tail(xs)
        self.assertEqual(p, 0.90)
        self.assertEqual(sum(1 for x in xs if x > v), 10)

    def test_always_ten_beyond(self):
        for n in (20, 37, 150, 999, 5000):
            xs = [float(i) for i in range(n)]
            p, v, _ = metrics.tail(xs)
            self.assertGreaterEqual(sum(1 for x in xs if x > v), 10, n)

    def test_too_few_samples_reports_the_median(self):
        p, v, n = metrics.tail([5.0, 1.0, 3.0])
        self.assertEqual((p, v, n), (0.5, 3.0, 3))

    def test_empty(self):
        self.assertEqual(metrics.tail([]), (0.0, 0.0, 0))


class AggregateTest(unittest.TestCase):
    def test_geomean(self):
        self.assertAlmostEqual(metrics.geomean([1, 4, 16]), 4.0)
        self.assertAlmostEqual(metrics.geomean([2.0]), 2.0)
        self.assertEqual(metrics.geomean([]), 0.0)

    def test_quartiles_match_statistics(self):
        xs = [3.0, 1.0, 4.0, 1.5, 9.0, 2.6]
        self.assertEqual(metrics.quartiles(xs), tuple(statistics.quantiles(xs, n=4)))

    def test_slot_util(self):
        # 8 task-seconds over 2 s of actions on 4 cores: fully busy
        self.assertAlmostEqual(metrics.slot_util(8.0, 2.0, 4), 1.0)
        self.assertAlmostEqual(metrics.slot_util(2.0, 2.0, 4), 0.25)
        self.assertEqual(metrics.slot_util(1.0, 0.0, 4), 0.0)


class SpanTest(unittest.TestCase):
    def test_union_merges_overlaps_and_clips(self):
        self.assertEqual(metrics.union_length([(0, 2), (1, 3), (5, 6)]), 4)
        self.assertEqual(metrics.union_length([(0, 10)], 2, 4), 2)
        self.assertEqual(metrics.union_length([]), 0)

    def test_self_time(self):
        # 10 ms span; children cover [1,3] and [2,5] (overlapping) and
        # [9,12] (partly outside): 4 + 1 = 5 ms covered
        self.assertEqual(metrics.self_time((0, 10), [(1, 3), (2, 5), (9, 12)]), 5)

    def test_coverage(self):
        self.assertAlmostEqual(metrics.coverage((0, 10), [(0, 4), (4, 9)]), 0.9)
        self.assertEqual(metrics.coverage((5, 5), []), 1.0)

    def test_query_spans_are_measured_not_cut(self):
        q = {"start": 0.0, "built_at": 100.0, "end": 1000.0}
        qes = [{"phases": {"analysis": {"start": 110, "end": 120},
                           "planning": {"start": 120, "end": 150}}},
               {"phases": {"analysis": {"start": 10, "end": 20}}}]  # eager, in build
        execs = [{"start": 160, "end": 700}, {"start": 200, "end": 300},
                 {"start": 50, "end": 60}]  # the last ran in the build
        s = metrics.query_spans(q, qes, execs)
        self.assertEqual(s, {"build": (0.0, 100.0), "plan": (110, 150),
                             "action": (160, 700)})
        # driver time outside every span shows as lost coverage
        self.assertAlmostEqual(metrics.coverage((0, 1000), list(s.values())), 0.68)

    def test_query_spans_without_events(self):
        q = {"start": 0.0, "built_at": 100.0, "end": 1000.0}
        self.assertEqual(metrics.query_spans(q, [], []), {"build": (0.0, 100.0)})

    def test_self_times_by_layer(self):
        spans = [
            {"id": "a", "kind": "query", "name": "q1", "parent": "workload",
             "start": 0, "end": 100},
            {"id": "a", "kind": "build", "name": "build", "parent": "q1", "start": 0, "end": 40},
            {"id": "a", "kind": "action", "name": "action", "parent": "q1",
             "start": 40, "end": 100},
            {"id": "a", "kind": "job", "name": "job3", "parent": "action",
             "start": 50, "end": 90},
        ]
        st = metrics.self_times(spans)
        self.assertAlmostEqual(st["query"], 0.0)
        self.assertAlmostEqual(st["build"], 0.040)
        self.assertAlmostEqual(st["action"], 0.020)
        self.assertAlmostEqual(st["job"], 0.040)


class OracleCompareTest(unittest.TestCase):
    def test_one_ulp_is_accepted_and_reported(self):
        import pandas as pd
        x = 1.0e10
        got = pd.DataFrame({"a": [x, 1.0], "b": ["k", "l"]})
        exp = pd.DataFrame({"a": [math.nextafter(x, math.inf), 1.0], "b": ["k", "l"]})
        ok, msg, notes = oracle.compare(got, exp)
        self.assertTrue(ok, msg)
        self.assertEqual(len(notes), 1)

    def test_two_ulps_fail(self):
        import pandas as pd
        x = 1.0e10
        y = math.nextafter(math.nextafter(x, math.inf), math.inf)
        ok, _, _ = oracle.compare(pd.DataFrame({"a": [x]}), pd.DataFrame({"a": [y]}))
        self.assertFalse(ok)

    def test_every_column_is_checked_after_an_accepted_one(self):
        import pandas as pd
        x = 1.0e10
        got = pd.DataFrame({"a": [x], "b": [2.0]})
        exp = pd.DataFrame({"a": [math.nextafter(x, math.inf)], "b": [3.0]})
        ok, msg, notes = oracle.compare(got, exp)
        self.assertFalse(ok)
        self.assertIn("col b", msg)
        self.assertEqual(len(notes), 1)

    def test_non_float_mismatch_fails(self):
        import pandas as pd
        ok, msg, _ = oracle.compare(pd.DataFrame({"a": [1, 2]}), pd.DataFrame({"a": [1, 3]}))
        self.assertFalse(ok)
        self.assertIn("row 1", msg)


class BenchmarkJsonTest(unittest.TestCase):
    def test_benchmark_json_matches_the_printed_metrics(self):
        path = os.path.join(HERE, "..", "..", "BENCHMARK.json")
        if not os.path.isfile(path):
            self.skipTest("BENCHMARK.json not present")
        with open(path) as f:
            b = json.load(f)
        self.assertEqual({m["name"]: m["unit"] for m in b["end_to_end"]}, run.END_TO_END)
        self.assertEqual({m["name"]: m["unit"] for m in b["per_layer"]}, run.PER_LAYER)
        self.assertEqual([w["name"] for w in b["workloads"]], list(run.WORKLOADS))


if __name__ == "__main__":
    unittest.main()
