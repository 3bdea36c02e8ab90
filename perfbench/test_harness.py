"""Unit tests for the benchmark's Python helpers.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import datetime
import decimal
import json
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import check  # noqa: E402
import stats  # noqa: E402


class PercentileRule(unittest.TestCase):
    def test_nearest_rank(self):
        v = [5, 1, 4, 2, 3]
        self.assertEqual(stats.percentile(v, 50), 3)
        self.assertEqual(stats.percentile(v, 100), 5)
        self.assertEqual(stats.percentile(v, 1), 1)
        self.assertEqual(stats.percentile(list(range(1, 101)), 90), 90)

    def test_samples_beyond(self):
        self.assertEqual(stats.beyond(100, 90), 10)
        self.assertEqual(stats.beyond(99, 90), 9)
        self.assertEqual(stats.beyond(20, 50), 10)

    def test_highest_supported_needs_ten_beyond(self):
        self.assertEqual(stats.highest_supported(19), (None, 19))
        self.assertEqual(stats.highest_supported(20), (50.0, 20))
        self.assertEqual(stats.highest_supported(40), (75.0, 40))
        self.assertEqual(stats.highest_supported(99), (75.0, 99))
        self.assertEqual(stats.highest_supported(100), (90.0, 100))
        self.assertEqual(stats.highest_supported(200), (95.0, 200))
        self.assertEqual(stats.highest_supported(1000), (99.0, 1000))

    def test_every_supported_percentile_has_ten_beyond(self):
        for n in range(1, 400):
            p, count = stats.highest_supported(n)
            self.assertEqual(count, n)
            if p is not None:
                s = list(range(n))
                self.assertGreaterEqual(sum(1 for x in s if x > stats.percentile(s, p)), 10)


def span(i, parent, start, end, name="x"):
    return {"id": i, "parent": parent, "start_ns": start, "end_ns": end, "name": name, "op": 0}


class SelfTime(unittest.TestCase):
    def test_self_time_subtracts_direct_children_only(self):
        spans = [span(0, -1, 0, 10_000_000_000, "op"),
                 span(1, 0, 1_000_000_000, 4_000_000_000, "read"),
                 span(2, 1, 2_000_000_000, 3_000_000_000, "infer"),
                 span(3, 0, 5_000_000_000, 9_000_000_000, "write")]
        st = stats.self_times(spans)
        self.assertAlmostEqual(st[0], 3.0)
        self.assertAlmostEqual(st[1], 2.0)
        self.assertAlmostEqual(st[2], 1.0)
        self.assertAlmostEqual(st[3], 4.0)
        self.assertAlmostEqual(sum(st.values()), 10.0)

    def test_by_name_sums_spans(self):
        spans = [span(0, -1, 0, 1_000_000_000, "a"), span(1, -1, 0, 2_000_000_000, "a"),
                 span(2, 1, 0, 500_000_000, "b")]
        self.assertEqual(stats.by_name(spans), {"a": 3.0, "b": 0.5})


class Canonical(unittest.TestCase):
    def test_numbers_compare_by_value(self):
        self.assertEqual(check.from_jvm({"n": "6.0000"}), check.from_duckdb(6))
        self.assertEqual(check.from_jvm({"n": "6.0000"}), check.from_duckdb(decimal.Decimal("6.0")))
        self.assertEqual(check.from_jvm({"d": "1.0E-5"}), check.from_duckdb(1e-05))
        self.assertEqual(check.from_jvm({"d": "0.30000000000000004"}), check.from_duckdb(0.1 + 0.2))
        self.assertNotEqual(check.from_jvm({"d": "0.3"}), check.from_duckdb(0.1 + 0.2))
        self.assertEqual(check.from_jvm({"d": "NaN"}), check.from_duckdb(float("nan")))
        self.assertEqual(check.from_jvm({"n": "-0"}), check.from_duckdb(0))

    def test_times_dates_and_nesting(self):
        ts = datetime.datetime(2024, 1, 1, 0, 0, 7, 179575)
        micros = 1704067207179575
        self.assertEqual(check.from_jvm({"t": micros}), check.from_duckdb(ts))
        self.assertEqual(check.from_jvm({"t": 86400 * 1_000_000}),
                         check.from_duckdb(datetime.date(1970, 1, 2)))
        self.assertEqual(check.from_jvm([{"n": "1"}, None, "a"]), check.from_duckdb([1, None, "a"]))
        self.assertEqual(check.from_jvm({"m": [["b", {"n": "2"}], ["a", {"n": "1"}]]}),
                         check.from_duckdb({"key": ["a", "b"], "value": [1, 2]}))
        self.assertEqual(check.from_jvm([{"n": "1"}, "x"]), check.from_duckdb({"f1": 1, "f2": "x"}))

    def test_rows_compare_as_multisets(self):
        a = check.canon_rows([[["n", "1"], "x"], [["n", "2"], "y"], [["n", "1"], "x"]])
        b = check.canon_rows([[["n", "2"], "y"], [["n", "1"], "x"], [["n", "1"], "x"]])
        c = check.canon_rows([[["n", "2"], "y"], [["n", "1"], "x"]])
        self.assertEqual(a, b)
        self.assertNotEqual(a, c)
        json.dumps(a)


if __name__ == "__main__":
    unittest.main()
