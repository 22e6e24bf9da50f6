"""Self-tests for the benchmark's own helpers (no JVM, no Spark).

    python3 -m unittest discover -s perfbench/tests
"""
import datetime as dt
import decimal
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from graftbench import checks, stats  # noqa: E402


class PercentileRule(unittest.TestCase):
    def test_needs_ten_samples_beyond(self):
        self.assertIsNone(stats.tail_percentile(10))
        self.assertEqual(stats.tail_percentile(11), 9)
        self.assertEqual(stats.tail_percentile(25), 60)
        self.assertEqual(stats.tail_percentile(100), 90)
        self.assertEqual(stats.tail_percentile(200), 95)

    def test_rule_leaves_ten_samples_above(self):
        for n in range(11, 400):
            p = stats.tail_percentile(n)
            xs = list(range(n))
            above = [x for x in xs if x > stats.percentile(xs, p)]
            self.assertGreaterEqual(len(above), 10, n)
            if p < 99:
                above_next = [x for x in xs if x > stats.percentile(xs, p + 1)]
                self.assertLess(len(above_next), 10, n)

    def test_nearest_rank(self):
        xs = [5, 1, 4, 2, 3]
        self.assertEqual(stats.percentile(xs, 50), 3)
        self.assertEqual(stats.percentile(xs, 100), 5)
        self.assertEqual(stats.percentile(xs, 1), 1)


def span(start, end, level):
    return {"start": start, "end": end, "level": level}


class SelfTime(unittest.TestCase):
    def test_nested_spans(self):
        spans = [span(0, 10, 0),      # op
                 span(1, 4, 1),       # graft call
                 span(5, 9, 1),       # action
                 span(6, 8, 2),       # job inside the action
                 span(6.5, 7.5, 3)]   # stage inside the job
        self.assertEqual(stats.self_times(spans), [3, 3, 2, 1, 1])

    def test_overlapping_children_count_once(self):
        spans = [span(0, 10, 0), span(2, 6, 2), span(4, 8, 2)]
        self.assertEqual(stats.self_times(spans), [4, 4, 4])

    def test_child_goes_to_innermost_parent(self):
        spans = [span(0, 10, 0), span(1, 9, 1), span(2, 3, 2)]
        self.assertEqual(stats.self_times(spans), [2, 7, 1])

    def test_slack_admits_millisecond_clocks(self):
        spans = [span(100, 200, 1), span(99, 150, 2)]
        self.assertEqual(stats.self_times(spans), [100, 51])
        self.assertEqual(stats.self_times(spans, slack=1)[0], 50)

    def test_covered_clips_to_the_span(self):
        self.assertEqual(stats.covered(0, 10, [(-5, 2), (8, 20), (1, 3)]), 5)


class DigestNormalisation(unittest.TestCase):
    def test_column_and_row_order_do_not_matter(self):
        a = checks.digest(["x", "y"], [(1, "a"), (2, "b")])
        b = checks.digest(["y", "x"], [("b", 2), ("a", 1)])
        self.assertEqual(a, b)

    def test_engine_types_normalise(self):
        spark = [(decimal.Decimal("12.50"), dt.date(1995, 3, 1), None)]
        duck = [(12.5, dt.date(1995, 3, 1), float("nan"))]
        self.assertEqual(checks.digest(["p", "d", "n"], spark),
                         checks.digest(["p", "d", "n"], duck))

    def test_values_still_matter(self):
        self.assertNotEqual(checks.digest(["x"], [(1,)]), checks.digest(["x"], [(2,)]))
        self.assertNotEqual(checks.digest(["x"], [(1,)]), checks.digest(["y"], [(1,)]))

    def test_rounding_past_nine_digits_is_dropped(self):
        self.assertEqual(checks.normalize_value(0.1 + 0.2), 0.3)

    def test_rows_pair_on_exact_columns(self):
        # averages rounded differently by two engines must not re-pair rows
        spark = [("F", "R", 0.0498, 31863), ("F", "N", 0.0508, 857)]
        duck = [("F", "N", 0.05079999, 857), ("F", "R", 0.04980004, 31863)]
        ok, why = checks.same_rows(["f", "s", "avg", "n"], spark, ["f", "s", "avg", "n"], duck)
        self.assertTrue(ok, why)
        ok, _ = checks.same_rows(["f", "s", "avg", "n"], spark,
                                 ["f", "s", "avg", "n"], [("F", "N", 0.06, 857), duck[1]])
        self.assertFalse(ok)


if __name__ == "__main__":
    unittest.main()
