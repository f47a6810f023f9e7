"""Self-check of the benchmark's metric arithmetic.

Run from the repo root: python3 -m unittest perfbench/test_metrics.py
"""
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import metrics  # noqa: E402


class TailTest(unittest.TestCase):
    def test_fifty_samples_give_p80(self):
        value, pct, beyond = metrics.tail(list(range(1, 51)))
        self.assertEqual((value, pct, beyond), (40, 80.0, 10))

    def test_the_percentile_is_the_highest_with_ten_beyond(self):
        values = [0.1 * i for i in range(37, 0, -1)]
        value, _, beyond = metrics.tail(values)
        self.assertEqual(sum(v > value for v in values), beyond)
        higher = min(v for v in values if v > value)
        self.assertLess(sum(v > higher for v in values), 10)

    def test_eleven_samples_leave_only_the_minimum(self):
        value, pct, beyond = metrics.tail([5, 1, 9, 3, 7, 2, 8, 4, 6, 11, 10])
        self.assertEqual(value, 1)
        self.assertAlmostEqual(pct, 100 / 11)
        self.assertEqual(beyond, 10)

    def test_ten_or_fewer_samples_report_the_maximum_and_say_so(self):
        self.assertEqual(metrics.tail([3.0, 1.0, 2.0]), (3.0, 100.0, 0))
        self.assertEqual(metrics.tail(list(range(10))), (9, 100.0, 0))

    def test_empty(self):
        self.assertEqual(metrics.tail([]), (0.0, 0.0, 0))


class ErrorRateTest(unittest.TestCase):
    def test_missing_pinned_queries_are_attempted_and_failed(self):
        attempted, failed, missing = metrics.pinned_ops(["q1", "q2", "q3"], ["q1", "q3", "q9"])
        self.assertEqual((attempted, failed, missing), (3, 1, ["q2"]))
        # 10 executed queries, all fine, plus the 3 pinned names: the
        # vanished query raises the rate instead of leaving the denominator.
        self.assertAlmostEqual(metrics.error_rate(10 + attempted, 0 + failed), 1 / 13)

    def test_all_present(self):
        self.assertEqual(metrics.pinned_ops(["a"], ["a", "b"]), (1, 0, []))
        self.assertEqual(metrics.error_rate(145, 0), 0.0)

    def test_nothing_attempted_is_an_error(self):
        with self.assertRaises(ValueError):
            metrics.error_rate(0, 0)


class StorageAmpTest(unittest.TestCase):
    def test_ratio(self):
        self.assertAlmostEqual(metrics.storage_amp(94.7e6, 17.5e6), 94.7 / 17.5)
        self.assertAlmostEqual(metrics.storage_amp(60, 100), 0.6)

    def test_no_input_is_an_error(self):
        with self.assertRaises(ValueError):
            metrics.storage_amp(1, 0)


class SpreadTest(unittest.TestCase):
    def test_interquartile_range_over_median(self):
        values = [10, 10, 10, 10, 10, 11, 9, 10, 10, 10]
        self.assertAlmostEqual(metrics.spread(values), 0.0)
        self.assertAlmostEqual(metrics.spread([1, 2, 3, 4, 5]), (4.5 - 1.5) / 3)


class OracleParseTest(unittest.TestCase):
    def test_pass_and_fail_lines(self):
        out = "PASS q01_a (12 rows)\nFAIL q02_b: ROWS: spark=1 duck=2\n\n1 passed, 1 failed\n"
        self.assertEqual(metrics.oracle_results(out),
                         {"q01_a": None, "q02_b": "ROWS: spark=1 duck=2"})


if __name__ == "__main__":
    unittest.main()
