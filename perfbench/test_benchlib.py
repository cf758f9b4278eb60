"""Tests of the benchmark's own rules.

Run: python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import datetime
import decimal
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import benchlib  # noqa: E402
import run  # noqa: E402


class PercentileTest(unittest.TestCase):
    def test_nearest_rank(self):
        xs = list(range(1, 101))
        self.assertEqual(benchlib.percentile(xs, 50), 50)
        self.assertEqual(benchlib.percentile(xs, 90), 90)
        self.assertEqual(benchlib.percentile(xs, 100), 100)
        self.assertEqual(benchlib.percentile([7.0], 90), 7.0)
        self.assertEqual(benchlib.percentile([3, 1, 2], 50), 2)

    def test_empty_sample_is_an_error(self):
        with self.assertRaises(ValueError):
            benchlib.percentile([], 50)

    def test_tail_keeps_ten_samples_beyond(self):
        self.assertEqual(benchlib.tail_percentile(100), 90)
        self.assertEqual(benchlib.tail_percentile(200), 95)
        self.assertEqual(benchlib.tail_percentile(20), 50)
        self.assertIsNone(benchlib.tail_percentile(15))
        for n in range(20, 400):
            p = benchlib.tail_percentile(n)
            rank = -(-p * n // 100)
            self.assertGreaterEqual(n - rank, 10)


class DigestTest(unittest.TestCase):
    cols = ["b", "a", "c"]
    rows = [[1, "x", 2.5], [2, None, 0.1], [3, "z", 7.0]]

    def test_row_order_does_not_matter(self):
        d = benchlib.digest_rows(self.cols, self.rows)
        self.assertEqual(d, benchlib.digest_rows(self.cols, self.rows[::-1]))

    def test_column_order_does_not_matter(self):
        perm = [[r[2], r[0], r[1]] for r in self.rows]
        self.assertEqual(benchlib.digest_rows(self.cols, self.rows),
                         benchlib.digest_rows(["c", "b", "a"], perm))

    def test_content_and_multiplicity_matter(self):
        d = benchlib.digest_rows(self.cols, self.rows)
        changed = [list(r) for r in self.rows]
        changed[1][2] = 0.1000000001
        self.assertNotEqual(d, benchlib.digest_rows(self.cols, changed))
        self.assertNotEqual(
            d, benchlib.digest_rows(self.cols, self.rows + [self.rows[0]]))

    def test_numeric_forms_agree_on_exact_values(self):
        self.assertEqual(benchlib.canon(3), benchlib.canon(3.0))
        self.assertEqual(benchlib.canon(3), benchlib.canon(decimal.Decimal(
            "3.000")))
        self.assertEqual(benchlib.canon(decimal.Decimal("1.50")), "m1.5")
        self.assertNotEqual(benchlib.canon(True), benchlib.canon(1))

    def test_canonical_forms(self):
        self.assertEqual(benchlib.canon(None), "N")
        self.assertEqual(benchlib.canon("ab"), "s2:ab")
        self.assertEqual(benchlib.canon(datetime.date(2024, 1, 2)),
                         "D2024-01-02")
        self.assertEqual(benchlib.canon(datetime.datetime(1970, 1, 1, 0, 0, 1)),
                         "t1000000")
        self.assertEqual(benchlib.canon([1, None, {"x": 2}]), "[i1,N,(i2)]")
        self.assertEqual(benchlib.canon(0.5), "d3fe0000000000000")


class IntervalTest(unittest.TestCase):
    def test_union_merges_overlaps_and_clips(self):
        iv = [(0, 10), (5, 15), (20, 30), (29, 31), (40, 50)]
        self.assertEqual(benchlib.union_length(iv, 0, 100), 15 + 11 + 10)
        self.assertEqual(benchlib.union_length(iv, 8, 45), 7 + 11 + 5)
        self.assertEqual(benchlib.union_length([], 0, 10), 0)

    def test_driver_only_is_the_uncovered_part(self):
        iv = [(2, 4), (3, 6), (8, 9)]
        self.assertEqual(benchlib.driver_only(iv, 0, 10), 10 - 5)
        self.assertEqual(benchlib.driver_only([(0, 10)], 0, 10), 0)
        self.assertEqual(benchlib.driver_only([(-5, 20)], 0, 10), 0)
        self.assertEqual(benchlib.driver_only([(11, 12)], 0, 10), 10)


class FailureTest(unittest.TestCase):
    def test_an_operation_that_throws_is_a_failure(self):
        op = {"name": "x", "ok": False, "wall_s": 0.1,
              "error": "java.lang.RuntimeException: boom"}
        for w in ["fhir_load", "query_mix", "corpus_pipeline"]:
            self.assertTrue(run.verify(w, op, {}))

    def test_a_wrong_digest_is_a_failure(self):
        op = {"name": "q", "ok": True, "wall_s": 0.1, "digest": "1:00"}
        self.assertTrue(run.verify("query_mix", op, {"q": "1:01"}))
        self.assertFalse(run.verify("query_mix", op, {"q": "1:00"}))

    def test_failures_are_never_timed(self):
        rec = {"sizes": {"input_bytes": 10, "bundles_valid": 5}}
        result = {"setup_s": 1.0, "peak_rss_mb": 1.0,
                  "outputs": {"bytes": 20, "files": 2},
                  "ops": [{"wall_s": 1.0}, {"wall_s": 100.0}]}
        good = [{"wall_s": 1.0}]
        m = run.end_to_end("fhir_load", result, good, rec)
        self.assertEqual(m["op_p50_s"][0], 1.0)
        self.assertEqual(m["items_per_s"][0], 5.0)
        self.assertEqual(run.tail(good)["samples"], 1)


if __name__ == "__main__":
    unittest.main()
