"""Unit tests for the benchmark's statistics.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import stats  # noqa: E402


class PercentileRule(unittest.TestCase):
    def test_nearest_rank(self):
        xs = list(range(1, 11))
        self.assertEqual(stats.percentile(xs, 50), 5)
        self.assertEqual(stats.percentile(xs, 90), 9)
        self.assertEqual(stats.percentile(xs, 100), 10)
        self.assertEqual(stats.percentile([7.0], 90), 7.0)

    def test_highest_percentile_leaves_ten_samples_beyond(self):
        self.assertEqual(stats.highest_percentile(100), 90)
        self.assertEqual(stats.highest_percentile(99), 75)
        self.assertEqual(stats.highest_percentile(200), 95)
        self.assertEqual(stats.highest_percentile(1000), 99)
        self.assertEqual(stats.highest_percentile(10000), 99.9)
        self.assertEqual(stats.highest_percentile(20), 50)
        self.assertIsNone(stats.highest_percentile(19))

    def test_rule_matches_percentile(self):
        # the chosen percentile really has >= 10 samples strictly above it
        for n in (20, 40, 99, 100, 150, 1000):
            p = stats.highest_percentile(n)
            xs = list(range(n))
            self.assertGreaterEqual(sum(x > stats.percentile(xs, p) for x in xs), 10)

    def test_median_and_geomean(self):
        self.assertEqual(stats.median([3, 1, 2]), 2)
        self.assertEqual(stats.median([4, 1, 2, 3]), 2.5)
        self.assertAlmostEqual(stats.geomean([1.0, 100.0]), 10.0)
        with self.assertRaises(ValueError):
            stats.geomean([1.0, 0.0])


class LagAttribution(unittest.TestCase):
    FILES = [{"name": "a", "due_ms": 1000}, {"name": "b", "due_ms": 1100},
             {"name": "c", "due_ms": 1200}, {"name": "d", "due_ms": 1300}]

    def test_each_file_lags_to_the_commit_of_its_batch(self):
        batches = [{"commit_ms": 1500, "files": ["a", "b"]},
                   {"commit_ms": 2400, "files": ["c", "d"]}]
        lags, missing = stats.attribute_lags(self.FILES, batches)
        self.assertEqual(lags, {"a": 500, "b": 400, "c": 1200, "d": 1100})
        self.assertEqual(missing, [])

    def test_first_commit_wins_and_uncommitted_files_are_missing(self):
        batches = [{"commit_ms": 3000, "files": ["a"]},   # a retried batch
                   {"commit_ms": 1600, "files": ["a", "b"]}]
        lags, missing = stats.attribute_lags(self.FILES, batches)
        self.assertEqual(lags, {"a": 600, "b": 500})
        self.assertEqual(missing, ["c", "d"])


class FailureCounting(unittest.TestCase):
    @staticmethod
    def op(q, rows=3, digest=7, error=None):
        return {"q": q, "rows": rows, "digest": digest, "error": error}

    def test_clean_run(self):
        ops = [self.op("x"), self.op("x"), self.op("y", rows=5, digest=1)]
        self.assertEqual(stats.count_failures(ops, {"x": True, "y": True},
                                              {"x": True, "y": True}), (3, 0))

    def test_exception_and_digest_mismatch_count(self):
        ops = [self.op("x", error="boom"), self.op("x", digest=8), self.op("x")]
        self.assertEqual(stats.count_failures(ops, {"x": True}, {"x": True}), (3, 2))

    def test_failed_reference_fails_every_execution(self):
        ops = [self.op("x"), self.op("x")]
        self.assertEqual(stats.count_failures(ops, {"x": False}, {"x": True}), (2, 2))

    def test_query_that_never_succeeded(self):
        ops = [self.op("x", error="boom"), self.op("x", error="boom")]
        self.assertEqual(stats.count_failures(ops, {}, {}), (2, 2))

    def test_rows_only_check(self):
        # no oracle: digests may differ, row counts may not, and must be > 0
        ops = [self.op("x", digest=1), self.op("x", digest=2)]
        self.assertEqual(stats.count_failures(ops, {"x": True}, {"x": False}), (2, 0))
        ops = [self.op("x", rows=3), self.op("x", rows=4)]
        self.assertEqual(stats.count_failures(ops, {"x": True}, {"x": False}), (2, 1))
        ops = [self.op("x", rows=0)]
        self.assertEqual(stats.count_failures(ops, {"x": True}, {"x": False}), (1, 1))

    def test_stream_failures(self):
        files = [{"name": n} for n in "abcd"]
        self.assertEqual(stats.stream_failures(files, [], True), (4, 0))
        self.assertEqual(stats.stream_failures(files, ["c"], True), (4, 1))
        self.assertEqual(stats.stream_failures(files, [], False), (4, 4))


class SelfTime(unittest.TestCase):
    def test_overlapping_children_are_merged(self):
        ms = 1_000_000
        spans = [
            {"id": 1, "name": "op:q", "start_ns": 0, "end_ns": 100 * ms, "parent": 0},
            {"id": 2, "name": "exec", "start_ns": 10 * ms, "end_ns": 30 * ms, "parent": 1},
            {"id": 3, "name": "job", "start_ns": 20 * ms, "end_ns": 50 * ms, "parent": 1},
            {"id": 4, "name": "job", "start_ns": 15 * ms, "end_ns": 25 * ms, "parent": 2},
        ]
        self.assertEqual(stats.self_times(spans),
                         {"op:q": 60.0, "exec": 10.0, "job": 40.0})


if __name__ == "__main__":
    unittest.main()
