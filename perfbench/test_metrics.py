"""Self-tests of the benchmark's own logic: python3 perfbench/test_metrics.py"""

import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import metrics  # noqa: E402


class SelfTime(unittest.TestCase):
    def test_overlapping_children_count_once(self):
        spans = {
            "q": {"parent": None, "t0": 0, "t1": 100},
            "a": {"parent": "q", "t0": 10, "t1": 50},
            "b": {"parent": "q", "t0": 30, "t1": 70},   # overlaps a
            "c": {"parent": "q", "t0": 90, "t1": 130},  # runs past its parent
        }
        st = metrics.self_times(spans)
        # covered: [10, 70) and [90, 100) -> 70 of 100
        self.assertEqual(st["q"], 30)
        self.assertEqual(st["a"], 40)

    def test_nested_and_disjoint(self):
        spans = {
            "q": {"parent": None, "t0": 0, "t1": 10},
            "a": {"parent": "q", "t0": 0, "t1": 4},
            "a1": {"parent": "a", "t0": 1, "t1": 2},
            "b": {"parent": "q", "t0": 6, "t1": 8},
        }
        st = metrics.self_times(spans)
        self.assertEqual(st["q"], 4)
        self.assertEqual(st["a"], 3)
        self.assertEqual(st["a1"], 1)


class Tail(unittest.TestCase):
    def test_highest_percentile_with_ten_beyond(self):
        xs = list(range(1, 101))           # 100 samples
        p, v, n, beyond = metrics.tail(xs)
        self.assertEqual((p, v, n, beyond), (90.0, 90, 100, 10))

    def test_forty_samples_give_p75(self):
        p, v, n, beyond = metrics.tail(list(range(40)))
        self.assertEqual((p, n, beyond), (75.0, 40, 10))

    def test_too_few_samples_report_the_maximum(self):
        p, v, n, beyond = metrics.tail([3.0, 1.0, 2.0])
        self.assertEqual((p, v, n, beyond), (100.0, 3.0, 3, 0))


class Attribution(unittest.TestCase):
    execs = [
        # build [1000, 2000) ms, exec [2000, 3000) ms, in microseconds
        {"id": 1, "t0": 1_000_000, "t1": 2_000_000, "t2": 3_000_000},
        {"id": 2, "t0": 3_000_000, "t1": 3_500_000, "t2": 5_000_000},
    ]

    def test_tagged_untagged_and_outside(self):
        jobs = [
            {"job": 0, "t0": 1100, "tag": "1/build"},
            {"job": 1, "t0": 1500, "tag": None},      # pool thread, build window
            {"job": 2, "t0": 3600, "tag": None},      # exec window of query 2
            {"job": 3, "t0": 9000, "tag": None},      # outside every query
            {"job": 4, "t0": 2500, "tag": "harness"},
        ]
        out, untagged, unattributed = metrics.attribute_jobs(jobs, self.execs)
        self.assertEqual(out[0], (1, "build", True))
        self.assertEqual(out[1], (1, "build", False))
        self.assertEqual(out[2], (2, "exec", False))
        self.assertNotIn(3, out)
        self.assertNotIn(4, out)
        self.assertEqual((untagged, unattributed), (2, 1))

    def test_stale_tag_is_attributed_by_window(self):
        # a pool thread created during query 1 still carries its tag
        jobs = [{"job": 7, "t0": 4000, "tag": "1/build"}]
        out, untagged, _ = metrics.attribute_jobs(jobs, self.execs)
        self.assertEqual(out[7], (2, "exec", False))
        self.assertEqual(untagged, 1)


class Digests(unittest.TestCase):
    record = {
        "execs": [{"query": "a", "error": None}, {"query": "b", "error": None},
                  {"query": "a", "error": None}, {"query": "b", "error": None}],
        "digests": {"a": "3:aaa", "b": "5:bbb"},
    }

    def test_matching_digests_pass(self):
        attempted, failed, reasons = metrics.run_outcome(
            self.record, {"a": "3:aaa", "b": "5:bbb"})
        self.assertEqual((attempted, failed, reasons), (6, 0, {}))

    def test_planted_wrong_digest_fails_its_query(self):
        attempted, failed, reasons = metrics.run_outcome(
            self.record, {"a": "3:aaa", "b": "5:planted"})
        self.assertEqual((attempted, failed), (6, 1))
        self.assertEqual(list(reasons), ["b"])

    def test_errors_are_counted_and_named(self):
        rec = dict(self.record, execs=self.record["execs"] + [
            {"query": "a", "error": "java.lang.IllegalStateException: boom"}])
        attempted, failed, reasons = metrics.run_outcome(
            rec, {"a": "3:aaa", "b": "5:bbb"})
        self.assertEqual((attempted, failed), (7, 1))
        self.assertIn("IllegalStateException", reasons["a"][0])


class EndToEnd(unittest.TestCase):
    def test_failed_execution_is_kept_out_of_the_times(self):
        rec = {
            "setup_s": 4.0, "heap_retained_bytes": 2e8,
            "passes": [{"pass": 0, "t0": 0, "t1": 10_000_000},
                       {"pass": 1, "t0": 10_000_000, "t1": 16_000_000}],
            "execs": [
                {"pass": 0, "t0": 0, "t2": 10_000_000, "error": None},
                {"pass": 1, "t0": 10_000_000, "t2": 12_000_000, "error": None},
                {"pass": 1, "t0": 12_000_000, "t2": 16_000_000, "error": "X: y"},
            ],
        }
        m, info = metrics.end_to_end(rec)
        self.assertEqual(m["cold_s"], 10.0)
        self.assertEqual(m["wall_s"], 2.0)
        self.assertEqual(m["query_p50_s"], 2.0)
        self.assertEqual(info["query_samples"], 1)


if __name__ == "__main__":
    unittest.main()
