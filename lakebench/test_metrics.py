"""Tests of the benchmark's own arithmetic.

    python3 -m unittest discover -s lakebench -p 'test_*.py'

The row digest's order independence is checked on the JVM side
(lakebench.SelfTest); the last test runs it when a Java runtime and the
Spark jars are present.
"""
import os
import shutil
import subprocess
import unittest

import metrics


class Percentiles(unittest.TestCase):
    def test_tail_needs_ten_samples_beyond(self):
        self.assertIsNone(metrics.tail_percentile(39))
        self.assertEqual(metrics.tail_percentile(40), 75.0)
        self.assertEqual(metrics.tail_percentile(99), 75.0)
        self.assertEqual(metrics.tail_percentile(100), 90.0)
        self.assertEqual(metrics.tail_percentile(105), 90.0)
        self.assertEqual(metrics.tail_percentile(200), 95.0)
        self.assertEqual(metrics.tail_percentile(1000), 99.0)
        self.assertEqual(metrics.tail_percentile(10000), 99.9)

    def test_interpolated_percentile(self):
        xs = [5.0, 1.0, 3.0, 2.0, 4.0]
        self.assertEqual(metrics.percentile(xs, 50), 3.0)
        self.assertEqual(metrics.percentile(xs, 0), 1.0)
        self.assertEqual(metrics.percentile(xs, 100), 5.0)
        self.assertAlmostEqual(metrics.percentile(xs, 90), 4.6)
        self.assertIsNone(metrics.percentile([], 50))


class Intervals(unittest.TestCase):
    def test_union_merges_overlaps_and_gaps(self):
        self.assertEqual(metrics.union_length([(0, 2), (1, 3), (5, 6)]), 4)
        self.assertEqual(metrics.union_length([(0, 10), (2, 3), (4, 5)]), 10)
        self.assertEqual(metrics.union_length([]), 0)

    def test_union_clips_to_window(self):
        self.assertEqual(metrics.union_length([(-5, 2), (8, 20)], 0, 10), 4)
        self.assertEqual(metrics.union_length([(11, 12)], 0, 10), 0)

    def test_driver_gap_is_op_wall_minus_job_union(self):
        # op [0, 10); jobs [1, 4) and [3, 6) overlap; [12, 13) is another op's
        jobs = [(1, 4), (3, 6), (12, 13)]
        self.assertEqual(10 - metrics.union_length(jobs, 0, 10), 5)


def span(i, parent, t0, t1):
    return {"id": i, "parent": parent, "t0": t0, "t1": t1, "name": f"s{i}", "attrs": {}}


class SelfTime(unittest.TestCase):
    def test_overlapping_children_count_once(self):
        spans = [span(0, -1, 0, 10), span(1, 0, 1, 5), span(2, 0, 3, 7), span(3, 2, 4, 6)]
        st = metrics.self_times(spans)
        self.assertEqual(st[0], 4)   # 10 - union([1,5), [3,7)) = 10 - 6
        self.assertEqual(st[1], 4)
        self.assertEqual(st[2], 2)   # 4 - 2
        self.assertEqual(st[3], 2)

    def test_self_times_add_up_to_op_wall_for_nested_spans(self):
        spans = [span(0, -1, 0, 10), span(1, 0, 1, 4), span(2, 0, 5, 9), span(3, 2, 6, 7)]
        self.assertEqual(sum(metrics.self_times(spans).values()), 10)

    def test_attribution_picks_innermost_open_span(self):
        spans = [span(0, -1, 0, 10), span(1, 0, 2, 8), span(2, 1, 3, 4)]
        a = metrics.Attributor(spans)
        self.assertEqual(a.at(3.5)["id"], 2)
        self.assertEqual(a.at(5)["id"], 1)
        self.assertEqual(a.at(9)["id"], 0)
        self.assertIsNone(a.at(11))
        self.assertEqual(a.op_of(a.at(3.5))["id"], 0)


class RowDigest(unittest.TestCase):
    def test_jvm_row_digest_is_order_independent(self):
        if shutil.which("java") is None:
            self.skipTest("no Java runtime")
        import build
        try:
            cp = build.build()
        except build.BuildError as e:
            self.skipTest(str(e))
        r = subprocess.run(["java", "-XX:-UsePerfData", "-cp", os.pathsep.join(cp), "lakebench.Main", "--selftest", "1"],
                           stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
        self.assertEqual(r.returncode, 0, r.stdout)
        self.assertNotIn("FAIL", r.stdout)
        self.assertIn("PASS order_independent", r.stdout)


if __name__ == "__main__":
    unittest.main()
