"""Self-tests of the benchmark harness.

    python3 -m unittest discover -s perfbench/tests

The generator test builds the harness (perfbench/build.py) if needed.
"""
import os
import subprocess
import sys
import unittest

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))
import build  # noqa: E402
import metrics  # noqa: E402


def op(name, seconds, error=None, traced=False, pass_=1):
    return {"name": name, "seconds": seconds, "error": error, "traced": traced,
            "pass": pass_, "parts": {}, "counters": {}}


class TailPercentile(unittest.TestCase):
    def test_eleventh_slowest_of_many(self):
        xs = [float(i) for i in range(35)]
        value, pct, beyond = metrics.tail(xs)
        self.assertEqual(value, 24.0)
        self.assertAlmostEqual(pct, 100 * 25 / 35)
        self.assertEqual(beyond, 10)
        self.assertEqual(sum(1 for x in xs if x > value), 10)

    def test_smallest_sample_count_with_a_tail(self):
        value, pct, beyond = metrics.tail([5.0] + [1.0] * 10)
        self.assertEqual((value, beyond), (1.0, 10))
        self.assertAlmostEqual(pct, 100 / 11)

    def test_too_few_samples_fall_back_to_median(self):
        value, pct, beyond = metrics.tail([3.0, 1.0, 2.0, 4.0, 5.0])
        self.assertEqual((value, pct, beyond), (3.0, 50.0, 2))

    def test_order_does_not_matter(self):
        xs = [0.3, 0.1, 0.9, 0.5] * 10
        self.assertEqual(metrics.tail(xs), metrics.tail(sorted(xs)))


class SelfTime(unittest.TestCase):
    spans = [
        {"id": 1, "parent": 0, "op": 1, "layer": "op", "start": 0.0, "end": 100.0},
        # overlapping jobs count once; the last one sticks out of the op
        {"id": 2, "parent": 1, "op": 1, "layer": "spark", "start": 10.0, "end": 50.0},
        {"id": 3, "parent": 1, "op": 1, "layer": "spark", "start": 30.0, "end": 70.0},
        {"id": 4, "parent": 1, "op": 1, "layer": "spark", "start": 60.0, "end": 65.0},
        {"id": 5, "parent": 1, "op": 1, "layer": "spark", "start": 90.0, "end": 120.0},
    ]

    def test_overlapping_children_are_counted_once(self):
        self.assertEqual(metrics.self_times(self.spans)[1], 100 - (60 + 10))

    def test_leaf_self_time_is_its_duration(self):
        self.assertEqual(metrics.self_times(self.spans)[3], 40.0)

    def test_driver_gap_is_op_minus_union_of_jobs(self):
        self.assertAlmostEqual(metrics.driver_gaps(self.spans)[1], 0.030)

    def test_union_clips_and_skips_empty(self):
        self.assertEqual(metrics.union_length([(5, 5), (-3, 2), (1, 4)], 0, 3), 3)


class FailAccounting(unittest.TestCase):
    ops = [op("q1", 1.0), op("q2", 1.0), op("q2", 1.1), op("q3", 1.0, error="boom"),
           op("q4", 1.0)]
    checks = [
        {"name": "q1", "ok": True, "counted": True, "covers": ["q1"]},
        {"name": "q2", "ok": False, "counted": True, "covers": ["q2"]},
        {"name": "probe", "ok": False, "counted": False, "covers": ["q4"]},
    ]

    def test_failed_check_fails_every_op_it_covers(self):
        self.assertEqual(metrics.failures(self.ops, self.checks), 3)

    def test_fail_frac_is_failed_over_attempted(self):
        result = {"ops": self.ops, "checks": self.checks, "gauges": {}}
        layer = metrics.per_layer(result, [], 0.0)
        self.assertAlmostEqual(layer["fail_frac"], 3 / 5)
        self.assertEqual(layer["sources.gdx.natural_key_merge_ok"], 0.0)

    def test_nothing_failed(self):
        self.assertEqual(metrics.failures([op("q1", 1.0)], []), 0)


class Drift(unittest.TestCase):
    def test_first_pass_against_later_median(self):
        ops = [op("a", 3.0, pass_=1), op("a", 2.0, pass_=2), op("a", 2.0, pass_=3)]
        self.assertAlmostEqual(metrics.drift(ops), 0.5)

    def test_overhead_pairs_by_name(self):
        ops = [op("a", 1.1, traced=True), op("a", 1.0), op("b", 2.2, traced=True),
               op("b", 2.0), op("c", 9.0, traced=True)]
        self.assertAlmostEqual(metrics.overhead(ops), 0.1)


class Generator(unittest.TestCase):
    def test_same_seed_same_bytes(self):
        classes = build.build()
        cp = os.pathsep.join([classes, os.path.join(build.spark_jars(), "*")])

        def digests():
            out = subprocess.run(["java", "-cp", cp, "perfbench.GenDigest", "7", "8"],
                                 check=True, capture_output=True, text=True).stdout
            return [line.split() for line in out.splitlines()]

        first, second = digests(), digests()
        self.assertEqual(first, second)
        (_, landing7, star7), (_, landing8, star8) = first
        self.assertNotEqual(landing7, landing8)
        self.assertEqual(star7, star8)


if __name__ == "__main__":
    unittest.main()
