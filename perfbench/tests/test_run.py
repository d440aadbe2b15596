"""Unit tests of run.py's steadiness arithmetic: python3 -m unittest discover perfbench/tests"""
import os
import sys
import unittest

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))
import run  # noqa: E402


def runs(name, values):
    return [{"metrics": {name: {"value": v, "unit": "s"}}} for v in values]


class SummaryTest(unittest.TestCase):
    def test_summary_is_median_quartiles_and_relative_iqr(self):
        med, q1, q3, spread = run.summary([float(v) for v in range(1, 11)])
        self.assertEqual((med, q1, q3), (5.5, 2.75, 8.25))
        self.assertAlmostEqual(spread, 1.0)

    def test_worse_by_respects_direction(self):
        self.assertAlmostEqual(run.worse_by("lower", 10.0, 11.0), 0.1)
        self.assertAlmostEqual(run.worse_by("higher", 10.0, 11.0), -0.1)
        self.assertAlmostEqual(run.worse_by("higher", 10.0, 9.0), 0.1)


class CompareTest(unittest.TestCase):
    spec = {"end_to_end": [{"name": "wall_s", "unit": "s", "better": "lower", "bound": 0.1},
                           {"name": "setup_s", "unit": "s", "better": "lower", "bound": 0.25}]}

    def both(self, wall_a, wall_b, setup_a, setup_b):
        a = [dict(m, metrics={**m["metrics"], **s["metrics"]})
             for m, s in zip(runs("wall_s", wall_a), runs("setup_s", setup_a))]
        b = [dict(m, metrics={**m["metrics"], **s["metrics"]})
             for m, s in zip(runs("wall_s", wall_b), runs("setup_s", setup_b))]
        return run.compare(self.spec, a, b)[0]

    def test_steady_equal_sets_pass(self):
        v = [1.0, 1.01, 0.99, 1.0, 1.02]
        self.assertTrue(self.both(v, v, v, v))

    def test_spread_over_bound_fails(self):
        steady = [1.0, 1.01, 0.99, 1.0, 1.02]
        noisy = [0.5, 1.5, 1.0, 0.7, 1.3]
        self.assertFalse(self.both(noisy, noisy, steady, steady))
        self.assertFalse(self.both(steady, steady, noisy, noisy))
        self.assertTrue(self.both(steady, steady, steady, steady))

    def test_median_drift_over_bound_fails(self):
        v = [1.0, 1.01, 0.99, 1.0, 1.02]
        self.assertFalse(self.both(v, [x * 1.2 for x in v], v, v))
        self.assertFalse(self.both(v, v, v, [x * 1.3 for x in v]))
        self.assertTrue(self.both(v, [x * 0.8 for x in v], v, v))


if __name__ == "__main__":
    unittest.main()
