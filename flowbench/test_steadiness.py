"""Tests of the steadiness self-checks: python3 -m unittest discover flowbench"""
import unittest

from steadiness import backlog_grew, drift, trending


class Steadiness(unittest.TestCase):
    def test_jit_warmup_drift_is_flagged(self):
        self.assertTrue(trending([24.8, 22.6, 20.4], 0.1))
        self.assertAlmostEqual(drift([24.8, 22.6, 20.4]), -4.4 / 22.6)

    def test_settled_noise_is_not_flagged(self):
        self.assertFalse(trending([3.02, 2.97, 3.05, 2.99, 3.01], 0.1))

    def test_two_passes_trend_by_their_difference(self):
        self.assertAlmostEqual(drift([4.6, 4.0]), -0.6 / 4.3)

    def test_one_pass_has_no_trend(self):
        self.assertEqual(drift([3.0]), 0.0)

    def test_bounded_backlog_is_steady(self):
        self.assertFalse(backlog_grew([0, 1, 2, 0, 1, 3, 0, 1, 2, 1, 0, 2] * 10))

    def test_backlog_filling_up_at_the_start_is_steady(self):
        self.assertFalse(backlog_grew(list(range(10)) + [9, 10, 11, 10] * 25))

    def test_growing_backlog_is_flagged(self):
        self.assertTrue(backlog_grew(list(range(0, 120, 1))))


if __name__ == "__main__":
    unittest.main()
