"""Tests for the benchmark's own arithmetic (stats.py).

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""

import unittest

import stats


class TailTest(unittest.TestCase):
    def test_ten_samples_lie_beyond_the_reported_value(self):
        xs = list(range(1, 201))  # 1..200
        pct, value = stats.tail(xs)
        self.assertEqual(value, 190)
        self.assertEqual(sum(1 for x in xs if x > value), 10)
        self.assertAlmostEqual(pct, 95.0)

    def test_order_of_samples_does_not_matter(self):
        self.assertEqual(stats.tail([5, 1, 4, 2, 3] * 5), stats.tail(sorted([5, 1, 4, 2, 3] * 5)))

    def test_too_few_samples_give_no_tail(self):
        self.assertIsNone(stats.tail(list(range(10))))
        self.assertIsNotNone(stats.tail(list(range(11))))

    def test_p95_needs_two_hundred_samples(self):
        self.assertLess(stats.tail(list(range(199)))[0], 95.0)
        self.assertAlmostEqual(stats.tail(list(range(100)))[0], 90.0)


class GeomeanTest(unittest.TestCase):
    def test_a_halved_operation_moves_the_mean_by_its_root(self):
        base = stats.geomean([0.1, 1.0, 10.0])
        self.assertAlmostEqual(base, 1.0)
        self.assertAlmostEqual(stats.geomean([0.05, 1.0, 10.0]), 0.5 ** (1 / 3))


def span(i, start, end, parent=None):
    return {"id": i, "start_ns": int(start * 1e9), "end_ns": int(end * 1e9), "parent": parent}


class SelfTimeTest(unittest.TestCase):
    def test_self_time_is_duration_minus_children(self):
        spans = [span(1, 0, 10), span(2, 1, 3, 1), span(3, 5, 9, 1)]
        self.assertAlmostEqual(stats.self_times(spans)[1], 4.0)
        self.assertAlmostEqual(stats.self_times(spans)[2], 2.0)

    def test_overlapping_children_count_once(self):
        spans = [span(1, 0, 10), span(2, 1, 6, 1), span(3, 4, 8, 1)]
        self.assertAlmostEqual(stats.self_times(spans)[1], 3.0)

    def test_children_are_clipped_to_the_parent(self):
        spans = [span(1, 2, 10), span(2, 0, 4, 1), span(3, 9, 12, 1)]
        self.assertAlmostEqual(stats.self_times(spans)[1], 5.0)

    def test_grandchildren_do_not_count_against_the_grandparent(self):
        spans = [span(1, 0, 10), span(2, 2, 4, 1), span(3, 6, 9, 2)]
        self.assertAlmostEqual(stats.self_times(spans)[1], 8.0)


LEGS = {"scan": 1.0, "parse": 1.5, "decrypt": 2.5, "validate": 3.0,
        "sanitise": 3.25, "write": 6.0, "accounting": 2.0}


class LegTest(unittest.TestCase):
    def test_each_layer_is_its_leg_minus_the_previous_leg(self):
        layers = stats.leg_layers(LEGS)
        self.assertEqual(layers, {"scan": 1.0, "parse": 0.5, "decrypt": 1.0,
                                  "validate": 0.5, "sanitise": 0.25,
                                  "write": 2.75, "accounting": 2.0})

    def test_a_faster_leg_shows_as_a_negative_layer(self):
        legs = dict(LEGS, parse=0.9)
        self.assertAlmostEqual(stats.leg_layers(legs)["parse"], -0.1)

    def test_layer_sum_keeps_the_residual_apart(self):
        total, residual, ratio = stats.layer_sum(LEGS, 0.5, 10.0)
        self.assertAlmostEqual(total, 8.5)
        self.assertAlmostEqual(residual, 1.5)
        self.assertAlmostEqual(ratio, 0.85)
        self.assertAlmostEqual(stats.leg_layers(LEGS)["write"], 2.75)

    def test_layer_sum_check_allows_ten_percent_either_way(self):
        self.assertTrue(stats.layer_sum_holds(1.0))
        self.assertTrue(stats.layer_sum_holds(0.91))
        self.assertTrue(stats.layer_sum_holds(1.09))
        self.assertFalse(stats.layer_sum_holds(0.85))
        self.assertFalse(stats.layer_sum_holds(1.28))


METRICS = [
    {"name": "op_s", "unit": "s", "better": "lower", "bound": 0.1},
    {"name": "records_per_s", "unit": "1/s", "better": "higher", "bound": 0.1},
    {"name": "setup_s", "unit": "s", "better": "lower", "bound": 0.25},
]


class AgreementTest(unittest.TestCase):
    def steady(self, m):
        return [m * (1 + 0.004 * (i % 5 - 2)) for i in range(10)]

    def test_spread_is_interquartile_distance_over_median(self):
        self.assertAlmostEqual(stats.spread([1, 2, 3, 4, 5, 6, 7, 8, 9, 10]),
                               (8.25 - 2.75) / 5.5)

    def test_two_steady_sets_agree(self):
        first = {"op_s": self.steady(2.0), "records_per_s": self.steady(5000),
                 "setup_s": self.steady(20)}
        second = {"op_s": self.steady(2.05), "records_per_s": self.steady(4900),
                  "setup_s": self.steady(22)}
        self.assertEqual(stats.agreement(first, second, METRICS), [])

    def test_a_worse_second_median_is_reported_per_direction(self):
        first = {"op_s": self.steady(2.0), "records_per_s": self.steady(5000),
                 "setup_s": self.steady(20)}
        second = {"op_s": self.steady(2.3), "records_per_s": self.steady(4000),
                  "setup_s": self.steady(26)}
        names = sorted(n for n, _ in stats.agreement(first, second, METRICS))
        self.assertEqual(names, ["op_s", "records_per_s", "setup_s"])

    def test_a_better_second_median_is_not_a_problem(self):
        first = {"op_s": self.steady(2.0), "records_per_s": self.steady(5000),
                 "setup_s": self.steady(20)}
        second = {"op_s": self.steady(1.5), "records_per_s": self.steady(6000),
                  "setup_s": self.steady(15)}
        self.assertEqual(stats.agreement(first, second, METRICS), [])

    def test_a_wide_spread_fails_for_every_metric_setup_included(self):
        wide = [1, 2, 3, 4, 5, 6, 7, 8, 9, 10]
        first = {"op_s": wide, "records_per_s": self.steady(5000), "setup_s": wide}
        second = {"op_s": self.steady(5.5), "records_per_s": self.steady(5000),
                  "setup_s": self.steady(5.5)}
        problems = stats.agreement(first, second, METRICS)
        self.assertEqual([n for n, _ in problems], ["op_s", "setup_s"])


if __name__ == "__main__":
    unittest.main()
