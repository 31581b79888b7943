"""Tests for the benchmark's statistics and outcome counting.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""

import statistics
import unittest

import stats


def sample(seconds, items=100, failed=False, warm=False, traced=False):
    return {"seconds": seconds, "items": items, "failed": failed, "warm": warm, "traced": traced,
            "steal_pct": 0.0}


class QuartileTest(unittest.TestCase):
    def test_odd_count(self):
        self.assertEqual(stats.quartiles([5, 1, 3, 2, 4]), (1.5, 3.0, 4.5))

    def test_even_count_matches_statistics_module(self):
        xs = [10.0, 12.0, 11.0, 15.0, 9.0, 13.0]
        self.assertEqual(stats.quartiles(xs), tuple(statistics.quantiles(xs, n=4)))
        self.assertEqual(stats.quartiles(xs)[1], statistics.median(xs))

    def test_single_sample_is_its_own_quartiles(self):
        self.assertEqual(stats.quartiles([7.5]), (7.5, 7.5, 7.5))

    def test_no_samples_is_an_error(self):
        with self.assertRaises(ValueError):
            stats.quartiles([])


class SampleTest(unittest.TestCase):
    def test_timed_drops_warm_up_and_traced_samples(self):
        res = {"samples": [sample(9, warm=True), sample(2), sample(3, traced=True), sample(4)]}
        self.assertEqual([s["seconds"] for s in stats.timed(res)], [2, 4])

    def test_throughput_is_items_per_second(self):
        self.assertEqual(stats.throughput([sample(2, items=100), sample(4, items=100)]), [50.0, 25.0])

    def test_failed_sample_has_zero_throughput_and_stays_in_the_median(self):
        # a sample that threw after 0.05 s must not read as the fastest one
        rates = stats.throughput([sample(2), sample(0.05, failed=True), sample(4)])
        self.assertEqual(rates, [50.0, 0.0, 25.0])
        self.assertEqual(stats.quartiles(rates)[1], 25.0)


class OutcomeTest(unittest.TestCase):
    def test_counts_failed_operations(self):
        self.assertEqual(stats.outcome({"attempted": 8, "failed": 2}, []), (8, 2))

    def test_record_mismatch_fails_every_operation(self):
        self.assertEqual(stats.outcome({"attempted": 8, "failed": 0}, ["verdict"]), (8, 8))

    def test_attempted_is_at_least_one(self):
        self.assertEqual(stats.outcome({"attempted": 0, "failed": 1}, []), (1, 1))

    def test_missing_layer_metrics_count_as_failed(self):
        self.assertEqual(stats.outcome({"attempted": 8, "failed": 0}, [], ["sweep.jobs"]), (9, 1))

    def test_mismatches_only_where_both_sides_exist(self):
        observed = {"a": "1:2:3", "b": "4:5:6", "c": "7:8:9"}
        recorded = {"a": "1:2:3", "b": "4:5:0", "d": "x"}
        self.assertEqual(stats.record_mismatches(observed, recorded), ["b"])


class LayerTest(unittest.TestCase):
    NAMES = ["trace.overhead_frac", "verdict.tasks", "sweep.jobs", "curate.jobs"]

    def test_other_workloads_metrics_read_zero(self):
        layers = {"trace.overhead_frac": 0.01, "verdict.tasks": 16.0}
        values, missing = stats.layer_values("verdict", self.NAMES, layers)
        self.assertEqual(values, {"trace.overhead_frac": 0.01, "verdict.tasks": 16.0,
                                  "sweep.jobs": 0.0, "curate.jobs": 0.0})
        self.assertEqual(missing, [])

    def test_unmeasured_metric_of_this_workload_is_missing_not_zero(self):
        layers = {"trace.overhead_frac": 0.01, "curate.jobs": 105.0}
        values, missing = stats.layer_values("curate", self.NAMES, layers)
        self.assertEqual(missing, ["sweep.jobs"])
        self.assertNotIn("sweep.jobs", values)

    def test_null_value_is_missing(self):
        layers = {"trace.overhead_frac": None, "verdict.tasks": 16.0}
        _, missing = stats.layer_values("verdict", self.NAMES, layers)
        self.assertEqual(missing, ["trace.overhead_frac"])


if __name__ == "__main__":
    unittest.main()
