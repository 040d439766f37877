"""Unit tests for the benchmark's metric arithmetic.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""

import unittest

import metrics


def span(sid, parent, name, start, end, **attrs):
    return {"span_id": sid, "parent": parent, "name": name,
            "start_ms": float(start), "end_ms": float(end), **attrs}


class PercentileRule(unittest.TestCase):
    def test_highest_percentile_keeps_ten_samples_beyond(self):
        self.assertEqual(metrics.highest_percentile(list(range(100)))[0], 90.0)
        self.assertEqual(metrics.highest_percentile(list(range(99)))[0], 75.0)
        self.assertEqual(metrics.highest_percentile(list(range(200)))[0], 95.0)
        self.assertEqual(metrics.highest_percentile(list(range(1000)))[0], 99.0)
        self.assertEqual(metrics.highest_percentile(list(range(10000)))[0], 99.9)
        self.assertIsNone(metrics.highest_percentile(list(range(15))))

    def test_nearest_rank_value_and_count_beyond(self):
        values = list(range(1, 101))  # 1..100
        self.assertEqual(metrics.nearest_rank(values, 90), (90, 10))
        self.assertEqual(metrics.nearest_rank(values, 50), (50, 50))
        self.assertEqual(metrics.nearest_rank(list(reversed(values)), 90), (90, 10))

    def test_highest_percentile_value(self):
        self.assertEqual(metrics.highest_percentile(list(range(1, 101))), (90.0, 90))


class SelfTime(unittest.TestCase):
    def test_overlapping_children_count_once(self):
        spans = [span(1, 0, "root", 0, 100),
                 span(2, 1, "a", 10, 40), span(3, 1, "b", 30, 60), span(4, 1, "c", 80, 90)]
        selfs = metrics.self_times(spans)
        self.assertAlmostEqual(selfs[1], 100 - 60)  # children cover 10-60 and 80-90
        self.assertAlmostEqual(selfs[2], 30)

    def test_children_are_clipped_to_the_parent(self):
        spans = [span(1, 0, "root", 0, 100), span(2, 1, "late", 90, 130)]
        self.assertAlmostEqual(metrics.self_times(spans)[1], 90)

    def test_grandchildren_belong_to_their_parent_only(self):
        spans = [span(1, 0, "root", 0, 100), span(2, 1, "a", 0, 50), span(3, 2, "aa", 0, 50)]
        selfs = metrics.self_times(spans)
        self.assertEqual((selfs[1], selfs[2], selfs[3]), (50, 0, 50))

    def test_coverage_sums_self_times_below_the_roots(self):
        spans = [span(1, 0, "w", 0, 100), span(2, 1, "w.unit", 0, 60),
                 span(3, 2, "table.read", 10, 20), span(4, 1, "w.unit", 70, 100),
                 span(5, 0, "other", 100, 200), span(6, 5, "w.unit", 100, 200)]
        self.assertAlmostEqual(metrics.coverage(spans, "w"), 0.9)


class Formulas(unittest.TestCase):
    def test_scaling_eff(self):
        self.assertAlmostEqual(metrics.scaling_eff(3000.0, 1000.0, 4), 0.75)
        self.assertAlmostEqual(metrics.scaling_eff(4000.0, 1000.0, 4), 1.0)

    def test_pass_rates_pair_levels_by_round(self):
        rates = [{"round": 0, "threads": 4, "docs_per_s": 3000.0},
                 {"round": 0, "threads": 1, "docs_per_s": 1000.0},
                 {"round": 1, "threads": 1, "docs_per_s": 500.0},  # order within a round is free
                 {"round": 1, "threads": 4, "docs_per_s": 1000.0},
                 {"round": 2, "threads": 4, "docs_per_s": 2000.0}]  # its one-thread pass failed
        full, effs = metrics.pass_rates(rates, 4)
        self.assertEqual(full, [3000.0, 1000.0, 2000.0])
        self.assertEqual(len(effs), 2)
        self.assertAlmostEqual(effs[0], 0.75)
        self.assertAlmostEqual(effs[1], 0.5)

    def test_failed_frac_keeps_failures_in_the_denominator(self):
        ops = {"unit": {"attempted": 10, "failed": 1}, "query": {"attempted": 110, "failed": 2}}
        self.assertEqual(metrics.failed_frac(ops), (120, 3, 3 / 120))
        self.assertEqual(metrics.failed_frac({"q": {"attempted": 5, "failed": 0}}), (5, 0, 0.0))

    def test_nothing_attempted_is_all_failed(self):
        self.assertEqual(metrics.failed_frac({}), (0, 0, 1.0))

    def test_spread_is_interquartile_distance_over_median(self):
        values = [8.0, 9.0, 10.0, 11.0, 12.0]
        q1, q2, q3 = metrics.quartiles(values)
        self.assertAlmostEqual(metrics.spread(values), (q3 - q1) / q2)
        self.assertEqual(q2, 10.0)


class PhaseMetrics(unittest.TestCase):
    def test_idle_straggler_and_utilisation(self):
        spans = [span(1, 0, "crawl_extract", 0, 1000),
                 span(2, 1, "crawl_extract.unit", 0, 1000, cores=2, jvm_gc_ms=5, jvm_gc_count=1)]
        tasks = [
            {"group": "2", "ctx": 0, "stage": 1, "stage_attempt": 0, "launch_ms": 100,
             "finish_ms": 300, "run_ms": 200, "failed": False},
            {"group": "2", "ctx": 0, "stage": 1, "stage_attempt": 0, "launch_ms": 100,
             "finish_ms": 500, "run_ms": 400, "failed": False},
            {"group": "2", "ctx": 0, "stage": 1, "stage_attempt": 0, "launch_ms": 100,
             "finish_ms": 300, "run_ms": 200, "failed": False},
        ]
        jobs = [{"group": "2", "job": 0, "time_ms": 90}]
        stages = [{"group": "2", "ctx": 0, "stage": 1}]
        plans = [{"start_ms": 50, "plan_ms": 7}]
        m = metrics.phase_metrics(spans, tasks, jobs, stages, plans, default_cores=4)
        self.assertAlmostEqual(m["unit.idle_s"], 0.6)  # tasks cover 100-500 ms of 1 s
        self.assertAlmostEqual(m["unit.straggler_ratio"], 2.0)  # 400 over the 200 median
        self.assertAlmostEqual(m["unit.core_util"], 0.8 / (1.0 * 2))
        self.assertEqual((m["unit.jobs"], m["unit.stages"], m["unit.tasks"]), (1.0, 1.0, 3.0))
        self.assertEqual(m["unit.plan_ms"], 7.0)
        self.assertEqual(m["unit.jvm_gc_ms"], 5.0)
        self.assertEqual(m["build.jobs"], 0.0)  # a phase the run did not have reads 0


if __name__ == "__main__":
    unittest.main()
