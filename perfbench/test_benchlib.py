"""Tests of the benchmark's own reductions. Run from the repository root:

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import statistics
import unittest

import benchlib as bl


class OrderStatistics(unittest.TestCase):
    def test_median_odd_and_even(self):
        self.assertEqual(bl.median([3, 1, 2]), 2)
        self.assertEqual(bl.median([4, 1, 3, 2]), 2.5)

    def test_quartiles_match_statistics_quantiles(self):
        xs = [9.0, 1.0, 4.0, 7.0, 3.0, 8.0, 2.0, 6.0, 5.0, 10.0]
        self.assertEqual(bl.quartiles(xs), tuple(statistics.quantiles(xs, n=4)))
        # exclusive method on 1..10: q1 = 2.75, q3 = 8.25
        self.assertEqual(bl.quartiles(xs), (2.75, 5.5, 8.25))

    def test_single_value_is_its_own_quartiles(self):
        self.assertEqual(bl.quartiles([4.2]), (4.2, 4.2, 4.2))

    def test_spread_is_iqr_over_median(self):
        xs = [9.0, 1.0, 4.0, 7.0, 3.0, 8.0, 2.0, 6.0, 5.0, 10.0]
        self.assertAlmostEqual(bl.spread(xs), (8.25 - 2.75) / 5.5)
        self.assertEqual(bl.spread([2.0, 2.0, 2.0]), 0.0)
        self.assertEqual(bl.spread([0.0, 0.0]), 0.0)


class PairRecall(unittest.TestCase):
    # truth clusters: A = {1,2,3}, B = {4,5}, C = {6}
    truth = ["A", "A", "A", "B", "B", "C"]

    def test_perfect_clustering(self):
        self.assertEqual(bl.pair_scores(self.truth, [1, 1, 1, 4, 4, 6]), (1.0, 1.0))

    def test_split_and_merge_known_answer(self):
        # engine splits A into {1,2} + {3} and merges B with C:
        # true pairs 3 + 1 = 4; found C(2,2) + C(3,2) = 1 + 3 = 4;
        # correct: (1,2) and (4,5) = 2
        recall, precision = bl.pair_scores(self.truth, [1, 1, 3, 4, 4, 4])
        self.assertEqual(recall, 2 / 4)
        self.assertEqual(precision, 2 / 4)

    def test_matches_brute_force_pairs(self):
        cluster = [7, 7, 8, 8, 8, 9]
        n = len(self.truth)
        pairs = [(i, j) for i in range(n) for j in range(i + 1, n)]
        true = {p for p in pairs if self.truth[p[0]] == self.truth[p[1]]}
        found = {p for p in pairs if cluster[p[0]] == cluster[p[1]]}
        recall, precision = bl.pair_scores(self.truth, cluster)
        self.assertEqual(recall, len(true & found) / len(true))
        self.assertEqual(precision, len(true & found) / len(found))

    def test_all_singletons_is_vacuously_perfect(self):
        self.assertEqual(bl.pair_scores([1, 2, 3], [1, 2, 3]), (1.0, 1.0))


class FailureAccounting(unittest.TestCase):
    def test_fail_frac_counts_every_failed_run(self):
        runs = [{"ok": True}, {"ok": False}, {"ok": True}, {"ok": False}]
        self.assertEqual(bl.fail_frac(runs), 0.5)
        self.assertEqual(bl.fail_frac([{"ok": True}] * 3), 0.0)

    def test_no_runs_is_total_failure(self):
        self.assertEqual(bl.fail_frac([]), 1.0)



class LshCheck(unittest.TestCase):
    oracle = {(1, 2): 1.0, (1, 3): 0.92, (4, 5): 0.85, (6, 7): 0.81}

    def test_exact_answer_passes(self):
        self.assertEqual(bl.lsh_check(list(self.oracle), self.oracle), ([], [], []))

    def test_misses_below_must_find_are_allowed(self):
        outside, missed, must = bl.lsh_check([(1, 2), (1, 3)], self.oracle)
        self.assertEqual((outside, sorted(missed), must), ([], [(4, 5), (6, 7)], []))

    def test_miss_at_or_above_must_find_and_extra_pair_are_flagged(self):
        outside, missed, must = bl.lsh_check([(1, 2), (4, 5), (6, 7), (8, 9)], self.oracle)
        self.assertEqual((outside, missed, must), ([(8, 9)], [(1, 3)], [(1, 3)]))


class Digest(unittest.TestCase):
    def test_digest_ignores_row_and_column_order(self):
        import pandas as pd
        a = pd.DataFrame({"x": [1, 2], "y": ["p", "q"]})
        b = pd.DataFrame({"y": ["q", "p"], "x": [2, 1]})
        self.assertEqual(bl.digest(a), bl.digest(b))
        self.assertNotEqual(bl.digest(a), bl.digest(b.assign(x=[2, 3])))


class TraceAttribution(unittest.TestCase):
    def trace(self):
        # root [0, 100] with children a [10, 40] and b [50, 90]; an aside
        # [60, 70] inside b; tasks and jobs in a, b and the aside
        return {
            "spans": [
                {"id": 0, "parent": -1, "name": "pipeline", "start_ms": 0.0, "end_ms": 100.0},
                {"id": 1, "parent": 0, "name": "cc", "start_ms": 10.0, "end_ms": 40.0},
                {"id": 2, "parent": 0, "name": "resolve", "start_ms": 50.0, "end_ms": 90.0},
            ],
            "asides": [[60.0, 70.0]],
            "notes": {},
            "jobs": [[0, 12], [1, 55], [2, 65]],
            # launch, finish, run_ms, cpu_ns, gc_ms, shuffle_w, shuffle_r, spill
            "tasks": [[12, 22, 10, 5e6, 1, 1e6, 0, 0],
                      [15, 30, 15, 5e6, 0, 0, 2e6, 0],
                      [55, 60, 5, 1e6, 0, 0, 0, 0],
                      [65, 68, 3, 1e6, 0, 0, 0, 0]],
        }

    def test_self_time_is_wall_minus_children(self):
        spans = bl.attribute(self.trace())
        # root wall = 100 - 10 (aside); children cover 30 + 40 - 10 = 60
        self.assertAlmostEqual(spans[0]["wall_s"], 0.090)
        self.assertAlmostEqual(spans[0]["self_s"], 0.030)
        self.assertAlmostEqual(spans[1]["self_s"], 0.030)
        self.assertAlmostEqual(spans[2]["wall_s"], 0.030)

    def test_jobs_and_tasks_go_to_innermost_span_outside_asides(self):
        spans = bl.attribute(self.trace())
        self.assertEqual(spans[1]["jobs"], 1)
        self.assertEqual(spans[2]["jobs"], 1)   # the aside's job is dropped
        self.assertEqual(spans[0]["jobs"], 2)   # root includes descendants
        self.assertAlmostEqual(spans[1]["task_s"], 0.025)
        self.assertAlmostEqual(spans[2]["task_s"], 0.005)
        self.assertAlmostEqual(spans[1]["shuffle_write_mb"], 1.0)
        self.assertAlmostEqual(spans[1]["shuffle_read_mb"], 2.0)

    def test_sched_wait_is_wall_not_covered_by_tasks(self):
        spans = bl.attribute(self.trace())
        # cc: tasks cover [12, 30] = 18 of 30 ms
        self.assertAlmostEqual(spans[1]["sched_wait_s"], 0.012)
        # resolve: wall 30 ms, tasks cover [55, 60] = 5 ms
        self.assertAlmostEqual(spans[2]["sched_wait_s"], 0.025)

    def test_layer_totals_sum_repeated_spans(self):
        t = self.trace()
        t["spans"].append({"id": 3, "parent": 0, "name": "cc",
                           "start_ms": 92.0, "end_ms": 96.0})
        layers = bl.layer_totals(bl.attribute(t))
        self.assertEqual(layers["cc"]["calls"], 2)
        self.assertAlmostEqual(layers["cc"]["wall_s"], 0.034)
        self.assertNotIn("pipeline", layers)

    def test_job_drift_counts_span_jobs_less_extra_seals(self):
        t = self.trace()
        # jobs 0 and 1 are in spans, job 2 in the aside
        self.assertEqual(bl.job_drift(t, 2), 0)
        self.assertEqual(bl.job_drift(t, 1), 1)
        t["notes"]["trace.extra_seals"] = 1.0
        self.assertEqual(bl.job_drift(t, 1), 0)
        t["jobs"].append([3, 200])  # after every span: not the pipeline's
        self.assertEqual(bl.job_drift(t, 1), 0)

    def test_covered_merges_overlaps_and_clips(self):
        self.assertEqual(bl.covered([(0, 5), (3, 8), (10, 20)], 2, 15), 11)
        self.assertEqual(bl.covered([], 0, 10), 0)


if __name__ == "__main__":
    unittest.main()
