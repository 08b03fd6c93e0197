"""Unit tests of the benchmark's pure logic.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import unittest

import metrics as M


class TailTest(unittest.TestCase):
    def test_ten_samples_lie_beyond_the_tail(self):
        xs = list(range(1, 101))  # 1..100
        v, pct, n = M.tail(xs)
        self.assertEqual((v, pct, n), (90, 90.0, 100))
        self.assertEqual(sum(1 for x in xs if x > v), 10)

    def test_few_samples_fall_back_to_the_median(self):
        self.assertEqual(M.tail([5, 1, 3]), (3, 200 / 3, 3))
        v, pct, _ = M.tail(list(range(1, 16)))  # 15 samples: rank 5 would be below the median
        self.assertEqual((v, pct), (8, 800 / 15))

    def test_order_does_not_matter(self):
        self.assertEqual(M.tail([3, 1, 2] * 10), M.tail(sorted([3, 1, 2] * 10)))

    def test_empty(self):
        self.assertEqual(M.tail([]), (0.0, 0.0, 0))


class UnionAndGapTest(unittest.TestCase):
    def test_overlapping_jobs_count_once(self):
        self.assertEqual(M.union([(0, 10), (5, 15), (20, 25)]), 20)

    def test_nested_and_touching(self):
        self.assertEqual(M.union([(0, 10), (2, 3), (10, 12)]), 12)

    def test_clipped_to_window(self):
        self.assertEqual(M.union([(-5, 5), (8, 20)], 0, 10), 7)

    def test_driver_gap_never_negative_when_jobs_overlap(self):
        # two overlapping jobs whose summed length exceeds the wall
        jobs = [(0, 80), (10, 95)]
        self.assertEqual(M.driver_gap(0, 100, jobs), 5)
        self.assertLess(100 - sum(e - s for s, e in jobs), 0)

    def test_driver_gap_of_op_without_jobs_is_its_wall(self):
        self.assertEqual(M.driver_gap(10, 30, []), 20)


class SpanTest(unittest.TestCase):
    def spans(self):
        # op 0 [0,100] with calls 1 [10,40] and 2 [50,90]
        return {0: (-1, 0, 100), 1: (0, 10, 40), 2: (0, 50, 90)}

    def test_self_time_subtracts_covered_part(self):
        s = M.self_times(self.spans())
        self.assertEqual(s, {0: 30, 1: 30, 2: 40})

    def test_jobs_attach_to_innermost_span(self):
        out = M.attach_jobs(self.spans(), [(12, 20), (15, 30), (42, 45)], 10)
        self.assertEqual(out[10], (1, 12, 20))
        self.assertEqual(out[11], (1, 15, 30))
        self.assertEqual(out[12], (0, 42, 45))  # between the calls: under the op

    def test_self_times_and_jobs_reconcile_with_the_wall(self):
        spans = M.attach_jobs(self.spans(), [(12, 20), (15, 30), (42, 45), (55, 85)], 10)
        jobs = set(spans) - {0, 1, 2}
        self.assertAlmostEqual(M.reconcile_error(0, spans, jobs), 0.0)
        selfs = M.self_times(spans)
        self.assertEqual(selfs[1], 30 - 18)  # union of its overlapping jobs is 18

    def test_a_job_running_past_its_call_shows_as_error(self):
        spans = M.attach_jobs(self.spans(), [(30, 60)], 10)  # starts in call 1, ends in call 2
        self.assertAlmostEqual(M.reconcile_error(0, spans, {10}), 0.2)


class FingerprintTest(unittest.TestCase):
    def test_row_and_column_order_do_not_matter(self):
        a = M.fingerprint(["x", "y"], [(1, "a"), (2, "b")])
        b = M.fingerprint(["y", "x"], [("b", 2), ("a", 1)])
        self.assertEqual(a, b)
        self.assertEqual(a[0], 2)

    def test_changed_cell_or_duplicate_row_changes_it(self):
        base = M.fingerprint(["x"], [("a",), ("b",)])
        self.assertNotEqual(base, M.fingerprint(["x"], [("a",), ("c",)]))
        self.assertNotEqual(base, M.fingerprint(["x"], [("a",), ("b",), ("b",)]))

    def test_int_float_drift_and_null_are_visible(self):
        self.assertNotEqual(M.fingerprint(["x"], [(450,)]), M.fingerprint(["x"], [(450.0,)]))
        self.assertNotEqual(M.fingerprint(["x"], [(None,)]), M.fingerprint(["x"], [("",)]))
        self.assertEqual(M.fingerprint(["x"], [(None,)]), M.fingerprint(["x"], [(float("nan"),)]))


class SeriesTest(unittest.TestCase):
    def test_growth_ratio_compares_last_and_first_quarter(self):
        self.assertEqual(M.growth_ratio([1, 1, 2, 2, 3, 3, 4, 4]), 4.0)
        self.assertEqual(M.growth_ratio([]), 0.0)

    def test_geomean_weighs_short_and_long_calls_alike(self):
        self.assertAlmostEqual(M.geomean([0.1, 10.0]), 1.0)
        self.assertEqual(M.geomean([]), 0.0)


class ScreenReferenceTest(unittest.TestCase):
    def test_duplicate_of_a_kept_doc_in_an_earlier_batch(self):
        dups, kept = M.screen_reference([[1, 2], [3]], [(1, 3)])
        self.assertEqual((dups, kept), ({3: 1}, {1, 2}))

    def test_same_batch_partner_must_arrive_first(self):
        dups, kept = M.screen_reference([[1, 2]], [(1, 2)])
        self.assertEqual((dups, kept), ({2: 1}, {1}))

    def test_quarantined_doc_is_not_indexed_for_later_batches(self):
        # 2 is quarantined as a copy of 1; 3 pairs only with 2, so it is novel
        dups, kept = M.screen_reference([[1, 2], [3]], [(1, 2), (2, 3)])
        self.assertEqual((dups, kept), ({2: 1}, {1, 3}))

    def test_indexed_partner_wins_over_a_lower_same_batch_one(self):
        # doc 7 pairs with 5, kept by an earlier batch, and with 2, earlier in its own batch
        dups, _ = M.screen_reference([[5], [2, 7]], [(5, 7), (2, 7)])
        self.assertEqual(dups, {7: 5})


if __name__ == "__main__":
    unittest.main()
