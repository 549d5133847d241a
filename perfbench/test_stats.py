"""Unit tests of perfbench/stats.py; run with
`python3 -m unittest discover -s perfbench -p 'test_*.py'` or as part of
`python3 perfbench/run.py --selftest`."""
import unittest

import stats


def span(name, start, end, extras=None):
    return [name, start, end, (end - start) * 1000000, extras or {}]


def job(submit, end, tasks=1, cpu_ns=0, desc="", site=""):
    return [0, submit, end, tasks, cpu_ns, 0, 0, 0, 0, desc, site]


class TailTest(unittest.TestCase):
    def test_nearest_rank(self):
        xs = list(range(1, 101))
        self.assertEqual(stats.percentile(xs, 50), 50)
        self.assertEqual(stats.percentile(xs, 90), 90)
        self.assertEqual(stats.percentile(xs, 99.9), 100)
        self.assertEqual(stats.percentile([7], 50), 7)

    def test_tail_keeps_ten_samples_beyond(self):
        # 100 samples: p90 leaves exactly 10 beyond, p95 only 5
        t = stats.tail(list(range(100)))
        self.assertEqual((t["pct"], t["n"], t["value"]), (90.0, 100, 89))
        # 1000 samples: p99 leaves 10 beyond
        self.assertEqual(stats.tail(list(range(1000)))["pct"], 99.0)
        # 40 samples: p75 leaves 10 beyond
        self.assertEqual(stats.tail(list(range(40)))["pct"], 75.0)
        # 20 samples: only the median leaves 10 beyond
        self.assertEqual(stats.tail(list(range(20)))["pct"], 50.0)

    def test_tail_needs_twenty_samples(self):
        t = stats.tail(list(range(19)))
        self.assertIsNone(t["pct"])
        self.assertIsNone(t["value"])
        self.assertEqual(t["n"], 19)


class UnionTest(unittest.TestCase):
    def test_union_merges_overlaps_and_gaps(self):
        self.assertEqual(stats.union_length([]), 0)
        self.assertEqual(stats.union_length([(0, 10)]), 10)
        self.assertEqual(stats.union_length([(0, 10), (5, 15)]), 15)
        self.assertEqual(stats.union_length([(0, 10), (2, 3), (20, 25)]), 15)
        self.assertEqual(stats.union_length([(20, 25), (0, 10), (10, 12)]), 17)
        self.assertEqual(stats.union_length([(5, 5), (3, 1)]), 0)

    def test_driver_time_is_busy_minus_job_union(self):
        # one 100 ms call; two concurrent jobs cover 10..50 and 30..70,
        # so 60 ms are covered by jobs and 40 ms are driver time
        spans = [span("a", 1000, 1100)]
        jobs = [job(1010, 1050, tasks=2, cpu_ns=5e8), job(1030, 1070, tasks=3)]
        totals, unattributed = stats.span_totals(spans, jobs)
        a = totals["a"]
        self.assertEqual(unattributed, 0)
        self.assertAlmostEqual(a["busy_s"], 0.1)
        self.assertAlmostEqual(a["driver_s"], 0.04)
        self.assertEqual((a["jobs"], a["tasks"]), (2, 5))
        self.assertAlmostEqual(a["cpu_s"], 0.5)

    def test_job_union_is_clipped_to_the_call(self):
        spans = [span("a", 1000, 1100)]
        totals, _ = stats.span_totals(spans, [job(1090, 1500)])
        self.assertAlmostEqual(totals["a"]["driver_s"], 0.09)


class AttributionTest(unittest.TestCase):
    def test_by_submit_time_not_description(self):
        spans = [span("first", 100, 200), span("second", 201, 300), span("first", 301, 400)]
        jobs = [job(150, 160, desc="second"), job(201, 250, desc="first"),
                job(400, 420), job(450, 460), job(50, 60)]
        self.assertEqual(stats.attribute(spans, jobs), [0, 1, 2, None, None])
        totals, unattributed = stats.span_totals(spans, jobs)
        self.assertEqual(unattributed, 2)
        self.assertEqual(totals["first"]["jobs"], 2)
        self.assertEqual(totals["first"]["calls"], 2)
        self.assertEqual(totals["second"]["jobs"], 1)

    def test_extras_sum_per_name(self):
        spans = [span("s", 0, 10, {"live_segments": 2}), span("s", 11, 20, {"live_segments": 4})]
        totals, _ = stats.span_totals(spans, [])
        self.assertEqual(totals["s"]["extras"]["live_segments"], 6)
        self.assertEqual(totals["s"]["calls"], 2)


if __name__ == "__main__":
    unittest.main()
