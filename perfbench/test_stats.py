"""Tests of the benchmark's statistics. Run from the repository root:

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""

import unittest

import stats


def open_window(syncs, origin=100.0, p0=1000, rate=125.0, shards=16, start=None):
    return {"loop": "open", "origin": origin, "p0": p0, "ratePerShard": rate,
            "shards": shards, "syncs": syncs,
            "start": origin if start is None else start}


def sync(start, end, frm=0, to=0, events=None, ok=True):
    return {"start": start, "end": end, "from": frm, "to": to,
            "events": events if events is not None else 16 * (to - frm), "ok": ok}


class PercentileRule(unittest.TestCase):
    def test_highest_supported_percentile(self):
        # ten samples beyond p99 need 1,000 samples; beyond p90, 100
        self.assertEqual(stats.tail_percentile(1000), 99.0)
        self.assertEqual(stats.tail_percentile(999), 90.0)
        self.assertEqual(stats.tail_percentile(100), 90.0)
        self.assertEqual(stats.tail_percentile(99), 50.0)
        self.assertEqual(stats.tail_percentile(100000), 99.99)
        self.assertEqual(stats.tail_percentile(19), None)
        self.assertEqual(stats.tail_percentile(20), 50.0)

    def test_weighted_nearest_rank(self):
        samples = [(float(v), 1) for v in range(1, 101)]
        self.assertEqual(stats.weighted_percentile(samples, 50), 50.0)
        self.assertEqual(stats.weighted_percentile(samples, 90), 90.0)
        self.assertEqual(stats.weighted_percentile(samples, 100), 100.0)
        # a weight counts as that many equal samples
        self.assertEqual(stats.weighted_percentile([(1.0, 9), (5.0, 1)], 90), 1.0)
        self.assertEqual(stats.weighted_percentile([(1.0, 9), (5.0, 1)], 91), 5.0)

    def test_median(self):
        self.assertEqual(stats.median([3, 1, 2]), 2)
        self.assertEqual(stats.median([4, 1, 2, 3]), 2.5)


class Freshness(unittest.TestCase):
    def test_open_loop_from_positions_and_schedule(self):
        # head advances 125 positions/s from p0=1000 at t=100; a sync that
        # drained (1000, 1002] and returned at t=103 committed events created
        # at 100.008 and 100.016
        w = open_window([sync(101.0, 103.0, 1000, 1002)])
        fresh = stats.freshness(w)
        self.assertEqual([wt for _, wt in fresh], [16, 16])
        self.assertAlmostEqual(fresh[0][0], 3.0 - 1 / 125.0)
        self.assertAlmostEqual(fresh[1][0], 3.0 - 2 / 125.0)

    def test_only_events_created_in_the_window_count(self):
        # the window starts at t=101: positions 1001..1124 were created
        # before it, during a sync outside the window
        w = open_window([sync(101.0, 103.0, 1000, 1250)], start=101.0)
        fresh = stats.freshness(w)
        self.assertEqual(len(fresh), 126)
        self.assertAlmostEqual(max(v for v, _ in fresh), 2.0)

    def test_slow_sync_makes_everything_after_it_staler(self):
        fast = open_window([sync(0.5, 1.0, 1000, 1062), sync(1.0, 1.5, 1062, 1125)],
                           origin=0.0)
        slow = open_window([sync(0.5, 3.0, 1000, 1062), sync(3.0, 3.5, 1062, 1375)],
                           origin=0.0)
        p50 = lambda w: stats.weighted_percentile(stats.freshness(w), 50)
        self.assertLess(p50(fast), 1.0)
        self.assertGreater(p50(slow), 1.0)

    def test_closed_loop_event_freshness_is_sync_wall(self):
        w = {"loop": "closed", "syncs": [sync(0.0, 2.0, events=100),
                                         sync(2.0, 5.0, events=300),
                                         sync(5.0, 6.0, events=0),
                                         sync(6.0, 9.0, events=50, ok=False)]}
        self.assertEqual(stats.freshness(w), [(2.0, 100), (3.0, 300)])

    def test_start_lateness(self):
        w = open_window([sync(100.5, 101.0, 1000, 1060)])
        self.assertAlmostEqual(stats.start_lateness(w)[0], 0.5 - 1 / 125.0)


class SpanSelfTime(unittest.TestCase):
    def span(self, i, parent, start, end):
        return {"id": i, "parent": parent, "start": start, "end": end, "name": str(i)}

    def test_duration_minus_children(self):
        spans = [self.span(1, 0, 0.0, 10.0), self.span(2, 1, 1.0, 3.0),
                 self.span(3, 1, 5.0, 6.0), self.span(4, 2, 1.5, 2.0)]
        selfs = stats.self_times(spans)
        self.assertAlmostEqual(selfs[1], 7.0)
        self.assertAlmostEqual(selfs[2], 1.5)
        self.assertAlmostEqual(selfs[3], 1.0)
        self.assertAlmostEqual(selfs[4], 0.5)

    def test_overlapping_children_count_once_and_clip_to_parent(self):
        # concurrent children (parallel streams) cover their union; a child
        # reported slightly outside its parent is clipped
        spans = [self.span(1, 0, 0.0, 10.0), self.span(2, 1, 1.0, 4.0),
                 self.span(3, 1, 3.0, 6.0), self.span(4, 1, 9.0, 11.0)]
        self.assertAlmostEqual(stats.self_times(spans)[1], 10.0 - 5.0 - 1.0)


class BacklogGrowth(unittest.TestCase):
    def test_steady_backlog(self):
        self.assertFalse(stats.backlog_growing([9000, 8800, 9100, 8900, 9050]))

    def test_converging_backlog_is_not_growth(self):
        self.assertFalse(stats.backlog_growing([6000, 7800, 8300, 8400, 8420]))

    def test_growing_backlog(self):
        self.assertTrue(stats.backlog_growing([4000, 6000, 9000, 13500]))

    def test_two_syncs(self):
        self.assertFalse(stats.backlog_growing([9000, 10500]))
        self.assertTrue(stats.backlog_growing([6000, 12000]))

    def test_one_sync_shows_no_growth(self):
        self.assertFalse(stats.backlog_growing([9000]))


if __name__ == "__main__":
    unittest.main()
