"""Tests of the benchmark's pure helpers.

    python3 -m unittest discover -s perfbench/tests
"""
import os
import sys
import unittest

import numpy as np

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))

import gen  # noqa: E402
import stats  # noqa: E402


class SeededInputs(unittest.TestCase):
    def test_same_seed_same_events_other_seed_other_events(self):
        for topo in ("t4", "t7", "t8", "t10"):
            a = gen.stream_records(7, topo, 5000, 500, 200)
            b = gen.stream_records(7, topo, 5000, 500, 200)
            c = gen.stream_records(8, topo, 5000, 500, 200)
            self.assertTrue(np.array_equal(a, b), topo)
            self.assertFalse(np.array_equal(a, c), topo)

    def test_late_records_are_late_and_meet_warm_keys(self):
        r = gen.stream_records(1, "t4", 20000, 1000, 300)
        late = r["t"] < gen.T0_MS
        self.assertFalse(late[:1000].any())
        self.assertAlmostEqual(late.mean(), 0.01, delta=0.004)
        self.assertTrue((r["t"][late] <= gen.T0_MS - gen.LATE_MS).all())
        self.assertTrue(set(r["key"][late]) <= set(r["key"][:1000]))
        on = r["t"][~late]
        self.assertTrue((np.diff(on) > 0).all())

    def test_t8_payments_follow_their_orders(self):
        r = gen.stream_records(2, "t8", 10000, 500, 0)
        seen = set()
        for k, side in zip(r["key"], r["aux"]):
            if side == 1:
                self.assertIn(k, seen)
            else:
                seen.add(k)


class Percentiles(unittest.TestCase):
    def test_refuses_without_ten_samples_beyond(self):
        with self.assertRaises(ValueError):
            stats.percentile(list(range(99)), 90)   # 9.9 beyond
        with self.assertRaises(ValueError):
            stats.percentile(list(range(19)), 50)
        with self.assertRaises(ValueError):
            stats.percentile([], 50)
        self.assertIsNone(stats.supported(list(range(999)), 99))

    def test_nearest_rank(self):
        self.assertEqual(stats.percentile(list(range(1, 101)), 90), 90)
        self.assertEqual(stats.percentile(list(range(1, 21)), 50), 10)
        self.assertEqual(stats.percentile(list(range(1000, 0, -1)), 99), 990)


class SpanSelfTime(unittest.TestCase):
    def span(self, i, name, s, e, parent=-1, req=""):
        return {"id": i, "name": name, "start": s, "end": e, "parent": parent, "req": req}

    def test_self_time_subtracts_the_union_of_children(self):
        spans = [self.span(1, "call", 0, 100, req="q#0"),
                 self.span(2, "build", 0, 40, 1, "q#0"),
                 self.span(3, "action", 40, 100, 1, "q#0"),
                 self.span(4, "job", 10, 30),      # inside build
                 self.span(5, "job", 20, 35),      # overlaps job 4
                 self.span(6, "job", 50, 70),      # inside action
                 self.span(7, "job", 95, 120)]     # runs past the action
        stats.attach(spans, slack_ms=0)
        self.assertEqual([s["parent"] for s in spans[3:6]], [2, 2, 3])
        self.assertEqual(spans[6]["parent"], -1)
        self.assertEqual(spans[3]["req"], "q#0")
        st = stats.self_times(spans)
        self.assertEqual(st[1], 0)            # build + action cover the call
        self.assertEqual(st[2], 40 - 25)      # jobs cover 10..35
        self.assertEqual(st[3], 60 - 20)
        self.assertEqual(st[4], 20)

    def test_attach_picks_the_innermost_container(self):
        spans = [self.span(1, "trigger", 0, 100, req="t4#3"),
                 self.span(2, "addBatch", 10, 90, 1, "t4#3"),
                 self.span(3, "job", 20, 30)]
        stats.attach(spans)
        self.assertEqual(spans[2]["parent"], 2)
        self.assertEqual(spans[2]["req"], "t4#3")


class OpenLoopLatency(unittest.TestCase):
    def test_latency_runs_from_due_time_not_send_time(self):
        # 4 records due at 0, 10, 20, 30 ms; the generator stalled and sent
        # them all at 500 ms; the batch holding them ended at 600 ms.
        chunks = [{"offset": 0, "n": 4, "due_first_ms": 0.0, "step_ms": 10.0,
                   "due_ms": 40.0, "sent_ms": 500.0}]
        lat = stats.open_loop_latencies(chunks, [(-1, 0, 600.0)])
        self.assertEqual(lat, [600.0, 590.0, 580.0, 570.0])

    def test_chunks_map_to_the_batch_holding_their_offset(self):
        chunks = [{"offset": o, "n": 1, "due_first_ms": 100.0 * o, "step_ms": 1.0}
                  for o in range(3)]
        batches = stats.batch_ends([
            {"start_offset": -1, "end_offset": 1, "start_ms": 150.0,
             "durations": {"triggerExecution": 60, "commitOffsets": 10}},
            {"start_offset": 1, "end_offset": 2, "start_ms": 250.0,
             "durations": {"triggerExecution": 30, "commitOffsets": 5}}])
        self.assertEqual(stats.open_loop_latencies(chunks, batches), [200.0, 100.0, 75.0])
        with self.assertRaises(ValueError):
            stats.open_loop_latencies([{"offset": 9, "n": 1, "due_first_ms": 0, "step_ms": 1}],
                                      batches)


if __name__ == "__main__":
    unittest.main()
