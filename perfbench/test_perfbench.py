"""Tests for the benchmark's own logic (no JVM needed):

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import os
import sys
import unittest

import numpy as np

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import gen  # noqa: E402
import run  # noqa: E402
from stats import (highest_percentile, quartile_spread, self_times,  # noqa: E402
                   union_length, weighted_percentile)


class GeneratorDeterminism(unittest.TestCase):
    def test_stream_inputs_repeat_for_a_seed_and_differ_across_seeds(self):
        for workload in gen.STREAM_SHAPES:
            a, meta_a = gen.stream_inputs(workload, 7, 12)
            b, meta_b = gen.stream_inputs(workload, 7, 12)
            c, _ = gen.stream_inputs(workload, 8, 12)
            self.assertEqual(meta_a, meta_b)
            self.assertEqual(a.keys(), b.keys())
            for k in a:
                np.testing.assert_array_equal(a[k], b[k], err_msg=k)
            self.assertFalse(np.array_equal(a["ev_key"], c["ev_key"]))
            self.assertFalse(np.array_equal(a["sh_key"], c["sh_key"]))

    def test_batch_tables_repeat_for_a_seed_and_differ_across_seeds(self):
        a, b, c = gen.batch_tables(3, 0.001), gen.batch_tables(3, 0.001), gen.batch_tables(4, 0.001)
        for name in a:
            self.assertTrue(a[name].equals(b[name]), name)
        self.assertFalse(a["lineitem"].equals(c["lineitem"]))
        self.assertFalse(a["documents"].equals(c["documents"]))

    def test_stream_shape(self):
        cols, meta = gen.stream_inputs("stream_live", 1, 20)
        off = cols["tick_off"]
        self.assertEqual(len(off), 20 + 1 + meta["flush_ticks"] + 1)
        # warm-up tick: every active key once
        self.assertEqual(off[1] - off[0], meta["active"])
        # never-seen keys are fresh: each appears once, outside the active set
        active = set(cols["ev_key"][off[0]:off[1]])
        new = cols["ev_key"][cols["ev_new"] == 1]
        self.assertEqual(len(set(new)), len(new))
        self.assertFalse(active & set(new))
        # CDC ords are unique, so newest-wins has no ties
        ords = np.r_[cols["eq_ord"], cols["sh_ord"]]
        self.assertEqual(len(np.unique(ords)), len(ords))


    def test_catchup_lead_ticks_are_full_size_triggers(self):
        # the untimed lead ticks warm the JVM on the same work as the
        # measured ones: every data tick carries a full trigger
        shape = gen.STREAM_SHAPES["stream_catchup"]
        self.assertGreaterEqual(shape["lead_ticks"], 1)
        cols, meta = gen.stream_inputs("stream_catchup", 1, shape["lead_ticks"] + 2)
        off = cols["tick_off"]
        for t in range(1, meta["ticks"] + 1):
            self.assertEqual(off[t + 1] - off[t], shape["events_per_tick"])


class DimensionGate(unittest.TestCase):
    def _states(self, tmp, equipment, shifts):
        import pyarrow as pa
        import pyarrow.parquet as pq
        for name, df in (("equipment", equipment), ("shifts", shifts)):
            os.makedirs(os.path.join(tmp, name))
            pq.write_table(pa.Table.from_pandas(df, preserve_index=False),
                           os.path.join(tmp, name, "part.parquet"))

    def test_newest_wins_over_observed_keys_only(self):
        import tempfile

        import pandas as pd
        cols, _ = gen.stream_inputs("stream_live", 5, 30)
        ticks = list(range(0, 31))
        eq = pd.DataFrame({"equip": cols["init_key"], "ord": 1})
        for t in ticks:  # apply CDC in order: ords only grow
            lo, hi = cols["eq_off"][t], cols["eq_off"][t + 1]
            eq.loc[cols["eq_key"][lo:hi], "ord"] = cols["eq_ord"][lo:hi]
        sh = pd.DataFrame({"equip": cols["init_key"], "ord": 1, "crew": cols["init_crew"]})
        for t in ticks:
            lo, hi = cols["sh_off"][t], cols["sh_off"][t + 1]
            sh.loc[cols["sh_key"][lo:hi], "ord"] = cols["sh_ord"][lo:hi]
            sh.loc[cols["sh_key"][lo:hi], "crew"] = cols["sh_crew"][lo:hi]
        seen = np.unique(cols["ev_key"][:cols["tick_off"][31]])
        sh = sh[sh.equip.isin(seen)].copy()
        sh["shift"] = np.array(gen.SHIFT_NAMES)[gen.shift_of(sh.equip.values)]
        with tempfile.TemporaryDirectory() as tmp:
            self._states(tmp, eq, sh)
            g = run.dimension_gate(cols, ticks, tmp, on_demand=True)
        self.assertEqual((g["equipment_bad"], g["shift_bad"]), (0, 0))
        self.assertEqual(g["shift_keys"], len(seen))
        # a lost CDC update and a decoy key are both caught
        stale = sh.copy()
        stale.loc[stale.index[0], "ord"] = 0
        decoy = pd.concat([sh, pd.DataFrame({"equip": [-1], "ord": [1], "crew": [0],
                                             "shift": ["day"]})])
        for bad_shifts in (stale, decoy):
            with tempfile.TemporaryDirectory() as tmp:
                self._states(tmp, eq, bad_shifts)
                self.assertEqual(run.dimension_gate(cols, ticks, tmp, True)["shift_bad"], 1)


class PercentileRule(unittest.TestCase):
    def test_highest_percentile_keeps_ten_samples_beyond(self):
        self.assertIsNone(highest_percentile(19))
        self.assertEqual(highest_percentile(20), 50.0)
        self.assertEqual(highest_percentile(100), 90.0)
        self.assertEqual(highest_percentile(999), 90.0)
        self.assertEqual(highest_percentile(1000), 99.0)
        self.assertEqual(highest_percentile(10_000), 99.9)

    def test_weighted_percentile_counts_each_event(self):
        # one group of 99 fast events and one of 1 slow event
        self.assertEqual(weighted_percentile([1.0, 100.0], [99, 1], 50), 1.0)
        self.assertEqual(weighted_percentile([1.0, 100.0], [1, 99], 50), 100.0)

    def test_quartile_spread(self):
        self.assertAlmostEqual(quartile_spread([10.0] * 10), 0.0)
        self.assertGreater(quartile_spread([8.0, 9.0, 10.0, 11.0, 12.0]), 0.0)


class Intervals(unittest.TestCase):
    def test_union_merges_overlaps_and_nesting(self):
        self.assertEqual(union_length([]), 0.0)
        self.assertEqual(union_length([(0, 2), (1, 3), (5, 6)]), 4.0)
        self.assertEqual(union_length([(0, 10), (2, 3)]), 10.0)
        self.assertEqual(union_length([(3, 4), (0, 1)]), 2.0)

    def test_union_clips_to_the_window(self):
        self.assertEqual(union_length([(-5, 2), (8, 20)], 0, 10), 4.0)
        self.assertEqual(union_length([(11, 12)], 0, 10), 0.0)


class SpanSelfTime(unittest.TestCase):
    def test_self_time_subtracts_covered_child_time(self):
        spans = [
            {"id": 1, "parent": None, "start_ms": 0, "end_ms": 10},
            {"id": 2, "parent": 1, "start_ms": 1, "end_ms": 3},
            {"id": 3, "parent": 1, "start_ms": 2, "end_ms": 5},
            {"id": 4, "parent": 1, "start_ms": 8, "end_ms": 12},  # runs past its parent
            {"id": 5, "parent": 3, "start_ms": 2, "end_ms": 5},
        ]
        st = self_times(spans)
        self.assertEqual(st[1], 4)   # 10 - |[1,5] u [8,10]|
        self.assertEqual(st[2], 2)
        self.assertEqual(st[3], 0)   # fully covered by its child
        self.assertEqual(st[4], 4)
        self.assertEqual(st[5], 3)

    def test_driver_gap_is_query_self_time(self):
        spans = run.link_spans([
            {"id": 1, "parent": None, "kind": "workload", "start_ms": 0, "end_ms": 100, "attrs": {}},
            {"id": 2, "parent": None, "kind": "query", "start_ms": 0, "end_ms": 50, "attrs": {}},
            {"id": -1, "parent": None, "kind": "job", "start_ms": 5, "end_ms": 20,
             "attrs": {"span": "2"}},
            # a job started from another thread: found by time containment
            {"id": -2, "parent": None, "kind": "job", "start_ms": 15, "end_ms": 30, "attrs": {}},
        ])
        self.assertEqual([s["parent"] for s in spans], [None, 1, 2, 2])
        self.assertEqual(self_times(spans)[2], 50 - 25)


if __name__ == "__main__":
    unittest.main()
