"""Tests of the benchmark's own helpers.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import json
import unittest
from pathlib import Path

import benchlib

HERE = Path(__file__).resolve().parent


class SummaryTest(unittest.TestCase):
    def test_median_and_count(self):
        s = benchlib.summary([3.0, 1.0, 2.0])
        self.assertEqual(s["median"], 2.0)
        self.assertEqual(s["n"], 3)
        self.assertIsNone(s["pct"])

    def test_even_count_median(self):
        self.assertEqual(benchlib.summary([4.0, 1.0, 2.0, 3.0])["median"], 2.5)

    def test_percentile_needs_ten_samples_beyond_it(self):
        self.assertIsNone(benchlib.summary([1.0] * 99)["pct"])
        s = benchlib.summary(list(range(100)))
        self.assertEqual((s["pct"], s["pct_value"]), (90.0, 90))
        s = benchlib.summary(list(range(1000)))
        self.assertEqual((s["pct"], s["pct_value"]), (99.0, 990))

    def test_empty_sample_is_an_error(self):
        with self.assertRaises(ValueError):
            benchlib.summary([])


class KeepMaskTest(unittest.TestCase):
    def test_deterministic_and_seeded(self):
        keys = list(range(100000))
        a = benchlib.keep_mask(keys, 7)
        self.assertTrue((a == benchlib.keep_mask(keys, 7)).all())
        self.assertFalse((a == benchlib.keep_mask(keys, 8)).all())
        self.assertAlmostEqual(a.mean(), 7 / 8, delta=0.01)


class CheckpointTest(unittest.TestCase):
    def test_share_and_seed(self):
        import numpy as np
        days = np.arange("2024-01-01", "2024-04-10", dtype="datetime64[D]")
        ts = days.astype("datetime64[ns]") + np.timedelta64(12, "h")
        self.assertEqual(benchlib.checkpoint(ts, 0, 0.1),
                         "2024-03-30 00:00:00")
        self.assertEqual(benchlib.checkpoint(ts, 4, 0.1),
                         "2024-03-29 00:00:00")


class SpanTest(unittest.TestCase):
    def span(self, i, start, end, parent=None):
        return {"id": i, "start": start, "end": end, "parent": parent}

    def test_self_time_subtracts_children(self):
        spans = [self.span("a", 0, 10), self.span("b", 1, 3, "a"),
                 self.span("c", 5, 6, "a")]
        self.assertEqual(benchlib.self_times(spans),
                         {"a": 7, "b": 2, "c": 1})

    def test_overlapping_children_count_once(self):
        spans = [self.span("a", 0, 10), self.span("b", 1, 5, "a"),
                 self.span("c", 3, 7, "a")]
        self.assertEqual(benchlib.self_times(spans)["a"], 4)

    def test_children_clipped_to_parent(self):
        spans = [self.span("a", 0, 10), self.span("b", 8, 14, "a")]
        self.assertEqual(benchlib.self_times(spans)["a"], 8)

    def test_grandchildren_only_reduce_their_parent(self):
        spans = [self.span("a", 0, 10), self.span("b", 0, 6, "a"),
                 self.span("c", 1, 5, "b")]
        self.assertEqual(benchlib.self_times(spans),
                         {"a": 4, "b": 2, "c": 4})

    def test_union_length(self):
        self.assertEqual(benchlib.union_length([(0, 2), (1, 3), (5, 6)]), 4)
        self.assertEqual(benchlib.union_length([(0, 10)], 2, 4), 2)
        self.assertEqual(benchlib.union_length([]), 0)


class NameTest(unittest.TestCase):
    def test_valid_names(self):
        for n in ("run_s", "report.dead_stock_report.write_s", "host.steal_pct",
                  "etl-full", "9x"):
            self.assertTrue(benchlib.valid_name(n), n)

    def test_invalid_names(self):
        for n in ("", "_x", ".x", "a b", "a/b", "x" * 65, "run_s%", None):
            self.assertFalse(benchlib.valid_name(n), n)

    def test_declared_metrics(self):
        spec = json.loads((HERE.parent / "BENCHMARK.json").read_text())
        names = [w["name"] for w in spec["workloads"]] + \
            [m["name"] for m in spec["end_to_end"] + spec["per_layer"]]
        self.assertEqual(len(names), len(set(names)))
        for n in names:
            self.assertTrue(benchlib.valid_name(n), n)
        self.assertEqual({m["name"]: m["unit"] for m in spec["per_layer"]},
                         benchlib.per_layer_units())
        for m in spec["end_to_end"]:
            self.assertEqual(benchlib.END_TO_END_UNITS[m["name"]], m["unit"])


class PathTest(unittest.TestCase):
    def test_rel_under(self):
        self.assertEqual(benchlib.rel_under("file:/w/out/x", "/w/out"), "x")
        self.assertEqual(benchlib.rel_under("file:///w/out/x/", "/w/out"), "x")
        self.assertIsNone(benchlib.rel_under("/w/output/x", "/w/out"))


class GapTest(unittest.TestCase):
    def test_lines_account_for_wall(self):
        def ex(i, s, e, func, path=None):
            return {"id": i, "root": i, "start_ms": s, "end_ms": e,
                    "description": "", "qe": {"func": func, "write_path": path,
                                              "scans": []}}
        call = {"kind": "full", "out": "/o", "wall_s": 10.0,
                "start_ms": 0, "end_ms": 10000, "execs": [
                    ex(1, 0, 4000, "command", "file:/o/dead_stock_report"),
                    ex(2, 4000, 5000, "count"),
                    ex(3, 6000, 7000, "command", "/o/dq_events"),
                    ex(4, 7000, 7500, "command", "/o/analytics_daily_summary")]}
        gap = benchlib.gap_table(call)
        self.assertEqual(gap["report_write"], 4.0)
        self.assertEqual(gap["dq_fanout"], 1.0)
        self.assertEqual(gap["summary_append"], 0.5)
        self.assertEqual(gap["count"], 1.0)
        self.assertAlmostEqual(gap["outside_sql"], 3.5)
        self.assertAlmostEqual(sum(gap.values()), 10.0)


if __name__ == "__main__":
    unittest.main()
