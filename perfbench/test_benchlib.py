"""Tests of the benchmark's arithmetic and checker.

Run from the root of a checkout: python3 -m unittest perfbench/test_benchlib.py
"""
import json
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import benchlib as bl  # noqa: E402


class PercentileRule(unittest.TestCase):
    def test_highest_percentile_with_ten_samples_beyond(self):
        self.assertIsNone(bl.supported_percentile(19))
        self.assertEqual(bl.supported_percentile(20), 50)
        self.assertEqual(bl.supported_percentile(99), 50)
        self.assertEqual(bl.supported_percentile(100), 90)
        self.assertEqual(bl.supported_percentile(999), 90)
        self.assertEqual(bl.supported_percentile(1000), 99)

    def test_no_p90_from_fewer_than_100_samples(self):
        with self.assertRaises(ValueError):
            bl.percentile(list(range(99)), 90)
        self.assertAlmostEqual(bl.percentile(list(range(100)), 90), 89.1)

    def test_no_p50_from_fewer_than_20_samples(self):
        with self.assertRaises(ValueError):
            bl.percentile(list(range(19)), 50)
        self.assertEqual(bl.percentile(list(range(21)), 50), 10)
        self.assertEqual(bl.percentile(list(range(20)), 50), 9.5)


class Arithmetic(unittest.TestCase):
    def test_rate(self):
        self.assertEqual(bl.rate(300, 1.5), 200)
        with self.assertRaises(ValueError):
            bl.rate(1, 0)

    def test_window_spans_first_start_to_last_end(self):
        b = [{"start_ms": 1000, "dur": {"triggerExecution": 200}},
             {"start_ms": 1250, "dur": {"triggerExecution": 250}}]
        self.assertEqual(bl.window(b), 0.5)

    def test_median(self):
        self.assertEqual(bl.median([3, 1, 2]), 2)
        self.assertEqual(bl.median([4, 1, 2, 3]), 2.5)

    def test_self_time_subtracts_the_union_of_children(self):
        spans = [
            {"id": 1, "parent": 0, "name": "trigger", "start_ms": 0, "end_ms": 100},
            {"id": 2, "parent": 1, "name": "addBatch", "start_ms": 10, "end_ms": 90},
            # two overlapping jobs: their union, 20..70, counts once
            {"id": 3, "parent": 2, "name": "job", "start_ms": 20, "end_ms": 60},
            {"id": 4, "parent": 2, "name": "job", "start_ms": 40, "end_ms": 70},
            # a child running past its parent is clipped to it
            {"id": 5, "parent": 1, "name": "commitOffsets", "start_ms": 95, "end_ms": 120},
        ]
        st = bl.self_times(spans)
        self.assertEqual(st[1], 100 - 80 - 5)
        self.assertEqual(st[2], 80 - 50)
        self.assertEqual(st[3], 40)
        self.assertEqual(st[5], 25)
        tot, cnt = bl.self_by_name(spans)
        self.assertEqual(tot["job"], 70)
        self.assertEqual(cnt["job"], 2)


class LoaderChecker(unittest.TestCase):
    HEADER = ["block_num", "height"]
    ROWS = [["1", "1"], ["2", "2"], ["3", "3"]]
    CURSOR = {"expected": {"block_num": 3, "cursor": "c3"},
              "landed": {"block_num": 3, "cursor": "c3"}}

    def check(self, landed, cursor=None, kills=None, seqs=None):
        with tempfile.TemporaryDirectory() as d:
            for kind, rows in (("expected", self.ROWS), ("landed", landed)):
                with open(os.path.join(d, f"blocks.{kind}.tsv"), "w") as f:
                    f.write("\t".join(self.HEADER) + "\n")
                    f.writelines("\t".join(r) + "\n" for r in rows)
            return bl.check_loader(d, ["blocks"], cursor or self.CURSOR, kills, seqs)

    def test_exact_landing_passes(self):
        self.assertEqual(self.check(self.ROWS, kills=[{"seq": 5, "served": 2}],
                                    seqs={"count": 10, "lost": 0}), [])

    def test_dropped_row(self):
        fails = self.check(self.ROWS[:2])
        self.assertEqual(len(fails), 1)
        self.assertIn("1 expected rows missing", fails[0])

    def test_duplicated_row(self):
        fails = self.check(self.ROWS + [self.ROWS[1]])
        self.assertIn("1 extra rows landed", fails[0])

    def test_corrupted_value(self):
        fails = self.check([["1", "1"], ["2", "7"], ["3", "3"]])
        self.assertIn("1 expected rows missing, 1 extra rows landed", fails[0])

    def test_stale_cursor(self):
        stale = {"expected": {"block_num": 3, "cursor": "c3"},
                 "landed": {"block_num": 2, "cursor": "c2"}}
        fails = self.check(self.ROWS, cursor=stale)
        self.assertEqual(len(fails), 1)
        self.assertIn("cursor", fails[0])

    def test_missing_cursor(self):
        fails = self.check(self.ROWS, cursor={"expected": {"block_num": 3, "cursor": "c3"},
                                              "landed": None})
        self.assertIn("cursor", fails[0])

    def test_kill_not_reserved_and_lost_seq(self):
        fails = self.check(self.ROWS, kills=[{"seq": 5, "served": 1}],
                           seqs={"count": 10, "lost": 2})
        self.assertEqual(len(fails), 2)


class LaneChecker(unittest.TestCase):
    def setUp(self):
        import pandas as pd
        self.pd = pd
        self.want = pd.DataFrame({"k": [1, 2, 3], "v": [0.5, 1.5, 2.5]})

    def test_same_rows_in_any_order_pass(self):
        got = self.want.iloc[::-1][["v", "k"]]
        self.assertEqual(bl.compare_frames(got, self.want), [])

    def test_wrong_lane_result(self):
        got = self.pd.DataFrame({"k": [1, 2, 3], "v": [0.5, 1.5, 2.6]})
        self.assertIn("values differ", bl.compare_frames(got, self.want)[0])

    def test_missing_row_and_column_and_type_drift(self):
        self.assertIn("rows", bl.compare_frames(self.want.iloc[:2], self.want)[0])
        self.assertIn("columns", bl.compare_frames(self.want[["k"]], self.want)[0])
        drift = self.pd.DataFrame({"k": [1.0, 2.0, 3.0], "v": [0.5, 1.5, 2.5]})
        self.assertIn("column k", bl.compare_frames(drift, self.want)[0])


class BenchmarkJson(unittest.TestCase):
    def test_declared_metrics_and_workloads(self):
        root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        with open(os.path.join(root, "BENCHMARK.json")) as f:
            spec = json.load(f)
        names = [w["name"] for w in spec["workloads"]]
        self.assertEqual(names, ["grpc_head", "lanes_hot"])
        e2e = {m["name"]: m for m in spec["end_to_end"]}
        self.assertEqual(e2e["setup_s"]["unit"], "s")
        self.assertTrue(all(m["bound"] <= 0.25 for m in e2e.values()))


if __name__ == "__main__":
    unittest.main()
