#!/usr/bin/env python3
"""Unit tests of the pair accounting in tools/perf_pairs.py (no benchmark
runs). From the root of a checkout:

    python3 -m unittest tools/test_perf_pairs.py
"""
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import perf_pairs  # noqa: E402


def result(**metrics):
    return {"metrics": {k: {"value": v} for k, v in metrics.items()}}


SPEC = {"read_p50_s": {"better": "lower", "bound": 0.25},
        "ingest_rows_per_s": {"better": "higher", "bound": 0.25}}


class ParseSeeds(unittest.TestCase):
    def test_ranges_lists_and_mixes(self):
        self.assertEqual(perf_pairs.parse_seeds("1-4"), [1, 2, 3, 4])
        self.assertEqual(perf_pairs.parse_seeds("1,3,5"), [1, 3, 5])
        self.assertEqual(perf_pairs.parse_seeds("2-4,9"), [2, 3, 4, 9])
        self.assertEqual(perf_pairs.parse_seeds("7"), [7])


class Quartiles(unittest.TestCase):
    def test_inclusive_quartiles(self):
        self.assertEqual(perf_pairs.quartiles([1, 2, 3, 4, 5]), (2, 4))
        self.assertEqual(perf_pairs.quartiles([4, 1, 3, 2]), (1.75, 3.25))

    def test_single_value_is_its_own_spread(self):
        self.assertEqual(perf_pairs.quartiles([0.5]), (0.5, 0.5))


class Summarize(unittest.TestCase):
    def row(self, pairs, metric):
        rows = {r["metric"]: r for r in perf_pairs.summarize(pairs, SPEC)}
        return rows[metric]

    def test_lower_is_better_wins_and_ties(self):
        pairs = [(1, result(read_p50_s=1.0), result(read_p50_s=0.5)),
                 (2, result(read_p50_s=1.0), result(read_p50_s=1.0)),  # tie
                 (3, result(read_p50_s=1.0), result(read_p50_s=2.0))]
        r = self.row(pairs, "read_p50_s")
        self.assertEqual(r["change_wins"], 1)  # the tie counts for no side
        self.assertEqual(r["pairs"], 3)
        self.assertEqual(r["parent_median"], 1.0)
        self.assertEqual(r["change_median"], 1.0)
        self.assertEqual(r["ratio"], 1.0)

    def test_higher_is_better_wins(self):
        pairs = [(1, result(ingest_rows_per_s=100), result(ingest_rows_per_s=150)),
                 (2, result(ingest_rows_per_s=100), result(ingest_rows_per_s=100)),
                 (3, result(ingest_rows_per_s=100), result(ingest_rows_per_s=90)),
                 (4, result(ingest_rows_per_s=100), result(ingest_rows_per_s=120))]
        r = self.row(pairs, "ingest_rows_per_s")
        self.assertEqual(r["change_wins"], 2)
        self.assertAlmostEqual(r["ratio"], 110 / 100)
        self.assertEqual(r["change_iqr"], (97.5, 127.5))

    def test_ratio_is_change_over_parent_and_none_on_zero(self):
        pairs = [(1, result(read_p50_s=0.4), result(read_p50_s=0.1))]
        self.assertAlmostEqual(self.row(pairs, "read_p50_s")["ratio"], 0.25)
        pairs = [(1, result(read_p50_s=0.0), result(read_p50_s=0.1))]
        self.assertIsNone(self.row(pairs, "read_p50_s")["ratio"])

    def test_metric_missing_from_any_run_is_left_out(self):
        pairs = [(1, result(read_p50_s=1.0, ingest_rows_per_s=5),
                  result(read_p50_s=1.0))]
        metrics = [r["metric"] for r in perf_pairs.summarize(pairs, SPEC)]
        self.assertEqual(metrics, ["read_p50_s"])


LOG = """\
25/05/01 INFO SparkContext: Running Spark version 4.1.2
[timing]   0.270 s  migrate-probe /w/runs/daily_drops-1-9/silver/orders dirs=2/7
[timing]   0.030 s  migrate-probe /w/runs/daily_drops-1-9/silver/orders dirs=0/9
[timing]   0.450 s  append-collide /w/runs/daily_drops-1-9/rejected/orders dirs=5/5
[timing]   1.000 s  stage-write /w/runs/daily_drops-1-9/silver/orders
"""


class Phases(unittest.TestCase):
    def test_key_cuts_the_path_and_splits_off_dirs(self):
        self.assertEqual(
            perf_pairs.phase_key("migrate-probe /a/b/silver/orders dirs=0/7"),
            ("migrate-probe silver/orders", (0, 7)))
        self.assertEqual(perf_pairs.phase_key("stage-write /a/b/silver/orders"),
                         ("stage-write silver/orders", None))
        self.assertEqual(perf_pairs.phase_key("ivfpq-fixture-k1"),
                         ("ivfpq-fixture-k1", None))

    def test_commit_log_key_drops_the_version_and_keeps_attempts(self):
        self.assertEqual(
            perf_pairs.phase_key("commit-log /a/b/silver/orders v=12 attempts=1"),
            ("commit-log silver/orders attempts=1", None))
        self.assertEqual(
            perf_pairs.phase_key("commit-log /a/b/silver/orders v=13 attempts=2"),
            ("commit-log silver/orders attempts=2", None))

    def test_one_run_sums_seconds_lines_and_dirs_per_key(self):
        got = perf_pairs.read_phases(LOG)
        probe = got["migrate-probe silver/orders"]
        self.assertAlmostEqual(probe["s"], 0.30)
        self.assertEqual((probe["n"], probe["read"], probe["live"]), (2, 2, 16))
        self.assertEqual(got["stage-write silver/orders"]["read"], None)
        self.assertEqual(len(got), 3)  # the Spark chatter is no phase

    def test_medians_per_side_and_absent_keys_count_zero(self):
        run = perf_pairs.read_phases(LOG)
        gone = {k: v for k, v in run.items() if not k.startswith("append-collide")}
        rows = {r["phase"]: r for r in perf_pairs.summarize_phases(
            [(run, gone), (run, gone), (run, run)])}
        collide = rows["append-collide rejected/orders"]
        self.assertAlmostEqual(collide["parent_s"], 0.45)
        self.assertEqual(collide["change_s"], 0.0)
        self.assertEqual(collide["parent_dirs"], (5, 5))
        self.assertEqual(collide["change_dirs"], (5, 5))  # from the one run that had it
        self.assertEqual(collide["change_n"], 0)
        self.assertAlmostEqual(rows["stage-write silver/orders"]["change_s"], 1.0)
        self.assertIsNone(rows["stage-write silver/orders"]["change_dirs"])

    def test_compiles_token_is_summed_apart_from_the_key(self):
        log = ("[timing]   0.100 s  stage-write /a/b/silver/orders compiles=3\n"
               "[timing]   0.200 s  stage-write /a/b/silver/orders compiles=4\n"
               "[timing]   0.300 s  append-collide /a/b/rejected/orders dirs=1/2 compiles=0\n")
        run = perf_pairs.read_phases(log)
        self.assertEqual(run["stage-write silver/orders"]["compiles"], 7)
        self.assertEqual(run["append-collide rejected/orders"]["compiles"], 0)
        self.assertEqual(run["append-collide rejected/orders"]["read"], 1)
        old = perf_pairs.read_phases(LOG)  # a side that prints no compiles token
        rows = {r["phase"]: r for r in perf_pairs.summarize_phases([(old, run)])}
        self.assertIsNone(rows["stage-write silver/orders"]["parent_compiles"])
        self.assertEqual(rows["stage-write silver/orders"]["change_compiles"], 7)

    def test_empty_log_has_no_phases(self):
        self.assertEqual(perf_pairs.read_phases(""), {})
        self.assertEqual(perf_pairs.summarize_phases([({}, {})]), [])


if __name__ == "__main__":
    unittest.main()
