#!/usr/bin/env python3
"""Self-tests of the benchmark's own accounting.

Run from the root of a checkout (each test starts one short benchmark run):

    python3 -m unittest perfbench/test_bench.py

- A timed op that throws, or whose output check fails, counts as failed, is
  named on a FAILED line, is left out of every latency, and the run exits 1.
- Without the engine's sources next to it, the benchmark exits non-zero
  without printing a result.
"""
import json
import os
import shutil
import statistics
import subprocess
import sys
import unittest

ROOT = os.getcwd()
RUN = [sys.executable, os.path.join("perfbench", "run.py")]
LAST = os.path.join(ROOT, ".bench_build", "last", "daily_drops", "result.json")


def bench(*extra, cwd=ROOT):
    return subprocess.run(RUN + ["--workload", "daily_drops", "--seed", "7", "--seconds", "32",
                                 "--trace", "0", *extra],
                          cwd=cwd, capture_output=True, text=True, timeout=600)


class FailureAccounting(unittest.TestCase):

    def check_failed_run(self, p, kind):
        self.assertEqual(p.returncode, 1, p.stderr[-2000:])
        lines = p.stdout.strip().splitlines()
        out = json.loads(lines[-1])
        self.assertFalse(out["correct"])
        with open(LAST) as f:
            r = json.load(f)
        ops = r["detail"]["ops"]  # [kind, name, secs, ok, traced]
        bad = [o for o in ops if not o[3]]
        self.assertTrue(any(o[0] == kind for o in bad), bad)
        self.assertEqual(out["failed"], len(bad))
        self.assertEqual(out["attempted"], len(ops))
        for o in bad:
            self.assertTrue(any(o[1] in line for line in lines if line.startswith("FAILED ")),
                            f"{o[1]} is not named")
        # latencies come from the ops that passed, and only from them
        reads = [o[2] for o in ops if o[0] == "read" and o[3]]
        drops = [o[2] for o in ops if o[0] == "drop" and o[3]]
        self.assertAlmostEqual(out["metrics"]["read_p50_s"]["value"], statistics.median(reads))
        self.assertAlmostEqual(out["metrics"]["drop_p50_s"]["value"], statistics.median(drops))

    def test_op_that_throws(self):
        self.check_failed_run(bench("--inject-throw", "read"), "read")

    def test_op_whose_check_fails(self):
        self.check_failed_run(bench("--inject-mismatch", "drop"), "drop")

    def test_without_engine_sources(self):
        bare = os.path.join(ROOT, ".bench_build", "bare")
        shutil.rmtree(bare, ignore_errors=True)
        os.makedirs(bare)
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        shutil.copytree(os.path.join(ROOT, "perfbench"), os.path.join(bare, "perfbench"))
        try:
            p = bench(cwd=bare)
            self.assertNotEqual(p.returncode, 0)
            self.assertFalse(p.stdout.strip(), p.stdout)
        finally:
            shutil.rmtree(bare, ignore_errors=True)


if __name__ == "__main__":
    unittest.main()
