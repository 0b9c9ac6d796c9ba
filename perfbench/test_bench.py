#!/usr/bin/env python3
"""Tests of the benchmark itself: failure accounting, the tail rule and the
paired verdicts.

Usage: python3 -m unittest perfbench/test_bench.py   (from the checkout root)

`InjectedRunTest` drives a real run with `--inject`: one operation that
throws and one whose result digest is wrong. It needs the test data and a
JDK, and takes about a minute.
"""
import contextlib
import io
import json
import shutil
import sys
import unittest
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))
import compare  # noqa: E402
import run  # noqa: E402


def op(name, phase, wall, error=None, p=0, digest="7"):
    return {"name": name, "phase": phase, "pass": p, "wall_s": wall, "build_s": 0.1,
            "rows": 0 if error else 3, "error": error, "created": [],
            "digest": None if error else digest, "check_error": None}


class AccountingTest(unittest.TestCase):
    def test_throwing_and_wrong_operations_are_counted_and_not_sampled(self):
        expected = {"q": {"rows": 3, "digest": "7"},
                    "inject_wrong": run.INJECTED["inject_wrong"]}
        res = {
            "ops": [op("q", "cold", 1.0), op("inject_throw", "cold", 0.2, "boom"),
                    op("inject_wrong", "cold", 0.3, digest="99"),
                    op("q", "steady", 0.5, p=1), op("inject_throw", "steady", 0.1, "boom", 1),
                    op("inject_wrong", "steady", 0.05, p=1, digest="99"),
                    op("q", "count", 0.4, p=1)],
            "steady_wall_s": 1.0, "rss_peak_mb": 100.0, "passes": [],
        }
        bad = run.check_outputs("warehouse_dml", res, expected)
        self.assertEqual(set(bad), {"inject_wrong"})
        r = run.reduce_run("warehouse_dml", res, 2.0, bad)
        self.assertEqual(r["attempted"], 6)
        self.assertEqual(r["failed"], 4)
        self.assertEqual(r["failed_ops"], ["inject_throw", "inject_wrong"])
        self.assertEqual(set(r["errors"]), {"inject_throw", "inject_wrong"})
        self.assertEqual(r["e2e"]["latency_p50_s"], 0.5)
        self.assertEqual(r["e2e"]["setup_s"], 2.0)
        self.assertEqual(r["e2e"]["cold_s"], 1.5)

    def test_a_wrong_output_fails_only_its_own_operation(self):
        expected = {"q": {"rows": 3, "digest": "7"}}
        res = {"ops": [op("q", "cold", 1.0), op("q", "steady", 0.5, p=1, digest="8"),
                       op("q", "steady", 0.6, p=2)],
               "steady_wall_s": 1.1, "rss_peak_mb": 100.0, "passes": []}
        r = run.reduce_run("warehouse_dml", res, 2.0, run.check_outputs("warehouse_dml", res, expected))
        self.assertEqual((r["attempted"], r["failed"]), (3, 1))
        self.assertEqual(r["e2e"]["latency_p50_s"], 0.6)

    def test_p50_is_the_geometric_mean_of_member_medians(self):
        expected = {m: {"rows": 3, "digest": "7"} for m in "abcd"}
        walls = {"a": [1.0, 1.1], "b": [2.0, 2.2], "c": [3.0, 3.3], "d": [9.0, 9.9]}
        res = {"ops": [op(m, "steady", w, p=i + 1) for m, ws in walls.items()
                       for i, w in enumerate(ws)],
               "steady_wall_s": 31.5, "rss_peak_mb": 1.0, "passes": []}
        r = run.reduce_run("warehouse_dml", res, 1.0, run.check_outputs("warehouse_dml", res, expected))
        self.assertAlmostEqual(r["e2e"]["latency_p50_s"], (1.05 * 2.1 * 3.15 * 9.45) ** 0.25)
        self.assertIsNone(r["e2e"]["rows_per_s"])
        self.assertIsNone(r["e2e"]["stored_bytes_per_row"])

    def test_tail_has_ten_samples_beyond_it(self):
        v, p, n = run.tail([float(i) for i in range(1, 41)])
        self.assertEqual((v, p, n), (30.0, 75.0, 40))
        self.assertEqual(sum(1 for i in range(1, 41) if i > v), 10)

    def test_tail_is_not_applicable_at_or_below_the_median(self):
        self.assertEqual(run.tail([1.0, 2.0]), (None, None, 2))
        self.assertEqual(run.tail([float(i) for i in range(20)]), (None, None, 20))


class CompareTest(unittest.TestCase):
    def test_verdicts(self):
        a = [1.0, 1.01, 0.99, 1.0, 1.02, 0.98, 1.0, 1.01, 0.99, 1.0]
        faster = [x * 0.8 for x in a]
        self.assertEqual(compare.verdict(a, faster, 0.1, True)[-1], "better")
        self.assertEqual(compare.verdict(a, a, 0.1, True)[-1], "same")
        self.assertEqual(compare.verdict(a, [x * 1.3 for x in a], 0.1, True)[-1], "regression")
        noisy = [0.5, 1.5, 0.7, 1.3, 1.0, 0.6, 1.4, 0.9, 1.1, 1.0]
        self.assertEqual(compare.verdict(a, noisy, 0.1, True)[-1], "unresolved")


@unittest.skipUnless(Path(run.SPEC["data"]).is_dir() and shutil.which("java"),
                     "needs the test data and a JDK")
class InjectedRunTest(unittest.TestCase):
    def test_injected_failures_are_counted(self):
        out = io.StringIO()
        with contextlib.redirect_stdout(out):
            run.main(["--workload", "warehouse_dml", "--seed", "1", "--seconds", "1",
                      "--trace", "0", "--inject"])
        lines = out.getvalue().strip().splitlines()
        last = json.loads(lines[-1])
        self.assertFalse(last["correct"])
        # two operations fail in every pass
        self.assertEqual(last["attempted"] % 3, 0)
        self.assertEqual(last["failed"], 2 * last["attempted"] // 3)
        text = "\n".join(lines)
        self.assertIn("inject_throw", text)
        self.assertIn("inject_wrong", text)


if __name__ == "__main__":
    unittest.main()
