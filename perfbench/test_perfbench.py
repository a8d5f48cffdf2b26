"""Tests of the benchmark itself (not of graft).

    python3 -m unittest discover -s perfbench -p 'test_*.py'

Run from the repository root. The last test builds graft and runs the
harness once with an injected failure; it takes about a minute.
"""
import filecmp
import json
import os
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import checks  # noqa: E402
import run  # noqa: E402


def scratch():
    base = os.path.abspath(os.environ.get("CARGO_TARGET_DIR") or ".bench_build")
    os.makedirs(base, exist_ok=True)
    return tempfile.TemporaryDirectory(dir=base)


class SeedTest(unittest.TestCase):
    def test_same_seed_gives_byte_identical_inputs(self):
        for w in gen.WORKLOADS:
            with scratch() as d:
                gen.generate(w, 7, os.path.join(d, "a"))
                gen.generate(w, 7, os.path.join(d, "b"))
                files = sorted(os.listdir(os.path.join(d, "a")))
                _, mismatch, errors = filecmp.cmpfiles(
                    os.path.join(d, "a"), os.path.join(d, "b"), files, shallow=False)
                self.assertEqual((mismatch, errors), ([], []), w)

    def test_other_seed_gives_other_inputs(self):
        for w in gen.WORKLOADS:
            with scratch() as d:
                gen.generate(w, 7, os.path.join(d, "a"))
                gen.generate(w, 8, os.path.join(d, "b"))
                data = [f for f in sorted(os.listdir(os.path.join(d, "a"))) if f.endswith(".parquet")]
                _, mismatch, _ = filecmp.cmpfiles(
                    os.path.join(d, "a"), os.path.join(d, "b"), data, shallow=False)
                self.assertTrue(mismatch, w)


def record(times, failed=(), traced=(), cycle=1):
    return {"workload": "report_lineitem", "setup_s": 9.0, "cycle": cycle, "rows_per_op": 1000,
            "peak_rss_mb": 512.0, "fail_all": None,
            "ops": [{"i": i, "s": s, "ok": i not in failed, "traced": i in traced, "error": None}
                    for i, s in enumerate(times)],
            "layer": [], "run_metrics": {}}


class SummaryTest(unittest.TestCase):
    def test_failed_operation_counts_and_is_not_timed(self):
        times = [1.0, 1.1, 40.0, 1.2, 0.9]
        e2e, info, failed = run.summarize(record(times, failed={2}), {})
        self.assertEqual(failed, {2})
        self.assertAlmostEqual(e2e["fail_ratio"], 0.2)
        self.assertAlmostEqual(e2e["op_p50_s"], 1.05)
        self.assertLess(e2e["op_tail_s"], 40.0)
        self.assertAlmostEqual(e2e["rows_per_s"], 4000 / 4.2)
        self.assertEqual((info["attempted"], info["failed"], info["samples"]), (5, 1, 4))

    def test_check_failure_fails_operations(self):
        e2e, info, failed = run.summarize(record([1.0, 2.0, 3.0]), {1: "wrong digest"})
        self.assertEqual(failed, {1})
        self.assertAlmostEqual(e2e["op_p50_s"], 2.0)
        _, _, failed = run.summarize(record([1.0, 2.0]), {}, fail_all="wrong findings")
        self.assertEqual(failed, {0, 1})

    def test_median_is_over_whole_passes(self):
        # two passes over a three-query mix: the median is the median pass
        # mean, not the time of whichever query sits in the middle
        times = [0.1, 1.0, 3.0, 0.2, 1.1, 2.9, 0.1, 0.9, 3.2]
        e2e, info, _ = run.summarize(record(times, cycle=3), {})
        self.assertAlmostEqual(e2e["op_p50_s"], 4.2 / 3)
        self.assertEqual((info["passes"], info["samples"]), (3, 9))
        # a pass with a failed operation is left out of the median
        e2e, info, _ = run.summarize(record(times, failed={4}, cycle=3), {})
        self.assertEqual(info["passes"], 2)
        self.assertAlmostEqual(e2e["op_p50_s"], (4.1 + 4.2) / 6)

    def test_overhead_compares_the_same_queries(self):
        ops = record([1.0, 3.0, 1.5, 3.3], traced={0, 3}, cycle=2)["ops"]
        self.assertAlmostEqual(run.overhead(ops, 2), (1.0 + 3.3) / (1.5 + 3.0))

    def test_tail_has_ten_samples_beyond_it(self):
        xs = [float(i) for i in range(100)]
        value, pct, n = run.tail_stat(xs)
        self.assertEqual((value, pct, n), (89.0, 90.0, 100))
        self.assertEqual(sum(x > value for x in xs), 10)
        value, pct, _ = run.tail_stat([1.0, 2.0, 3.0, 4.0, 5.0, 6.0, 7.0, 8.0])
        self.assertEqual((value, pct), (6.75, 75.0))


class OracleCompareTest(unittest.TestCase):
    def test_rounding_drift_passes_and_wrong_values_fail(self):
        import pandas as pd
        spark = pd.DataFrame({"k": ["a", "b"], "variance": [911009418.3411, 0.25]})
        duck = pd.DataFrame({"variance": [0.25, 911009418.3412], "k": ["b", "a"]})
        self.assertIsNone(checks.frame_diff(spark, duck))
        duck.loc[0, "variance"] = 0.26
        self.assertIn("variance", checks.frame_diff(spark, duck))
        self.assertIn("rows", checks.frame_diff(spark, duck.iloc[:1]))


class InjectedFailureTest(unittest.TestCase):
    def test_harness_reports_an_injected_failure(self):
        with scratch() as d:
            env = dict(os.environ, CARGO_TARGET_DIR=d)
            p = subprocess.run(
                [sys.executable, os.path.join(HERE, "run.py"), "--workload", "report_lineitem",
                 "--seed", "3", "--seconds", "6", "--trace", "0", "--inject-fail", "1"],
                env=env, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True, timeout=600)
            self.assertEqual(p.returncode, 0, p.stderr[-3000:])
            lines = p.stdout.strip().splitlines()
            summary, last = json.loads(lines[-2]), json.loads(lines[-1])
            self.assertFalse(last["correct"])
            self.assertEqual(last["failed"], 1)
            ratio = summary["end_to_end"]["fail_ratio"]["value"]
            self.assertAlmostEqual(ratio, 1 / last["attempted"])
            self.assertEqual(summary["samples"], last["attempted"] - 1)
            self.assertIn("injected failure in operation 1", p.stderr)


if __name__ == "__main__":
    unittest.main()
