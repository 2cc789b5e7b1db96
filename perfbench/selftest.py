#!/usr/bin/env python3
"""Self-tests of the benchmark's own logic: the tail-percentile rule,
failure counting, the steadiness agreement rule and (on the JVM) the
order-insensitivity of the output digest.

Usage (from the repo root): python3 perfbench/selftest.py [--no-jvm]
"""
import os
import shutil
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.dont_write_bytecode = True
sys.path.insert(0, HERE)

import run  # noqa: E402
import steadiness  # noqa: E402


class PercentileRule(unittest.TestCase):
    def test_highest_percentile_with_ten_samples_beyond(self):
        self.assertIsNone(run.tail_percentile(19))
        self.assertEqual(run.tail_percentile(20), 50)
        self.assertEqual(run.tail_percentile(37), 50)
        self.assertEqual(run.tail_percentile(40), 75)
        self.assertEqual(run.tail_percentile(99), 75)
        self.assertEqual(run.tail_percentile(100), 90)
        self.assertEqual(run.tail_percentile(999), 90)
        self.assertEqual(run.tail_percentile(1000), 99)
        self.assertEqual(run.tail_percentile(10000), 99.9)

    def test_nearest_rank(self):
        values = list(range(1, 101))
        self.assertEqual(run.percentile(values, 90), 90)
        self.assertEqual(run.percentile(values, 50), 50)
        self.assertEqual(run.percentile([7], 90), 7)
        self.assertEqual(run.percentile(list(reversed(values)), 99), 99)


def execution(query, rows=3, digest="3:1:2", error=""):
    return {"query": query, "rows": rows, "digest": digest, "error": error,
            "build_ns": 0, "plan_ns": 0, "exec_ns": 0, "pass": 0}


class FailureCounting(unittest.TestCase):
    expected = {"q1": {"rows": 3, "digest": "3:1:2"}, "q2": {"rows": 0, "digest": "0"}}

    def test_clean(self):
        ex = [execution("q1"), execution("q2", 0, "0"), execution("q1")]
        self.assertEqual(run.count_failures(ex, self.expected), (3, 0, 0))

    def test_every_attempt_counts(self):
        # a failed first attempt is not hidden by a later success
        ex = [execution("q1", -1, "", "SparkException: boom"), execution("q1")]
        self.assertEqual(run.count_failures(ex, self.expected), (2, 1, 0))

    def test_wrong_output_is_a_failure(self):
        ex = [execution("q1", 3, "3:1:5"), execution("q2", 1, "0"), execution("q1")]
        self.assertEqual(run.count_failures(ex, self.expected), (3, 2, 2))

    def test_unrecorded_query_is_a_failure(self):
        self.assertEqual(run.count_failures([execution("q9")], self.expected), (1, 1, 1))


class Agreement(unittest.TestCase):
    metric = {"name": "pass_s", "better": "lower", "bound": 0.1}

    def test_steady_sets_agree(self):
        a = [10.0, 10.1, 9.9, 10.05, 10.0, 9.95, 10.02, 10.0, 9.98, 10.01]
        b = [v * 1.02 for v in a]
        self.assertTrue(steadiness.agreement(self.metric, a, b)[3])

    def test_regression_beyond_bound_disagrees(self):
        a = [10.0] * 9 + [10.1]
        b = [v * 1.2 for v in a]
        self.assertFalse(steadiness.agreement(self.metric, a, b)[3])

    def test_improvement_beyond_bound_disagrees(self):
        a = [10.0] * 9 + [10.1]
        b = [v * 0.8 for v in a]
        self.assertFalse(steadiness.agreement(self.metric, a, b)[3])

    def test_wide_spread_disagrees(self):
        a = [5.0, 15.0, 5.0, 15.0, 5.0, 15.0, 5.0, 15.0, 10.0, 10.0]
        for name in ("pass_s", "setup_s"):
            metric = dict(self.metric, name=name)
            self.assertFalse(steadiness.agreement(metric, a, a)[3])


def jvm_digest_selftest():
    """Builds the runner and checks digest order-insensitivity on Spark."""
    root = os.getcwd()
    build_dir, classes, _ = run.prepare(root)
    run_dir = os.path.join(build_dir, "runs", f"selftest-{os.getpid()}")
    os.makedirs(os.path.join(run_dir, "tmp"), exist_ok=True)
    try:
        cmd = run.java_cmd(root, classes, run.jvm_options(root), run_dir, ["selftest"])
        rc, log = run.run_jvm(cmd, run_dir, timeout=300)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    print("\n".join(line for line in log.splitlines() if "] digest:" in line))
    return rc == 0


if __name__ == "__main__":
    no_jvm = "--no-jvm" in sys.argv
    result = unittest.main(argv=[sys.argv[0]], exit=False).result
    ok = result.wasSuccessful() and (no_jvm or jvm_digest_selftest())
    sys.exit(0 if ok else 1)
