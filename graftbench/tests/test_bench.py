"""Self-tests of the graft benchmark harness.

Run from the repository root:

    python3 -m unittest discover -s graftbench/tests -v

The harness tests build the benchmark (sbt) and start one JVM.
"""
import filecmp
import json
import os
import subprocess
import sys
import tempfile
import unittest

BENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, BENCH)

import gen  # noqa: E402
import layers  # noqa: E402
import run  # noqa: E402

SCRATCH = os.path.join(BENCH, ".work")


class InputsTest(unittest.TestCase):
    def test_same_seed_gives_byte_identical_inputs(self):
        os.makedirs(SCRATCH, exist_ok=True)
        for workload in run.WORKLOADS:
            with tempfile.TemporaryDirectory(dir=SCRATCH) as a, \
                    tempfile.TemporaryDirectory(dir=SCRATCH) as b, \
                    tempfile.TemporaryDirectory(dir=SCRATCH) as c:
                first = gen.generate(workload, 7, a)
                again = gen.generate(workload, 7, b)
                other = gen.generate(workload, 8, c)
                for table in first["rows"]:
                    name = f"{table}.parquet"
                    self.assertTrue(filecmp.cmp(os.path.join(a, name), os.path.join(b, name),
                                                shallow=False), f"{workload}/{name}")
                self.assertEqual(first["sha256"], again["sha256"])
                self.assertNotEqual(first["sha256"], other["sha256"])


class HarnessTest(unittest.TestCase):
    """Runs graftbench.SelfTest: synthetic keys through the workload loop."""

    @classmethod
    def setUpClass(cls):
        os.makedirs(SCRATCH, exist_ok=True)
        cls.tmp = tempfile.TemporaryDirectory(dir=SCRATCH)
        out = cls.tmp.name
        classpath = run.build()
        subprocess.run(["java"] + run.JVM_OPTS +
                       [f"-Djava.io.tmpdir={out}", "-cp", classpath, "graftbench.SelfTest", out],
                       check=True, timeout=300,
                       stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL)
        with open(os.path.join(out, "selftest.json")) as f:
            cls.res = json.load(f)

    @classmethod
    def tearDownClass(cls):
        cls.tmp.cleanup()

    def test_throwing_key_counts_as_failed_and_is_never_timed(self):
        timed = {o["key"] for o in self.res["ops"]}
        failed = {f["key"] for f in self.res["failures"]}
        self.assertEqual(failed, {"throws_at_build", "throws_at_run"})
        self.assertEqual(timed, {"count_cheap"})
        line = run.result_line(
            {"attempted": self.res["attempted"], "failures": self.res["failures"]}, {},
            {"pass_s": 1.0}, run.E2E)
        self.assertEqual((line["attempted"], line["failed"], line["correct"]), (3, 2, False))

    def test_count_cheap_key_is_timed_at_full_cost(self):
        full = next(o["s"] for o in self.res["ops"] if o["key"] == "count_cheap")
        self.assertGreaterEqual(full, 10 * self.res["count_s"])


class ReductionTest(unittest.TestCase):
    def test_oracle_mismatch_fails_the_run(self):
        line = run.result_line({"attempted": 8, "failures": []},
                               {"a": None, "b": "rows 3 vs 4"}, {"pass_s": 1.0}, run.E2E)
        self.assertEqual((line["attempted"], line["failed"], line["correct"]), (10, 1, False))

    def test_percentile_interpolates(self):
        self.assertEqual(layers.pct([1, 2, 3, 4, 5], 50), 3)
        self.assertAlmostEqual(layers.pct([0, 10], 95), 9.5)


if __name__ == "__main__":
    unittest.main()
