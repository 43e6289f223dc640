"""Self-tests of the benchmark.

    python3 -m unittest discover -s perfbench/tests -v

Run from the repository root. The tests that need the harness build it
first (offline sbt, about a minute when nothing is built yet).
"""
import json
import os
import re
import shutil
import subprocess
import sys
import tempfile
import time
import unittest

import pandas as pd

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path.insert(0, BENCH)
import check  # noqa: E402
import inputs  # noqa: E402
import layers  # noqa: E402
import run  # noqa: E402
from workloads import END_TO_END, WORKLOADS  # noqa: E402

NAME = re.compile(r"[A-Za-z0-9_.-]+")


def scratch():
    os.makedirs(run.WORK, exist_ok=True)
    return tempfile.mkdtemp(dir=run.WORK)


def harness_oracles(queries, out):
    """Run the harness's `oracles` mode; returns the finished process."""
    launch, _ = run.build(time.time() + run.BUILD_TIMEOUT_S)
    cmd = (["java"] + launch["java_options"] +
           ["-cp", os.pathsep.join(launch["classpath"]), "perfbench.Harness",
            "oracles", "--queries", ",".join(queries), "--out", out])
    return subprocess.run(cmd, capture_output=True, text=True, timeout=120)


class MetricNames(unittest.TestCase):
    def test_names_match_the_name_pattern(self):
        names = [m["name"] for m in END_TO_END + layers.PER_LAYER] + list(WORKLOADS)
        for n in names:
            self.assertRegex(n, NAME)
            self.assertLessEqual(len(n), 64)
        self.assertEqual(len(names), len(set(names)))

    def test_benchmark_json_matches_the_code(self):
        with open(os.path.join(os.path.dirname(BENCH), "BENCHMARK.json")) as f:
            spec = json.load(f)
        self.assertEqual([w["name"] for w in spec["workloads"]], list(WORKLOADS))
        self.assertEqual(spec["end_to_end"], END_TO_END)
        self.assertEqual(spec["per_layer"], layers.PER_LAYER)


class Fixture(unittest.TestCase):
    @unittest.skipUnless(os.environ.get("PERFBENCH_CORPUS"),
                         "set PERFBENCH_CORPUS to the sf0.01 test corpus to compare")
    def test_fixture_is_a_byte_copy_of_the_corpus(self):
        corpus = os.environ["PERFBENCH_CORPUS"]
        for t in inputs.TABLES:
            with open(os.path.join(inputs.FIXTURE, f"{t}.parquet"), "rb") as a, \
                    open(os.path.join(corpus, f"{t}.parquet"), "rb") as b:
                self.assertEqual(a.read(), b.read(), t)


class SeededInputs(unittest.TestCase):
    def setUp(self):
        self.tmp = scratch()

    def tearDown(self):
        shutil.rmtree(self.tmp)

    def _files(self, d):
        out = {}
        for f in sorted(os.listdir(d)):
            with open(os.path.join(d, f), "rb") as fh:
                out[f] = fh.read()
        return out

    def test_same_seed_same_bytes_other_seed_other_layout_same_answers(self):
        a, b, c = (os.path.join(self.tmp, x) for x in "abc")
        inputs.permute(inputs.FIXTURE, a, 7)
        inputs.permute(inputs.FIXTURE, b, 7)
        inputs.permute(inputs.FIXTURE, c, 8)
        self.assertEqual(self._files(a), self._files(b))
        fa, fc = self._files(a), self._files(c)
        self.assertEqual(sorted(fa), sorted(fc))
        self.assertTrue(any(fa[f] != fc[f] for f in fa))
        self.assertEqual({t: d["rows"] for t, d in inputs.describe(a).items()},
                         {t: d["rows"] for t, d in inputs.describe(c).items()})

        queries = [q for w in WORKLOADS.values() for q in w["queries"]]
        out = os.path.join(self.tmp, "oracles")
        proc = harness_oracles(queries, out)
        self.assertEqual(proc.returncode, 0, proc.stderr[-2000:])
        with open(os.path.join(out, "oracle_sql.json")) as f:
            sql = json.load(f)
        ra, rc = check.oracle_answers(a, sql), check.oracle_answers(c, sql)
        for q in queries:
            x = ra[q].sort_values(list(ra[q].columns)).reset_index(drop=True)
            y = rc[q].sort_values(list(rc[q].columns)).reset_index(drop=True)
            pd.testing.assert_frame_equal(x, y, check_exact=True, obj=q)


class FailureAccounting(unittest.TestCase):
    SQL = "SELECT n_nationkey, n_name FROM nation ORDER BY n_nationkey"

    def setUp(self):
        self.tmp = scratch()
        self.inp = os.path.join(self.tmp, "in")
        inputs.permute(inputs.FIXTURE, self.inp, 1)
        self.run = os.path.join(self.tmp, "run")
        os.makedirs(os.path.join(self.run, "outputs", "q"))
        self.answers = check.oracle_answers(self.inp, {"q": self.SQL})
        self.df = check.connect(self.inp).execute(self.SQL).fetchdf()
        self.result = {"execs": [{"query": "q", "error": None}] * 2, "check_errors": {}}

    def tearDown(self):
        shutil.rmtree(self.tmp)

    def _write(self, df):
        df.to_parquet(os.path.join(self.run, "outputs", "q", "part-0.parquet"))

    def test_a_correct_output_passes(self):
        self._write(self.df)
        attempted, failed, failures = run.tally(self.result, check.check(self.answers, self.run, ["q"]))
        self.assertEqual((attempted, failed, failures), (3, 0, {}))

    def test_a_corrupted_output_counts_as_failed(self):
        bad = self.df.copy()
        bad.loc[3, "n_name"] = bad.loc[3, "n_name"] + "x"
        self._write(bad)
        attempted, failed, failures = run.tally(self.result, check.check(self.answers, self.run, ["q"]))
        self.assertEqual((attempted, failed), (3, 1))
        self.assertIn("q", failures)

    def test_a_failed_timed_call_counts_as_failed(self):
        self._write(self.df)
        result = dict(self.result, execs=[{"query": "q", "error": "boom"}, {"query": "q", "error": None}])
        attempted, failed, failures = run.tally(result, check.check(self.answers, self.run, ["q"]))
        self.assertEqual((attempted, failed), (3, 1))
        self.assertIn("boom", failures["q"])


class QueryNames(unittest.TestCase):
    def setUp(self):
        self.out = scratch()

    def tearDown(self):
        shutil.rmtree(self.out)

    def test_every_workload_query_is_registered_with_an_oracle(self):
        queries = [q for w in WORKLOADS.values() for q in w["queries"]]
        proc = harness_oracles(queries, self.out)
        self.assertEqual(proc.returncode, 0, proc.stderr[-2000:])

    def test_an_unregistered_query_fails_loudly(self):
        proc = harness_oracles(["q1_agg", "q_no_such_query"], self.out)
        self.assertNotEqual(proc.returncode, 0)
        self.assertIn("q_no_such_query", proc.stderr)
        self.assertFalse(os.path.exists(os.path.join(self.out, "oracle_sql.json")))


if __name__ == "__main__":
    unittest.main()
