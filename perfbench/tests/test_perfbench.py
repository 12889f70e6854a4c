"""Tests of the benchmark itself.

    python3 -m unittest discover -s perfbench/tests        # from the checkout root

The end-to-end test builds the benchmark and runs one short workload with
every expected answer corrupted (about a minute); set PERFBENCH_QUICK=1 to
run only the fast tests.
"""
import importlib.util
import json
import os
import shutil
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)


def load(name):
    spec = importlib.util.spec_from_file_location(name, os.path.join(BENCH, f"{name}.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


run = load("run")
compare = load("compare")


class VerdictTest(unittest.TestCase):
    def test_clear_regression_is_worse(self):
        base = [100, 101, 99, 100, 102, 98, 100, 101, 99, 100]
        new = [x * 1.3 for x in base]
        self.assertEqual(compare.verdict(base, new, 0.1, higher_better=False), "worse")

    def test_clear_gain_is_better(self):
        base = [100, 101, 99, 100, 102, 98, 100, 101, 99, 100]
        new = [x * 0.8 for x in base]
        self.assertEqual(compare.verdict(base, new, 0.1, higher_better=False), "better")
        self.assertEqual(compare.verdict(base, new, 0.1, higher_better=True), "worse")

    def test_noise_is_unresolved(self):
        base = [100, 101, 99, 100, 102, 98, 100, 101, 99, 100]
        new = [101, 100, 100, 99, 101, 99, 100, 102, 98, 100]
        self.assertEqual(compare.verdict(base, new, 0.1, higher_better=False), "unresolved")

    def test_wide_spread_needs_separation(self):
        base = [100, 150, 80, 120, 60, 140, 90, 110, 70, 130]
        new = [x * 1.05 for x in base]
        self.assertEqual(compare.verdict(base, new, 0.1, higher_better=False), "unresolved")
        far = [x + 1000 for x in base]
        self.assertEqual(compare.verdict(base, far, 0.1, higher_better=False), "worse")


class OracleCheckTest(unittest.TestCase):
    """The DuckDB oracle comparison counts a wrong answer as a failure."""

    def checks(self, rows):
        os.makedirs(os.path.join(BENCH, ".work"), exist_ok=True)
        work = tempfile.mkdtemp(dir=os.path.join(BENCH, ".work"))
        self.addCleanup(shutil.rmtree, work, True)
        import duckdb
        docs = os.path.join(work, "docs")
        os.makedirs(docs)
        duckdb.sql("SELECT * FROM (VALUES (1, 'a b'), (2, 'b c')) t(doc_id, text)") \
            .write_parquet(os.path.join(docs, "part-0.parquet"))
        os.makedirs(os.path.join(work, "oracle"))
        with open(os.path.join(work, "oracle", "checks.jsonl"), "w") as f:
            f.write(json.dumps({
                "name": "count", "tables": {"documents": docs},
                "sql": "SELECT doc_id, length(text) AS n FROM documents",
                "columns": ["n", "doc_id"], "rows": rows}) + "\n")
        return run.oracle_checks(work)

    def test_right_answer_passes(self):
        self.assertEqual(self.checks([[3, 1], [3, 2]]), (1, []))

    def test_corrupted_answer_fails(self):
        checked, failures = self.checks([[3, 1], [4, 2]])
        self.assertEqual(checked, 1)
        self.assertEqual(len(failures), 1)
        self.assertIn("first difference", failures[0])


class SpecTest(unittest.TestCase):
    def test_benchmark_json_shape(self):
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            spec = json.load(f)
        self.assertEqual(set(spec), {"command", "paths", "run_seconds", "workloads",
                                     "end_to_end", "per_layer"})
        names = [m["name"] for m in spec["end_to_end"] + spec["per_layer"]]
        self.assertEqual(len(names), len(set(names)))
        setup = [m for m in spec["end_to_end"] if m["name"] == "setup_s"]
        self.assertEqual(setup[0]["unit"], "s")
        self.assertEqual(max(m["bound"] for m in spec["end_to_end"]), setup[0]["bound"])
        for w in spec["workloads"]:
            self.assertIn(w["name"], run.WORKLOADS)


@unittest.skipIf(os.environ.get("PERFBENCH_QUICK") == "1", "PERFBENCH_QUICK=1")
class CorruptedExpectationTest(unittest.TestCase):
    """A run whose expected answers are all corrupted must not read correct."""

    def test_log_serve_counts_corrupted_expectations_as_failures(self):
        r = subprocess.run(
            [sys.executable, os.path.join(BENCH, "run.py"), "--workload", "log_serve",
             "--seed", "7", "--seconds", "1", "--trace", "0", "--corrupt-expected", "1"],
            cwd=ROOT, capture_output=True, text=True, timeout=900)
        self.assertEqual(r.returncode, 0, r.stderr[-2000:])
        last = json.loads(r.stdout.strip().splitlines()[-1])
        self.assertFalse(last["correct"])
        self.assertGreater(last["failed"], 0)
        # every checked op failed, and each failure says why
        self.assertEqual(last["failed"], last["attempted"])
        self.assertIn("FAILED ", r.stdout)


if __name__ == "__main__":
    unittest.main()
