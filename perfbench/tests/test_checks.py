"""The benchmark's own checks must bite: a wrong answer is counted in
error_rate, never passed. Run from the repository root:

  python3 -m unittest discover -s perfbench/tests -v

The two JVM tests build the program and take about a minute each.
"""
import json
import shutil
import subprocess
import sys
import tempfile
import unittest
from pathlib import Path

HERE = Path(__file__).resolve().parent
BENCH = HERE.parent
ROOT = BENCH.parent
sys.path.insert(0, str(BENCH))

import layer_diff  # noqa: E402
import oracle  # noqa: E402
import run  # noqa: E402


def last_json(stdout):
    return json.loads(stdout.strip().splitlines()[-1])


def bench(*args):
    return subprocess.run([sys.executable, str(BENCH / "run.py"), *args], cwd=ROOT,
                          stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True, timeout=600)


class OracleRule(unittest.TestCase):
    def test_compare_names_the_first_difference(self):
        cols, types = ["a", "b"], ["BIGINT", "VARCHAR"]
        rows = [(1, "x"), (2, "y")]
        self.assertEqual(oracle.compare(rows, cols, types, rows, cols, types), "")
        self.assertIn("row 1 col b", oracle.compare([(1, "x"), (2, "z")], cols, types, rows, cols, types))
        self.assertIn("row counts", oracle.compare(rows[:1], cols, types, rows, cols, types))
        self.assertIn("type", oracle.compare(rows, cols, ["HUGEINT", "VARCHAR"], rows, cols, types))
        self.assertIn("row 0 col a", oracle.compare([(1.0000001, "x")], cols, types, [(1.0, "x")], cols, types))

    def test_check_fails_a_result_that_differs_from_its_oracle(self):
        import duckdb
        sql = "SELECT r_regionkey, r_name FROM region ORDER BY r_regionkey"
        with tempfile.TemporaryDirectory() as d:
            con = duckdb.connect()
            con.execute(f"CREATE VIEW region AS SELECT * FROM read_parquet('{run.DATA}/region.parquet')")
            for q, body in [("same", sql),
                            ("changed", "SELECT r_regionkey, r_name || '!' AS r_name FROM region ORDER BY 1"),
                            ("missing", None)]:
                if body:
                    Path(d, "results", q).mkdir(parents=True)
                    con.execute(f"COPY ({body}) TO '{d}/results/{q}/part-0.parquet' (FORMAT parquet)")
            Path(d, "oracle_sql.json").write_text(json.dumps({"same": sql, "changed": sql, "missing": sql}))
            bad = oracle.check(str(run.DATA), d)
        self.assertEqual(sorted(bad), ["changed", "missing"])


class LayerDiff(unittest.TestCase):
    def test_prints_each_metric_with_its_difference(self):
        with tempfile.TemporaryDirectory() as d:
            for side, v in [("a", 2.0), ("b", 3.0)]:
                Path(d, side).mkdir()
                Path(d, side, "kv_core.trace.json").write_text(json.dumps(
                    {"workload": "kv_core", "metrics": {"wall_s": v}, "layers": {"core.put_s": v / 2}}))
            rows = layer_diff.diff_rows(layer_diff.load(Path(d, "a"))["kv_core"],
                                        layer_diff.load(Path(d, "b"))["kv_core"])
        self.assertIn(("e2e.wall_s", "2.0000", "3.0000", "1.0000", "+50.0%"), rows)
        self.assertIn(("core.put_s", "1.0000", "1.5000", "0.5000", "+50.0%"), rows)


class Hermetic(unittest.TestCase):
    def test_refuses_to_run_without_the_program(self):
        with tempfile.TemporaryDirectory() as d:
            shutil.copy(ROOT / "BENCHMARK.json", d)
            shutil.copytree(BENCH, Path(d, "perfbench"), ignore=shutil.ignore_patterns("__pycache__"))
            r = subprocess.run([sys.executable, "perfbench/run.py", "--workload", "kv_core", "--seed", "1",
                                "--seconds", "1", "--trace", "0"], cwd=d, stdout=subprocess.PIPE,
                               stderr=subprocess.STDOUT, text=True, timeout=180)
        self.assertNotEqual(r.returncode, 0)
        self.assertNotIn('"correct"', r.stdout)


class FaultsCountAsFailures(unittest.TestCase):
    def test_wrong_kv_golden_is_a_failure(self):
        r = bench("--workload", "kv_core", "--seed", "5", "--seconds", "1", "--trace", "0", "--fault", "golden")
        self.assertEqual(r.returncode, 0, r.stdout[-3000:])
        res = last_json(r.stdout)
        self.assertFalse(res["correct"])
        self.assertGreater(res["failed"], 0)
        self.assertIn("error_rate", r.stdout)

    def test_oracle_mismatch_is_a_failure(self):
        r = bench("--workload", "inventory_relational", "--seed", "5", "--seconds", "1", "--trace", "0",
                  "--fault", "oracle")
        self.assertEqual(r.returncode, 0, r.stdout[-3000:])
        res = last_json(r.stdout)
        self.assertFalse(res["correct"])
        self.assertEqual(res["failed"], 1)
        self.assertIn("ORACLE MISMATCH", r.stdout)
        self.assertRegex(r.stdout, r"partition guard ok: inventory_relational=\d+ inventory_similarity=\d+")


if __name__ == "__main__":
    unittest.main()
