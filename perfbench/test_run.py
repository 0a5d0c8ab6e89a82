"""Tests of the benchmark's Python side: the declared metrics, the cube
oracle comparison and the reading of the query checker's report. Run from the repository root:

    python3 -m unittest perfbench/test_run.py
"""
import json
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import datagen  # noqa: E402
import run  # noqa: E402


class DeclaredMetrics(unittest.TestCase):
    def setUp(self):
        with open(os.path.join(run.ROOT, "BENCHMARK.json")) as fh:
            self.doc = json.load(fh)

    def test_end_to_end_metrics_match_the_runner(self):
        self.assertEqual([(m["name"], m["unit"]) for m in self.doc["end_to_end"]],
                         run.END_TO_END)

    def test_per_layer_metrics_match_the_runner(self):
        self.assertEqual([(m["name"], m["unit"]) for m in self.doc["per_layer"]],
                         run.PER_LAYER)

    def test_workloads_match_the_runner(self):
        self.assertEqual([w["name"] for w in self.doc["workloads"]], run.WORKLOADS)


class CubeOracle(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        cls.tmp = tempfile.TemporaryDirectory()
        datagen.generate(cls.tmp.name, 0.001, 42)
        cls.con = run.duck(cls.tmp.name)

    @classmethod
    def tearDownClass(cls):
        cls.tmp.cleanup()

    def rec(self, rows, tol=0.01):
        return {"sql": "SELECT lang, round(sum(n_chars) / 7.0, 2) AS v FROM documents "
                       "GROUP BY 1",
                "columns": [["lang", "string", 0.0], ["v", "double", tol]],
                "rows": rows}

    def truth(self):
        return self.con.execute("SELECT lang, round(sum(n_chars) / 7.0, 2) FROM documents "
                                "GROUP BY 1").fetchall()

    def test_identical_answer_passes_in_any_row_order(self):
        rows = [list(r) for r in reversed(self.truth())]
        self.assertIsNone(run.check_cube(self.con, self.rec(rows)))

    def test_one_unit_in_the_last_rounded_place_passes(self):
        rows = [[k, v + 0.01] for k, v in self.truth()]
        self.assertIsNone(run.check_cube(self.con, self.rec(rows)))

    def test_two_units_fail(self):
        rows = [[k, v + 0.02] for k, v in self.truth()]
        self.assertIsNotNone(run.check_cube(self.con, self.rec(rows)))

    def test_unrounded_column_must_match_exactly(self):
        rows = [[k, v + 1e-6] for k, v in self.truth()]
        self.assertIsNotNone(run.check_cube(self.con, self.rec(rows, tol=0.0)))

    def test_missing_row_and_wrong_type_fail(self):
        self.assertIn("rows", run.check_cube(self.con, self.rec(
            [list(r) for r in self.truth()[1:]])))
        bad = self.rec([list(r) for r in self.truth()])
        bad["columns"][1][1] = "bigint"
        self.assertIn("types", run.check_cube(self.con, bad))


class QueryCheckReport(unittest.TestCase):
    def test_ok_and_failed_answers_are_read_by_name(self):
        out = ("ok   p0__q24_langid (12 rows)\n"
               "FAIL p3__q26_dedup: rows 4 vs 5\n"
               "1/2 ok\n")
        self.assertEqual(run.parse_check(out),
                         {"p0__q24_langid": "ok", "p3__q26_dedup": "rows 4 vs 5"})


class Datagen(unittest.TestCase):
    def test_same_seed_same_tables(self):
        with tempfile.TemporaryDirectory() as a, tempfile.TemporaryDirectory() as b:
            datagen.generate(a, 0.001, 5)
            datagen.generate(b, 0.001, 5)
            for t in sorted(os.listdir(a)):
                with open(os.path.join(a, t), "rb") as fa, open(os.path.join(b, t), "rb") as fb:
                    self.assertEqual(fa.read(), fb.read(), t)


if __name__ == "__main__":
    unittest.main()
