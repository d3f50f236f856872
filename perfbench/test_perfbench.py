"""Tests of the benchmark's own logic: the DuckDB check and the sample
arithmetic. Run with `python3 -m unittest discover perfbench`."""
import os
import statistics
import sys
import tempfile
import unittest

import duckdb
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import oracle  # noqa: E402
import run  # noqa: E402
import stats  # noqa: E402

SQL = ("SELECT n_regionkey AS region, count(*) AS nations "
       "FROM nation GROUP BY 1 ORDER BY 1")


class OracleCheckTest(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        cls.tmp = tempfile.TemporaryDirectory()
        cls.data = run.DATA

    @classmethod
    def tearDownClass(cls):
        cls.tmp.cleanup()

    def result(self, df, name="q"):
        """Writes `df` where the harness would materialize query `name`."""
        d = os.path.join(self.tmp.name, "results", name)
        os.makedirs(d, exist_ok=True)
        con = duckdb.connect()
        con.register("df", df)
        con.execute(f"COPY df TO '{os.path.join(d, 'part-0.parquet')}' (FORMAT parquet)")
        return os.path.join(self.tmp.name, "results")

    def answer(self):
        return oracle.connect(self.data).execute(SQL).fetchdf()

    def verdict(self, df, fresh=True):
        cache = os.path.join(self.tmp.name, "cache")
        return oracle.check(self.data, self.result(df), {"q": SQL}, ["q"], cache,
                            fresh=fresh)["q"]

    def test_matching_result_passes_in_any_row_order(self):
        df = self.answer()
        self.assertIsNone(self.verdict(df))
        self.assertIsNone(self.verdict(df.iloc[::-1][["nations", "region"]]))

    def test_changed_value_fails(self):
        df = self.answer()
        df.loc[2, "nations"] += 1
        self.assertIn("row", self.verdict(df))

    def test_dropped_row_fails(self):
        df = self.answer().drop(index=4)
        self.assertIn("rows 4 != oracle 5", self.verdict(df))

    def test_renamed_column_fails(self):
        df = self.answer().rename(columns={"nations": "n"})
        self.assertIn("columns", self.verdict(df))

    def test_cached_answer_is_used_and_recomputed_on_request(self):
        df = self.answer()
        self.assertIsNone(self.verdict(df, fresh=True))
        key_files = os.listdir(os.path.join(self.tmp.name, "cache"))
        self.assertEqual(len(key_files), 1)
        # a tampered cache entry is read back unless the answer is recomputed
        path = os.path.join(self.tmp.name, "cache", key_files[0])
        bad = df.copy()
        bad.loc[0, "nations"] = 99
        bad.to_pickle(path)
        self.assertIsNotNone(self.verdict(df, fresh=False))
        self.assertIsNone(self.verdict(df, fresh=True))

    def test_missing_result_fails(self):
        cache = os.path.join(self.tmp.name, "cache")
        v = oracle.check(self.data, os.path.join(self.tmp.name, "none"),
                         {"q": SQL}, ["q"], cache)["q"]
        self.assertEqual(v, "no materialized result")


class StatsTest(unittest.TestCase):
    def test_median(self):
        self.assertEqual(stats.median([3.0, 1.0, 2.0]), 2.0)
        self.assertEqual(stats.median([4.0, 1.0, 3.0, 2.0]), 2.5)

    def test_quartiles_match_statistics_quantiles(self):
        values = [1.0, 2.0, 3.0, 4.0, 5.0, 6.0, 7.0, 8.0, 9.0, 10.0]
        # exclusive method: positions (n+1)p = 2.75, 5.5, 8.25
        self.assertEqual(stats.quartiles(values), (2.75, 5.5, 8.25))
        self.assertEqual(stats.quartiles(values), tuple(statistics.quantiles(values, n=4)))
        self.assertAlmostEqual(stats.spread(values), (8.25 - 2.75) / 5.5)

    def test_min_sum_takes_each_query_fastest_sample(self):
        samples = {"a": [0.5, 0.25, 0.75], "b": [2.0], "failed": []}
        self.assertEqual(stats.min_sum(samples), 2.25)

    H = {"setup_s": 2.0, "warm_passes_s": [9.0, 5.0],
         "passes": [{"wall_s": 4.0, "task_cpu_s": 6.0, "jobs": 10},
                    {"wall_s": 3.0, "task_cpu_s": 8.0, "jobs": 12},
                    {"wall_s": 5.0, "task_cpu_s": 7.0, "jobs": 11}],
         "samples": {"a": [1.0, 0.5, 0.75], "b": [2.0, 1.5, 1.75], "c": []},
         "failures": {"c": "boom"}, "live_heap_mb": 100.0}

    def test_mismatch_fails_in_every_pass_leaves_min_sum_and_is_incorrect(self):
        failed, correct, m = run.summarize(self.H, ["a", "b", "c"],
                                           {"a": None, "b": "rows 1 != 2"})
        self.assertEqual(failed, 3 * 2)
        self.assertFalse(correct)
        self.assertEqual(m["min_sum_s"], 0.5)
        self.assertEqual(m["setup_s"], 2.0)
        self.assertEqual(m["cold_pass_s"], 9.0)
        self.assertEqual(m["pass_s"], 4.0)
        self.assertEqual(m["task_cpu_s"], 7.0)
        self.assertEqual(m["jobs"], 11)

    def test_query_that_throws_fails_but_leaves_the_others_correct(self):
        failed, correct, m = run.summarize(self.H, ["a", "b", "c"],
                                           {"a": None, "b": None, "c": "no materialized result"})
        self.assertEqual(failed, 3 * 1)
        self.assertTrue(correct)
        self.assertEqual(m["min_sum_s"], 0.5 + 1.5)


if __name__ == "__main__":
    unittest.main()
