"""Tests of the benchmark's own logic. Run from the checkout root:

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import os
import tempfile
import unittest

import duckdb

import run
import stage
import stats


class TailRule(unittest.TestCase):
    def test_needs_more_samples_than_the_margin(self):
        self.assertIsNone(stats.tail(list(range(10))))

    def test_eleven_samples_leave_ten_beyond_the_lowest(self):
        pct, value, n = stats.tail([5.0, 1.0, 9.0, 3.0, 7.0, 2.0, 8.0, 4.0, 6.0, 10.0, 11.0])
        self.assertEqual((value, n), (1.0, 11))
        self.assertAlmostEqual(pct, 100.0 / 11)

    def test_hundred_samples_give_p90(self):
        pct, value, _ = stats.tail(list(range(1, 101)))
        self.assertEqual((pct, value), (90.0, 90))

    def test_highest_percentile_with_ten_beyond(self):
        for n in range(11, 120):
            xs = list(range(n))
            _, value, _ = stats.tail(xs)
            self.assertEqual(sum(1 for x in xs if x > value), 10)


class SelfTime(unittest.TestCase):
    def test_children_overlaps_are_counted_once(self):
        self.assertEqual(stats.covered(0, 100, [(10, 30), (20, 50), (90, 120)]), 50)

    def test_self_time_is_duration_minus_child_cover(self):
        spans = [
            {"id": "op", "parent": "pass", "start_ms": 0, "end_ms": 100},
            {"id": "j1", "parent": "op", "start_ms": 10, "end_ms": 30},
            {"id": "j2", "parent": "op", "start_ms": 20, "end_ms": 50},
            {"id": "s1", "parent": "j1", "start_ms": 12, "end_ms": 18},
            {"id": "s2", "parent": "j2", "start_ms": 25, "end_ms": 50},
        ]
        own = stats.self_times(spans)
        # grandchildren do not reduce the operation's self time twice
        self.assertEqual(own["op"], 60)
        self.assertEqual(own["j1"], 14)
        self.assertEqual(own["j2"], 5)
        self.assertEqual(own["s1"], 6)

    def test_no_children_means_all_self(self):
        self.assertEqual(stats.self_times(
            [{"id": "a", "parent": None, "start_ms": 3, "end_ms": 7}])["a"], 4)


class SeedDeterminism(unittest.TestCase):
    def stage_twice(self, fn):
        with tempfile.TemporaryDirectory() as tmp:
            a, b, c = (os.path.join(tmp, x) for x in "abc")
            fn(7, a)
            fn(7, b)
            fn(8, c)
            return run.digest(a), run.digest(b), run.digest(c)

    def test_tables_are_byte_identical_for_one_seed(self):
        a, b, c = self.stage_twice(lambda s, d: stage.stage_tables(s, 0.001, d))
        self.assertEqual(a, b)
        self.assertNotEqual(a, c)

    def test_sink_inputs_are_byte_identical_for_one_seed(self):
        a, b, c = self.stage_twice(lambda s, d: stage.stage_sink(s, 0.001, 4, d))
        self.assertEqual(a, b)
        self.assertNotEqual(a, c)


class StagedInputs(unittest.TestCase):
    def test_foreign_keys_resolve(self):
        with tempfile.TemporaryDirectory() as tmp:
            stage.stage_tables(3, 0.001, tmp)
            con = duckdb.connect()
            for t in ("region", "nation", "customer", "supplier", "part", "orders", "lineitem"):
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{tmp}/{t}.parquet'")
            dangling = {
                "l_orderkey": "SELECT count(*) FROM lineitem ANTI JOIN orders ON l_orderkey = o_orderkey",
                "l_partkey": "SELECT count(*) FROM lineitem ANTI JOIN part ON l_partkey = p_partkey",
                "l_suppkey": "SELECT count(*) FROM lineitem ANTI JOIN supplier ON l_suppkey = s_suppkey",
                "o_custkey": "SELECT count(*) FROM orders ANTI JOIN customer ON o_custkey = c_custkey",
                "c_nationkey": "SELECT count(*) FROM customer ANTI JOIN nation ON c_nationkey = n_nationkey",
                "n_regionkey": "SELECT count(*) FROM nation ANTI JOIN region ON n_regionkey = r_regionkey",
            }
            for key, sql in dangling.items():
                self.assertEqual(con.sql(sql).fetchone()[0], 0, key)

    def test_changesets_address_live_rows_once_each(self):
        with tempfile.TemporaryDirectory() as tmp:
            stage.stage_sink(5, 0.002, 6, tmp)
            con = duckdb.connect()
            con.execute(f"CREATE TABLE state AS SELECT * FROM '{tmp}/orders10.parquet'")
            self.assertEqual(con.sql("SELECT count(*) FROM state WHERE o_ym IS NULL").fetchone()[0], 0)
            for i in range(6):
                cs = f"{tmp}/changes/cs_{i:03d}.parquet"
                n, keys = con.sql(f"SELECT count(*), count(DISTINCT o_orderkey) FROM '{cs}'").fetchone()
                self.assertEqual(n, keys)
                # deletes and updates name rows that exist when applied
                gone = con.sql(f"SELECT count(*) FROM '{cs}' c WHERE c.o_orderkey < "
                               "(SELECT max(o_orderkey) FROM state) AND c.o_orderkey NOT IN "
                               "(SELECT o_orderkey FROM state)").fetchone()[0]
                self.assertEqual(gone, 0)
                con.execute("CREATE OR REPLACE TABLE state AS SELECT * FROM state WHERE o_orderkey "
                            f"NOT IN (SELECT o_orderkey FROM '{cs}') UNION ALL "
                            f"SELECT * EXCLUDE (del) FROM '{cs}' WHERE NOT del")


if __name__ == "__main__":
    unittest.main()
