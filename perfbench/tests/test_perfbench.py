"""Tests of the benchmark's own logic (no JVM, no engine).

    python3 -m unittest discover -s perfbench/tests
"""
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb  # noqa: E402

import metrics  # noqa: E402
import oracle  # noqa: E402
import stats  # noqa: E402
import workloads  # noqa: E402


class PercentileRule(unittest.TestCase):
    def test_nearest_rank(self):
        xs = list(range(1, 101))
        self.assertEqual(stats.percentile(xs, 50), 50)
        self.assertEqual(stats.percentile(xs, 90), 90)
        self.assertEqual(stats.percentile([7], 90), 7)

    def test_beta_cdf(self):
        self.assertAlmostEqual(stats.beta_cdf(0.3, 1, 1), 0.3)
        self.assertAlmostEqual(stats.beta_cdf(0.5, 2.5, 2.5), 0.5)
        # I_x(2, 3) = 1 - (1 - x)^3 (1 + 3x)
        self.assertAlmostEqual(stats.beta_cdf(0.2, 2, 3), 1 - 0.8 ** 3 * 1.6)
        self.assertAlmostEqual(stats.beta_cdf(0.9, 17.1, 1.9) + stats.beta_cdf(0.1, 1.9, 17.1), 1)

    def test_harrell_davis(self):
        self.assertEqual(stats.harrell_davis([7], 90), 7)
        # symmetric samples: the 50th is their centre
        self.assertAlmostEqual(stats.harrell_davis([1, 2, 3, 4, 10, 16, 17, 18, 19], 50), 10)
        xs = list(range(1, 101))
        self.assertAlmostEqual(stats.harrell_davis(xs, 90), 90.5, places=3)
        # a swap of two near-equal samples moves it little; a single order
        # statistic jumps between them
        a = [100, 200, 300, 390, 410, 500, 600, 700, 800]
        b = [100, 200, 300, 390, 500, 410, 600, 700, 800]
        self.assertEqual(stats.harrell_davis(a, 50), stats.harrell_davis(b, 50))
        self.assertLess(abs(stats.harrell_davis(a, 50) - 410), 50)

    def test_samples_beyond(self):
        self.assertEqual(stats.samples_beyond(100, 90), 10)
        self.assertEqual(stats.samples_beyond(99, 90), 9)

    def test_highest_percentile_with_ten_beyond(self):
        self.assertEqual(stats.tail_percentile(1000), 99)
        self.assertEqual(stats.tail_percentile(100), 90)
        self.assertEqual(stats.tail_percentile(99), 75)
        self.assertEqual(stats.tail_percentile(40), 75)
        self.assertEqual(stats.tail_percentile(20), 50)
        self.assertIsNone(stats.tail_percentile(19))

    def test_median(self):
        self.assertEqual(stats.median([3, 1, 2]), 2)
        self.assertEqual(stats.median([4, 1, 2, 3]), 2.5)

    def test_latency_percentiles_over_kind_medians(self):
        def op(name, ms):
            return {"kind": "query", "name": name, "phase": "timed", "start_ns": 0,
                    "end_ns": int(ms * 1e6)}
        # two passes of three kinds; b's slow outlier is outvoted by c's
        ops = [op("a", 10), op("b", 100), op("c", 40),
               op("a", 12), op("b", 20), op("c", 44)]
        self.assertEqual(sorted(metrics.kind_medians(ops)), [11, 42, 60])
        run = {"ops": ops, "window_s": 2.0, "heap_mb": 1.0,
               "setups": [{"total_s": 3.0}, {"total_s": 1.0}]}
        m = metrics.end_to_end(run)
        self.assertAlmostEqual(m["latency_p50_ms"]["value"],
                               stats.harrell_davis([11, 42, 60], 50))
        self.assertAlmostEqual(m["latency_p90_ms"]["value"],
                               stats.harrell_davis([11, 42, 60], 90))
        self.assertLess(m["latency_p50_ms"]["value"], m["latency_p90_ms"]["value"])
        self.assertEqual(m["latency_p90_ms"]["samples"], 6)
        self.assertEqual(m["latency_p90_ms"]["all_ops_value"], 100)
        self.assertEqual(m["throughput_ops_s"]["value"], 3.0)
        self.assertEqual(m["setup_s"]["value"], 2.0)


class SelfTime(unittest.TestCase):
    def span(self, i, parent, layer, start, end):
        return {"id": i, "parent": parent, "layer": layer, "start": start, "end": end}

    def test_children_are_subtracted(self):
        spans = [self.span(0, -1, "client", 0, 100),
                 self.span(1, 0, "queries", 0, 30),
                 self.span(2, 1, "plans", 10, 25),
                 self.span(3, 0, "exec", 30, 95),
                 self.span(4, 3, "plans", 30, 40)]
        own = stats.self_times(spans)
        self.assertEqual(own, {0: 5, 1: 15, 2: 15, 3: 55, 4: 10})
        layers = stats.layer_self_times(spans)
        self.assertEqual(layers, {"client": 5, "queries": 15, "plans": 25, "exec": 55})
        self.assertEqual(sum(layers.values()), 100)

    def test_overlapping_children_count_once(self):
        spans = [self.span(0, -1, "a", 0, 100),
                 self.span(1, 0, "b", 10, 50), self.span(2, 0, "b", 40, 60)]
        self.assertEqual(stats.self_times(spans)[0], 50)

    def test_child_outside_parent_is_clipped(self):
        # tracker phases carry millisecond timestamps and may overhang
        spans = [self.span(0, -1, "a", 10, 20), self.span(1, 0, "b", 5, 15)]
        self.assertEqual(stats.self_times(spans)[0], 5)


class CanonicalCompare(unittest.TestCase):
    def test_column_and_row_order_do_not_matter(self):
        a = (["b", "a"], [(2, "x"), (1, "y")])
        b = (["a", "b"], [("y", 1), ("x", 2)])
        self.assertIsNone(oracle.compare(a, b))

    def test_exact_cells(self):
        a = (["v"], [(0.1 + 0.2,)])
        b = (["v"], [(0.3,)])
        self.assertIn("mismatch", oracle.compare(a, b))

    def test_nan_is_null_and_rows_counted(self):
        self.assertIsNone(oracle.compare((["v"], [(float("nan"),)]), (["v"], [(None,)])))
        self.assertIn("rows", oracle.compare((["v"], [(1,)]), (["v"], [(1,), (1,)])))

    def test_column_names_must_match(self):
        self.assertIn("columns", oracle.compare((["v"], [(1,)]), (["w"], [(1,)])))

    def test_engine_strings_match_oracle_values(self):
        # etl read-backs arrive as rendered strings
        self.assertIsNone(oracle.compare((["n", "s"], [("3", "abc")]), (["n", "s"], [(3, "abc")])))

    def test_cached_canonical_answer_compares_the_same(self):
        # oracle answers are kept in canonical form; canonical is idempotent
        ref = (["b", "a"], [(2.5, None), (1, "y")])
        mine = (["a", "b"], [("y", 1), (None, 2.5)])
        kept = oracle.canonical(*ref)
        self.assertEqual(oracle.canonical(*kept), kept)
        self.assertIsNone(oracle.compare(mine, kept))
        self.assertIn("mismatch", oracle.compare((["a", "b"], [("y", 1), (None, 2.4)]), kept))


class EtlReplay(unittest.TestCase):
    def replay(self):
        con = duckdb.connect()
        con.execute("CREATE TABLE src AS SELECT * FROM (VALUES (1, 'x'), (2, 'yy')) t(k, s)")
        return oracle.EtlReplay(con, ["CREATE TABLE t AS SELECT CAST(k AS BIGINT) AS k, s FROM src"])

    def test_changed_bytes_count_new_versions_and_removed_rows(self):
        r = self.replay()
        # an update rewrites row 2 (8 + 3 bytes); a delete removes row 1 (8 + 1)
        self.assertEqual(r.apply({"duck": ["UPDATE t SET s = 'zzz' WHERE k = 2"], "target": "t"}), 11)
        self.assertEqual(r.apply({"duck": ["DELETE FROM t WHERE k = 1"], "target": "t"}), 9)
        self.assertEqual(r.apply({"duck": ["INSERT INTO t VALUES (7, 'ab')"], "target": "t"}), 10)
        self.assertEqual(r.apply({"duck": ["UPDATE t SET s = s WHERE k = 7"], "target": "t"}), 0)

    def test_read_back_is_checked(self):
        r = self.replay()
        r.apply({"duck": ["DELETE FROM t WHERE k = 1"], "target": "t"})
        op = {"readback": "SELECT count(*) AS n FROM t"}
        self.assertIsNone(r.check(op, ["n"], [["1"]]))
        self.assertIn("mismatch", r.check(op, ["n"], [["2"]]))


class SeededSequences(unittest.TestCase):
    def test_analytic_same_seed_same_sequence(self):
        a = workloads.query_passes(list(workloads.ANALYTIC), 7, 3)
        self.assertEqual(a, workloads.query_passes(list(workloads.ANALYTIC), 7, 3))
        for p in a:
            self.assertEqual(sorted(op["name"] for op in p), sorted(workloads.ANALYTIC))

    def test_seeds_differ(self):
        orders = {tuple(op["name"] for p in workloads.query_passes(
            list(workloads.ANALYTIC), s, 2) for op in p) for s in range(5)}
        self.assertEqual(len(orders), 5)

    def test_etl_same_seed_same_statements(self):
        a = workloads.etl_passes(5, 20, "/w")
        self.assertEqual(a, workloads.etl_passes(5, 20, "/w"))
        self.assertNotEqual(a, workloads.etl_passes(6, 20, "/w"))
        for p in a:
            self.assertEqual(sorted(op["kind"] for op in p), sorted(workloads.ETL_KINDS))

    def test_set_default_is_followed_by_an_insert_that_takes_it(self):
        ops = [op for p in workloads.etl_passes(4, 10, "/w") for op in p
               if "SET DEFAULT" in op["sql"]]
        self.assertTrue(ops)
        for op in ops:
            self.assertEqual(len(op["after"]), 1)
            self.assertTrue(op["after"][0].startswith("INSERT INTO etl_alt"))
            self.assertEqual(op["duck"], [op["sql"]] + op["after"])

    def test_etl_alters_stay_valid(self):
        has_x = False
        for p in workloads.etl_passes(9, 50, "/w"):
            for op in p:
                if "ADD COLUMN x" in op["sql"]:
                    self.assertFalse(has_x)
                    has_x = True
                elif "COLUMN x" in op["sql"]:
                    self.assertTrue(has_x)
                    has_x = "DROP" not in op["sql"]

    def test_etl_costs_do_not_depend_on_the_seed(self):
        # the seed moves parameters, not statement kinds or copy formats
        def shape(seed):
            out = []
            for p in workloads.etl_passes(seed, 6, "/w"):
                for op in p:
                    if op["kind"] == "alter":
                        out.append(op["sql"].split()[3])  # ADD / RENAME / ALTER / DROP
                    elif op["kind"] == "copy":
                        out.append(op["sql"].split("'")[1].rsplit(".", 1)[1])
            return sorted(out)
        self.assertEqual(shape(1), shape(2))


if __name__ == "__main__":
    unittest.main()
