"""Self-tests of the benchmark's Python side (no JVM needed):

    python3 -m unittest discover -s perfbench/tests
"""
import json
import os
import random
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
PERFBENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(PERFBENCH)
sys.path.insert(0, PERFBENCH)

import diff  # noqa: E402
import gen  # noqa: E402
import oracle  # noqa: E402
import run  # noqa: E402
import stats  # noqa: E402


def temp_dir():
    os.makedirs(os.path.join(ROOT, ".bench_build"), exist_ok=True)
    return tempfile.TemporaryDirectory(dir=os.path.join(ROOT, ".bench_build"))


class SeedTest(unittest.TestCase):
    def test_same_seed_same_inputs(self):
        for name, a in gen.make_tables(7, 0.001).items():
            self.assertTrue(a.equals(gen.make_tables(7, 0.001)[name]), name)
        self.assertEqual(gen.td_session_ops(7, 200, 3), gen.td_session_ops(7, 200, 3))
        self.assertEqual(gen.ingest_ops(7, 30, 6, 4), gen.ingest_ops(7, 30, 6, 4))
        self.assertTrue(gen.ingest_batches(7, 3, 50, 6).equals(gen.ingest_batches(7, 3, 50, 6)))

    def test_other_seed_other_inputs(self):
        a, b = gen.make_tables(7, 0.001), gen.make_tables(8, 0.001)
        for name in ["orders", "lineitem", "events", "documents", "embeddings"]:
            self.assertFalse(a[name].equals(b[name]), name)
        self.assertNotEqual(gen.td_session_ops(7, 200, 3), gen.td_session_ops(8, 200, 3))
        self.assertNotEqual(gen.ingest_ops(7, 30, 6, 4), gen.ingest_ops(8, 30, 6, 4))

    def test_session_refetches_respect_the_live_window(self):
        ops = gen.td_session_ops(3, 500, 3)
        kinds = {o["kind"] for o in ops}
        self.assertTrue({"query", "issue", "requery", "job", "table", "jobs"} <= kinds)
        jobs = 0
        for o in ops:
            if o["kind"] in ("query", "issue", "requery"):
                jobs = o["job"]
            if o["kind"] == "job":  # a re-served id must still be cached
                self.assertGreater(ops[o["ref"]]["job"], jobs - gen.MAX_LIVE_JOBS)
        live = [o["live"] for o in ops if o["kind"] == "requery"]
        self.assertIn(True, live)
        self.assertIn(False, live)


class TailTest(unittest.TestCase):
    def test_highest_percentile_with_ten_beyond(self):
        xs = list(range(1, 101))
        random.Random(1).shuffle(xs)
        p, v, n = stats.tail(xs)
        self.assertEqual((p, v, n), (0.9, 90, 100))
        self.assertEqual(sum(x > v for x in xs), 10)

    def test_few_samples_lower_percentile_and_count(self):
        p, v, n = stats.tail(list(range(1, 31)))
        self.assertEqual((v, n), (20, 30))
        self.assertAlmostEqual(p, 20 / 30)
        self.assertIsNone(stats.tail(list(range(10))))
        self.assertIsNone(stats.tail(list(range(21))))  # its 11th value is the median
        self.assertEqual(stats.tail(list(range(22)))[2], 22)

    def test_spread_is_iqr_over_median(self):
        xs = [1.0, 2.0, 3.0, 4.0, 5.0]
        q1, m, q3 = stats.quartiles(xs)
        self.assertAlmostEqual(stats.spread(xs), (q3 - q1) / m)


class CheckerTest(unittest.TestCase):
    def setUp(self):
        self.tmp = temp_dir()
        gen.write_tables(self.tmp.name, gen.make_tables(5, 0.001, ["orders", "events"]))
        self.checker = oracle.Checker(
            {t: f"{self.tmp.name}/{t}.parquet" for t in ["orders", "events"]})
        self.sql = "SELECT o_orderstatus, COUNT(*) AS n, SUM(o_totalprice) AS t " \
                   "FROM orders GROUP BY o_orderstatus"

    def tearDown(self):
        self.tmp.cleanup()

    def test_accepts_the_right_answer_in_any_order(self):
        rows = self.checker.con.execute(self.sql).fetchall()
        rows.reverse()
        good = {"rows": len(rows), "hash": oracle.hash_rows(rows)}
        self.assertIsNone(self.checker.check_rows(good, self.sql))

    def test_rejects_a_wrong_answer(self):
        rows = self.checker.con.execute(self.sql).fetchall()
        wrong = [(rows[0][0], rows[0][1] + 1, rows[0][2])] + rows[1:]
        bad = {"rows": len(wrong), "hash": oracle.hash_rows(wrong)}
        self.assertEqual(self.checker.check_rows(bad, self.sql), "hash differs")
        short = {"rows": len(rows) - 1, "hash": oracle.hash_rows(rows[1:])}
        self.assertIn("rows", self.checker.check_rows(short, self.sql))
        self.assertIn("Boom", self.checker.check_rows({"err": "Boom"}, self.sql))

    def test_rejects_a_wrong_registry_answer(self):
        out = os.path.join(self.tmp.name, "out")
        os.makedirs(out)
        sql = "SELECT o_orderstatus, COUNT(*) AS n FROM orders GROUP BY 1"
        c = self.checker.con
        c.execute(f"COPY ({sql}) TO '{out}/a.parquet' (FORMAT PARQUET)")
        self.assertIsNone(oracle.compare_key(c, sql, out))
        c.execute(f"COPY (SELECT o_orderstatus, n + 1 AS n FROM ({sql})) "
                  f"TO '{out}/a.parquet' (FORMAT PARQUET)")
        self.assertEqual(oracle.compare_key(c, sql, out), "values differ")

    def test_canonical_values(self):
        self.assertEqual(oracle.canon(-0.0), "0.0000")
        self.assertEqual(oracle.canon(0.00005), "0.0001")  # binary value is above the tie
        self.assertEqual(oracle.canon(2.5), "2.5000")
        self.assertEqual(oracle.canon(None), "\\N")
        self.assertEqual(oracle.canon(True), "true")
        self.assertEqual(oracle.canon(12), "12")


class MetricsTest(unittest.TestCase):
    def test_benchmark_json_names_what_the_runner_reports(self):
        with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
            bench = json.load(fh)
        self.assertEqual([m["name"] for m in bench["end_to_end"]], list(run.END_TO_END))
        self.assertEqual({m["name"]: m["unit"] for m in bench["per_layer"]}, run.PER_LAYER)
        self.assertEqual({w["name"] for w in bench["workloads"]}, set(run.WORKLOADS))

    def test_self_time_subtracts_covered_children(self):
        spans = [
            {"id": 0, "name": "op.query", "start_ns": 0, "end_ns": 100, "parent": -1},
            {"id": 1, "name": "td.read_td_query", "start_ns": 0, "end_ns": 60, "parent": 0},
            {"id": 2, "name": "planning.analysis", "start_ns": 10, "end_ns": 30, "parent": 1},
            {"id": 3, "name": "planning.parsing", "start_ns": 20, "end_ns": 40, "parent": 1},
            {"id": 4, "name": "exec.collect", "start_ns": 60, "end_ns": 100, "parent": 0},
        ]
        self.assertEqual(run.self_times(spans),
                         {"client": 0, "td": 30, "planning": 40, "exec": 40})


class DiffTest(unittest.TestCase):
    def rec(self, value, nproc=4):
        return {"workload": "td_session", "trace": 0, "failed": 0,
                "end_to_end": {"op_p50_s": {"value": value}},
                "fingerprint": {"nproc": nproc, "mem_total_kb": 1, "driver_heap": "3g",
                                "jdk": "17", "scala": "2.13", "spark": "4.1",
                                "shuffle_partitions": 4, "config": {}}}

    def test_refuses_other_hosts(self):
        self.assertIsNone(diff.check_same_host([self.rec(1.0)], [self.rec(1.0)]))
        self.assertIn("nproc", diff.check_same_host([self.rec(1.0)], [self.rec(1.0, nproc=32)]))

    def test_flags_by_bound(self):
        base = [1.0, 1.01, 0.99, 1.02, 0.98]
        self.assertEqual(diff.verdict(base, [1.3, 1.31, 1.29], 0.1, "lower")[1], "REGRESSION")
        self.assertEqual(diff.verdict(base, [0.7, 0.71, 0.69], 0.1, "lower")[1], "improved")
        self.assertEqual(diff.verdict(base, [1.01, 1.0, 0.99], 0.1, "lower")[1], "ok")
        self.assertEqual(diff.verdict(base, [1.3, 1.31], 0.1, "higher")[1], "improved")


if __name__ == "__main__":
    unittest.main()
