#!/usr/bin/env python3
"""Tests of the benchmark's own accounting: python3 perfbench/test_bench.py

The closed loop itself (a throwing op is recorded as failed; seeded,
whole-round order) is pinned by src/test/scala/graftbench/LoopSpec.scala
(`sbt test` in this directory).
"""
import os
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import check  # noqa: E402
import metrics  # noqa: E402

DATA = os.path.join(HERE, "data", "sf0.01")


def op(name, start_s, end_s, ok=True, error="", rows=1, path=None, oracle="SELECT 42 AS x",
       mode="exact", expect=-1):
    c = {"op": name, "path": path, "oracle": oracle, "mode": mode, "rows": expect} if path else None
    return {"id": f"c0-r0-{name}", "client": 0, "round": 0, "name": name, "ok": ok, "error": error,
            "start_us": start_s * 1e6, "end_us": end_s * 1e6, "rows": rows, "tags": {}, "check": c}


class FailuresAreFailures(unittest.TestCase):
    def setUp(self):
        import duckdb
        self.tmp = tempfile.TemporaryDirectory()
        self.dirs = {}
        con = duckdb.connect()
        for name, sql in {"right": "SELECT 42 AS x", "wrong": "SELECT 41 AS x",
                          "rows": "SELECT * FROM (VALUES (1), (2), (3)) t(x)",
                          "stray": "SELECT * FROM (VALUES (1), (9)) t(x)"}.items():
            d = os.path.join(self.tmp.name, name)
            os.makedirs(d)
            con.execute(f"COPY ({sql}) TO '{d}/part-0.parquet' (FORMAT parquet)")
            self.dirs[name] = d

    def tearDown(self):
        self.tmp.cleanup()

    def test_throwing_and_wrong_result_ops_fail_and_give_no_latency(self):
        run = {"loop_start_us": 0, "steps": [], "extra": {}, "checks": [], "ops": [
            op("good", 0, 1, path=self.dirs["right"]),
            op("boom", 1, 1.1, ok=False, error="IllegalStateException: deliberate", rows=0),
            op("wrong", 1.1, 4, path=self.dirs["wrong"])]}
        n_checks, failures = check.apply(run, DATA)
        self.assertEqual(n_checks, 2)
        self.assertEqual([f[0] for f in failures], ["wrong"])
        self.assertEqual(sorted(o["name"] for o in run["ops"] if not o["ok"]), ["boom", "wrong"])
        e2e = metrics.end_to_end(run, launch_us=-5e6)
        self.assertEqual(metrics.latencies(run), [1.0])  # only the good op is a sample
        self.assertEqual(e2e["latency_p50_s"][0], 1.0)
        self.assertEqual(e2e["ops_per_s"][0], 1 / 4.0)   # one completed op in 4 s of wall
        self.assertEqual(e2e["setup_s"][0], 5.0)

    def test_a_wrong_warm_up_output_fails_every_timed_op_of_that_name(self):
        run = {"loop_start_us": 0, "steps": [], "extra": {}, "ops": [
            op("q", 0, 1, rows=-1), op("q", 1, 2, rows=-1), op("p", 2, 3, rows=-1)],
            "checks": [{"op": "q", "path": self.dirs["wrong"], "oracle": "SELECT 42 AS x"},
                       {"op": "p", "path": self.dirs["rows"],
                        "oracle": "SELECT * FROM (VALUES (3), (2), (1)) t(x)"}]}
        _, failures = check.apply(run, DATA)
        self.assertEqual([f[0] for f in failures], ["q"])
        self.assertEqual([o["ok"] for o in run["ops"]], [False, False, True])
        self.assertEqual(run["ops"][2]["rows"], 3)  # rows of a batch op come from its check

    def test_subset_checks_take_any_rows_of_the_oracle(self):
        oracle = check.Oracle(DATA)
        every = "SELECT * FROM (VALUES (1), (2), (3), (4)) t(x)"
        ok = {"path": self.dirs["rows"], "oracle": every, "mode": "subset", "rows": 3}
        self.assertTrue(oracle.verify(ok)[0])
        self.assertFalse(oracle.verify(dict(ok, rows=2))[0])
        self.assertFalse(oracle.verify(dict(ok, path=self.dirs["stray"], rows=2))[0])

    def test_a_missing_output_is_a_wrong_result(self):
        ok, _, why = check.Oracle(DATA).verify(
            {"path": os.path.join(self.tmp.name, "absent"), "oracle": "SELECT 1 AS x"})
        self.assertFalse(ok)
        self.assertIn("output", why)


class SelfTime(unittest.TestCase):
    def test_self_time_subtracts_the_union_of_children(self):
        spans = [{"id": 1, "parent": 0, "start_us": 0, "end_us": 100},
                 {"id": 2, "parent": 1, "start_us": 10, "end_us": 40},
                 {"id": 3, "parent": 1, "start_us": 30, "end_us": 60},
                 {"id": 4, "parent": 1, "start_us": 90, "end_us": 130}]
        selfs = metrics.self_times(spans)
        self.assertEqual(selfs[1], 100 - 50 - 10)
        self.assertEqual(selfs[2], 30)


if __name__ == "__main__":
    unittest.main()
