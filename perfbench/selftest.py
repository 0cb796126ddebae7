#!/usr/bin/env python3
"""Self-test of the benchmark's checks (no Spark needed, a few seconds):

    python3 perfbench/selftest.py          # gate and output checks
    python3 perfbench/selftest.py --live   # also runs every workload briefly

It shows that the correctness gate catches a perturbed query result
(value, order, dtype, row count) and a stream table with one row
dropped or duplicated, that BENCHMARK.json keeps the benchmark contract,
and that the result line carries every metric with its unit. `--live`
runs each workload for 2 seconds through run.py and checks its real
result line the same way.
"""
import json
import os
import re
import shutil
import subprocess
import sys
import tempfile
import unittest

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import duckdb  # noqa: E402

import gate  # noqa: E402
import run  # noqa: E402

ORACLE = """SELECT * FROM (VALUES
    (1::BIGINT, 'a', 1.5::DOUBLE, TIMESTAMP '2024-01-01 00:00:01'),
    (2::BIGINT, 'b', 2.25::DOUBLE, TIMESTAMP '2024-01-01 00:00:02'),
    (3::BIGINT, 'c', 3.125::DOUBLE, TIMESTAMP '2024-01-01 00:00:03'))
  AS t(id, name, score, ts) ORDER BY id"""
EVENTS = """SELECT i::BIGINT AS event_id, TIMESTAMP '2024-01-01' + INTERVAL (i) SECOND AS ts,
    (i % 7)::BIGINT AS user_id, 'view' AS event_type, i * 0.5 AS value, '{}' AS props
  FROM range(100) t(i)"""


class Scratch(unittest.TestCase):
    def setUp(self):
        os.makedirs(run.STATE, exist_ok=True)
        self.dir = tempfile.mkdtemp(prefix="selftest-", dir=run.STATE)
        self.con = duckdb.connect()

    def tearDown(self):
        shutil.rmtree(self.dir, ignore_errors=True)

    def parquet(self, name, sql):
        os.makedirs(os.path.join(self.dir, name))
        self.con.sql(f"COPY ({sql}) TO '{self.dir}/{name}/part-0.parquet' (FORMAT parquet)")


class QueryGate(Scratch):
    def verdict(self, spark_sql):
        self.parquet("q", spark_sql)
        return gate.check_queries(self.dir, ["q"], {"q": ORACLE}, self.dir,
                                  os.path.join(self.dir, "cache"))["q"]

    def test_identical_result_passes(self):
        self.assertEqual(self.verdict(ORACLE), "OK")

    def test_perturbed_value_fails(self):
        v = self.verdict(f"SELECT id, name, CASE WHEN id = 2 THEN score + 0.001 ELSE score END "
                         f"AS score, ts FROM ({ORACLE}) ORDER BY id")
        self.assertTrue(v.startswith("VALUE_MISMATCH col=score"), v)

    def test_wrong_order_fails(self):
        v = self.verdict(f"SELECT * FROM ({ORACLE}) ORDER BY id DESC")
        self.assertTrue(v.startswith("ORDER_MISMATCH"), v)

    def test_wrong_dtype_fails(self):
        v = self.verdict(f"SELECT id::DOUBLE AS id, name, score, ts FROM ({ORACLE}) ORDER BY 1")
        self.assertTrue(v.startswith("DTYPE_MISMATCH col=id"), v)

    def test_dropped_row_fails(self):
        v = self.verdict(f"SELECT * FROM ({ORACLE}) WHERE id <> 3 ORDER BY id")
        self.assertTrue(v.startswith("ROWCOUNT_MISMATCH"), v)

    def test_timed_call_rows_use_their_query_oracle(self):
        self.parquet("q~1", ORACLE)
        v = gate.check_queries(self.dir, ["q~1"], {"q": ORACLE}, self.dir,
                               os.path.join(self.dir, "cache"))
        self.assertEqual(v, {"q~1": "OK"})


class StreamGate(Scratch):
    def verdict(self, table_sql):
        self.parquet("part/expected", EVENTS)
        self.parquet("part/table", table_sql)
        return gate.check_streams(self.dir)["part"]

    def test_exact_table_passes(self):
        self.assertEqual(self.verdict(EVENTS), "OK")

    def test_dropped_row_fails(self):
        v = self.verdict(f"SELECT * FROM ({EVENTS}) WHERE event_id <> 42")
        self.assertIn("1 expected events missing", v)

    def test_duplicated_row_fails(self):
        v = self.verdict(f"SELECT * FROM ({EVENTS}) UNION ALL "
                         f"SELECT * FROM ({EVENTS}) WHERE event_id = 7")
        self.assertIn("1 duplicate rows", v)

    def test_altered_row_fails(self):
        v = self.verdict(f"SELECT event_id, ts, user_id, event_type, "
                         f"CASE WHEN event_id = 5 THEN -1.0 ELSE value END AS value, props "
                         f"FROM ({EVENTS})")
        self.assertIn("1 expected events missing", v)
        self.assertIn("1 rows not in the feed", v)


NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


class Contract(unittest.TestCase):
    def setUp(self):
        self.bench = run.spec()

    def test_benchmark_json_shape(self):
        b = self.bench
        self.assertEqual(set(b), {"command", "paths", "run_seconds", "workloads",
                                  "end_to_end", "per_layer"})
        self.assertTrue(2 <= len(b["workloads"]) <= 8)
        self.assertTrue(1 <= b["run_seconds"] <= 60)
        names = [w["name"] for w in b["workloads"]] + \
            [m["name"] for m in b["end_to_end"] + b["per_layer"]]
        self.assertEqual(len(names), len(set(names)))
        for n in names:
            self.assertRegex(n, NAME)
        for w in b["workloads"]:
            self.assertEqual(set(w), {"name", "why"})
            self.assertIn(w["name"], run.WORKLOADS)
            self.assertLessEqual(len(w["why"]), 200)
        for m in b["end_to_end"]:
            self.assertEqual(set(m), {"name", "unit", "better", "bound"})
            self.assertLessEqual(m["bound"], 0.25)
        for m in b["per_layer"]:
            self.assertEqual(set(m), {"name", "unit", "better"})
        for m in b["end_to_end"] + b["per_layer"]:
            self.assertRegex(m["unit"], UNIT)
            self.assertIn(m["better"], ("lower", "higher"))
        setup = [m for m in b["end_to_end"] if m["name"] == "setup_s"]
        self.assertEqual(setup[0]["unit"], "s")
        self.assertEqual(setup[0]["better"], "lower")
        self.assertEqual(setup[0]["bound"], max(m["bound"] for m in b["end_to_end"]))

    def check_line(self, metrics, kind):
        expected = {m["name"]: m["unit"] for m in self.bench[kind]}
        self.assertEqual(set(metrics), set(expected))
        for name, m in metrics.items():
            self.assertEqual(set(m), {"value", "unit"})
            self.assertEqual(m["unit"], expected[name], name)
            self.assertIsInstance(m["value"], (int, float))

    def test_every_metric_is_printed_with_its_unit(self):
        names = [m["name"] for m in self.bench["end_to_end"]]
        for w in self.bench["workloads"]:
            layers = run.STREAM_LAYERS if w["name"] == "stream_ingest" else run.BATCH_LAYERS
            measured = {n: 1.5 for n in names}
            measured.update({m["name"]: 2.5 for m in self.bench["per_layer"]
                             if m["name"].startswith(layers)})
            res = {"workload": w["name"], "metrics": measured}
            self.check_line(run.select_metrics(res, self.bench, False), "end_to_end")
            self.check_line(run.select_metrics(res, self.bench, True), "per_layer")


class Live(Contract):
    """Runs every workload through the real command (slow): those of
    BENCHMARK.json untraced and traced, heavy_ops untraced."""

    def test_workloads_end_to_end(self):
        listed = [w["name"] for w in self.bench["workloads"]]
        runs = [(w, t) for w in listed for t in (0, 1)] + \
            [(w, 0) for w in run.WORKLOADS if w not in listed]
        for name, trace in runs:
            kind = "per_layer" if trace else "end_to_end"
            with self.subTest(workload=name, trace=trace):
                out = subprocess.run(
                    [sys.executable, os.path.join(HERE, "run.py"), "--workload", name,
                     "--seed", "7", "--seconds", "2", "--trace", str(trace)],
                    cwd=run.ROOT, capture_output=True, text=True, timeout=900)
                self.assertEqual(out.returncode, 0, out.stderr[-3000:])
                line = json.loads(out.stdout.strip().splitlines()[-1])
                self.assertEqual(set(line), {"correct", "attempted", "failed", "metrics"})
                self.assertTrue(line["correct"], out.stdout)
                self.assertEqual(line["failed"], 0)
                self.assertGreaterEqual(line["attempted"], 1)
                self.check_line(line["metrics"], kind)


if __name__ == "__main__":
    live = "--live" in sys.argv
    if live:
        sys.argv.remove("--live")
    loader = unittest.TestLoader()
    suite = unittest.TestSuite(loader.loadTestsFromTestCase(c)
                               for c in (QueryGate, StreamGate, Contract))
    if live:
        suite.addTest(Live("test_workloads_end_to_end"))
    ok = unittest.TextTestRunner(verbosity=2).run(suite).wasSuccessful()
    sys.exit(0 if ok else 1)
