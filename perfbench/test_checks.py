#!/usr/bin/env python3
"""Tests of the benchmark's own output checks.

    python3 perfbench/test_checks.py            # checker only, seconds
    PERFBENCH_E2E=1 python3 perfbench/test_checks.py   # + bus fault run

The checker tests build a tiny table, a query output and an oracle, and
show that a matching output passes while a corrupted expected result is
caught. The end-to-end test (run from the repository root; builds on
first use) runs the `bus` workload with one micro-batch dropped before
the sink and shows the run is reported incorrect.
"""
import json
import os
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import pyarrow as pa  # noqa: E402
import pyarrow.parquet as pq  # noqa: E402

import gen  # noqa: E402
import run  # noqa: E402


class BatchCheck(unittest.TestCase):
    def setUp(self):
        self.tmp = tempfile.TemporaryDirectory()
        self.data = os.path.join(self.tmp.name, "data")
        self.out = os.path.join(self.tmp.name, "out")
        gen.generate(self.data, 0.001, 3)
        os.makedirs(os.path.join(self.out, "check", "q_regions"))
        # what the engine would have written for the query
        pq.write_table(pa.table({"r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE",
                                            "MIDDLE EAST"],
                                 "n": pa.array([5] * 5, pa.int64())}),
                       os.path.join(self.out, "check", "q_regions", "part-0.parquet"))

    def tearDown(self):
        self.tmp.cleanup()

    def check(self, oracle_sql):
        with open(os.path.join(self.out, "oracle.json"), "w") as f:
            json.dump({"q_regions": oracle_sql}, f)
        return run.check_batch(self.data, self.out, ["q_regions"])

    def test_matching_output_passes(self):
        sql = ("SELECT r_name, count(*) AS n FROM region JOIN nation "
               "ON n_regionkey = r_regionkey GROUP BY r_name ORDER BY r_name")
        self.assertEqual(self.check(sql), [])

    def test_corrupted_expected_result_is_caught(self):
        sql = ("SELECT r_name, count(*) + (r_name = 'ASIA')::INT AS n FROM region "
               "JOIN nation ON n_regionkey = r_regionkey GROUP BY r_name")
        self.assertEqual(self.check(sql), ["q_regions"])

    def test_missing_row_is_caught(self):
        sql = ("SELECT r_name, count(*) AS n FROM region JOIN nation "
               "ON n_regionkey = r_regionkey WHERE r_name <> 'EUROPE' GROUP BY r_name")
        self.assertEqual(self.check(sql), ["q_regions"])

    def test_generator_is_deterministic(self):
        a = dict(gen.tables(0.001, 11))
        b = dict(gen.tables(0.001, 11))
        c = dict(gen.tables(0.001, 12))
        self.assertTrue(all(a[k].equals(b[k]) for k in a))
        self.assertFalse(a["lineitem"].equals(c["lineitem"]))


class Merge(unittest.TestCase):
    def test_jvms_are_pooled_and_medianed(self):
        def res(setup, lat, drain, failed):
            return {"metrics": {"setup_s": setup, "lat_p50_ms": 0.0, "pass_s": 0.0,
                                "lat_samples": 100},
                    "samples": {"lat_p50_ms": lat, "drain_s": drain},
                    "attempted": 10, "failed": failed, "errors": [],
                    "unattributed_sites": {}}
        m = run.merge([res(8.0, [1.0, 2.0], [0.5], 0),
                       res(10.0, [4.0, 9.0], [0.7, 0.9], 1)])
        self.assertEqual(m["metrics"]["setup_s"], 9.0)
        self.assertEqual(m["metrics"]["lat_p50_ms"], 3.0)
        self.assertEqual(m["metrics"]["pass_s"], 0.7)
        self.assertEqual(m["metrics"]["lat_samples"], 200)
        self.assertEqual((m["attempted"], m["failed"]), (20, 1))


@unittest.skipUnless(os.environ.get("PERFBENCH_E2E"), "set PERFBENCH_E2E=1")
class BusFault(unittest.TestCase):
    def test_dropped_batch_is_caught(self):
        p = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", "bus",
             "--seed", "5", "--seconds", "4", "--trace", "0",
             "--inject", "drop-batch"],
            capture_output=True, text=True, timeout=900)
        self.assertEqual(p.returncode, 0, p.stderr[-2000:])
        res = json.loads(p.stdout.strip().splitlines()[-1])
        self.assertFalse(res["correct"])
        self.assertGreater(res["failed"], 0)


if __name__ == "__main__":
    unittest.main()
