#!/usr/bin/env python3
"""Tests for perf_diff.py: which job and shuffle changes it flags.

Usage: python3 scripts/test_perf_diff.py
"""
import json
import os
import subprocess
import sys
import tempfile
import unittest

SCRIPT = os.path.join(os.path.dirname(os.path.abspath(__file__)), "perf_diff.py")


def q(jobs, write_mb):
    return {"jobs": jobs, "shuffle_read_mb": write_mb,
            "shuffle_write_mb": write_mb, "wall_s": 1.0}


class PerfDiffTest(unittest.TestCase):
    def diff(self, old, new, old_run=None, new_run=None):
        """Runs perf_diff.py on two artifacts; returns (exit code, stdout)."""
        with tempfile.TemporaryDirectory() as d:
            paths = []
            for name, queries, run in (("old.json", old, old_run),
                                       ("new.json", new, new_run)):
                path = os.path.join(d, name)
                with open(path, "w") as f:
                    json.dump(dict(run or {"sf_dir": "/data/sf0.01", "cores": 8},
                                   queries=queries), f)
                paths.append(path)
            p = subprocess.run([sys.executable, SCRIPT] + paths,
                               capture_output=True, text=True)
        return p.returncode, p.stdout

    def test_one_more_job_with_flat_shuffle_is_a_flicker(self):
        code, out = self.diff({"q1_a": q(10, 5.0)}, {"q1_a": q(11, 5.0)})
        self.assertEqual(code, 0, out)
        self.assertIn("FLICKER? (1)", out)
        self.assertIn("q1_a: jobs 10 -> 11", out)
        self.assertIn("Audit jobs", out)
        self.assertNotIn("REGRESSED", out)

    def test_two_more_jobs_regress(self):
        code, out = self.diff({"q1_a": q(10, 5.0)}, {"q1_a": q(12, 5.0)})
        self.assertEqual(code, 1, out)
        self.assertIn("REGRESSED (1)", out)
        self.assertIn("q1_a: jobs 10 -> 12", out)

    def test_one_more_job_with_shuffle_growth_regresses(self):
        code, out = self.diff({"q1_a": q(10, 5.0)}, {"q1_a": q(11, 5.5)})
        self.assertEqual(code, 1, out)
        self.assertIn("REGRESSED (1)", out)
        self.assertNotIn("FLICKER?", out)

    def test_shuffle_write_from_zero_past_one_mb_is_flagged(self):
        code, out = self.diff({"q1_a": q(10, 0.0)}, {"q1_a": q(10, 1.5)})
        self.assertEqual(code, 1, out)
        self.assertIn("q1_a: shuffle_write 0 -> 1.5 MB", out)
        code, out = self.diff({"q1_a": q(10, 0.0)}, {"q1_a": q(10, 0.9)})
        self.assertEqual(code, 0, out)

    def test_added_and_removed_queries_are_reported_not_flagged(self):
        code, out = self.diff({"q1_a": q(10, 5.0), "q2_gone": q(3, 0.0)},
                              {"q1_a": q(10, 5.0), "q3_new": q(99, 50.0)})
        self.assertEqual(code, 0, out)
        self.assertIn("new queries: q3_new", out)
        self.assertIn("removed queries: q2_gone", out)
        self.assertIn("OK: no query grew", out)

    def test_other_cores_or_scale_factor_is_not_compared(self):
        same = {"q1_a": q(10, 5.0)}
        for new_run in ({"sf_dir": "/data/sf0.01", "cores": 32},
                        {"sf_dir": "/data/sf0.1", "cores": 8}):
            code, out = self.diff(same, same, new_run=new_run)
            self.assertEqual(code, 2, out)
            self.assertIn("NOT COMPARABLE", out)
        # the same scale factor under another root, or an artifact that
        # predates the fields, still compares
        code, out = self.diff(same, same,
                              new_run={"sf_dir": "/other/sf0.01/", "cores": 8})
        self.assertEqual(code, 0, out)
        code, out = self.diff(same, same, old_run={})
        self.assertEqual(code, 0, out)


if __name__ == "__main__":
    unittest.main()
