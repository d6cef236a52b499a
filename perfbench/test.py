#!/usr/bin/env python3
"""Tests of the benchmark's own logic.

  python3 perfbench/test.py     (from the root of a checkout)

Runs the Scala self-tests (percentile rule, tokenizer, DML model, and that
each output check rejects a planted wrong count or row) and the Python
tests below (metric names, units and result shape as run.py enforces them).
"""
import json
import os
import subprocess
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402
import run  # noqa: E402


class ResultShape(unittest.TestCase):
    def good(self):
        return {"correct": True, "attempted": 3, "failed": 0,
                "metrics": {"latency_mean_ms": {"value": 1.5, "unit": "ms"}}}

    def test_accepts_a_good_result(self):
        self.assertEqual(run.check_result(self.good()), [])

    def test_metric_name_charset(self):
        for ok in ("setup_s", "sql.merge.parse_ms", "a-b.c_d", "9lives", "x" * 64):
            self.assertTrue(run.NAME_RE.match(ok), ok)
        for bad in ("", "_lead", ".lead", "has space", "slash/name", "x" * 65, "é"):
            self.assertFalse(run.NAME_RE.match(bad), bad)

    def test_unit_charset(self):
        for ok in ("ms", "s", "1/s", "count", "words/s", "%"):
            self.assertTrue(run.UNIT_RE.match(ok), ok)
        for bad in ("", "milli seconds", "u" * 17):
            self.assertFalse(run.UNIT_RE.match(bad), bad)

    def test_rejects_bad_results(self):
        r = self.good()
        r["metrics"]["bad name"] = {"value": 1, "unit": "ms"}
        self.assertTrue(run.check_result(r))
        r = self.good()
        r["metrics"]["latency_mean_ms"]["value"] = float("nan")
        self.assertTrue(run.check_result(r))
        r = self.good()
        r["attempted"] = 0
        self.assertTrue(run.check_result(r))
        r = self.good()
        r["extra"] = 1
        self.assertTrue(run.check_result(r))

    def test_names_must_match_the_manifest(self):
        wanted = {"latency_mean_ms": "ms"}
        self.assertEqual(run.check_names(self.good(), wanted), [])
        self.assertTrue(run.check_names(self.good(), {"latency_mean_ms": "s"}))
        self.assertTrue(run.check_names(self.good(), dict(wanted, setup_s="s")))
        self.assertTrue(run.check_names(self.good(), {}))

    def test_benchmark_json_names(self):
        path = os.path.join(os.path.dirname(os.path.abspath(__file__)), "..", "BENCHMARK.json")
        if not os.path.isfile(path):
            self.skipTest("no BENCHMARK.json")
        spec = json.load(open(path))
        names = [w["name"] for w in spec["workloads"]]
        self.assertTrue(set(names) <= set(build.WORKLOADS), names)
        metrics = spec["end_to_end"] + spec["per_layer"]
        seen = set()
        for m in metrics + spec["workloads"]:
            self.assertTrue(run.NAME_RE.match(m["name"]), m["name"])
            self.assertNotIn(m["name"], seen)
            seen.add(m["name"])
        for m in metrics:
            self.assertTrue(run.UNIT_RE.match(m["unit"]), m)


def main():
    cp, _ = build.build(os.getcwd())
    rc = subprocess.run(["java", "-XX:-UsePerfData", "-cp", os.pathsep.join(cp),
                         "perfbench.SelfTest"]).returncode
    suite = unittest.defaultTestLoader.loadTestsFromTestCase(ResultShape)
    ok = unittest.TextTestRunner(verbosity=1).run(suite).wasSuccessful()
    return 0 if rc == 0 and ok else 1


if __name__ == "__main__":
    sys.exit(main())
