#!/usr/bin/env python3
"""Checks of the benchmark that need no build. Run from the checkout root:

    python3 perfbench/test_bench.py
"""

import json
import os
import re
import shutil
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")


def load(path):
    with open(path) as f:
        return json.load(f)


class BenchmarkSpec(unittest.TestCase):
    def setUp(self):
        self.spec = load(os.path.join(ROOT, "BENCHMARK.json"))

    def test_keys_and_limits(self):
        self.assertEqual(set(self.spec), {"command", "paths", "run_seconds", "workloads",
                                          "end_to_end", "per_layer"})
        self.assertTrue(2 <= len(self.spec["workloads"]) <= 8)
        names = [m["name"] for k in ("workloads", "end_to_end", "per_layer") for m in self.spec[k]]
        self.assertEqual(len(names), len(set(names)))
        for n in names:
            self.assertRegex(n, NAME)
        for w in self.spec["workloads"]:
            self.assertEqual(set(w), {"name", "why"})
            self.assertLessEqual(len(w["why"]), 200)
        bounds = {m["name"]: m["bound"] for m in self.spec["end_to_end"]}
        self.assertEqual(max(bounds.values()), bounds["setup_s"])
        self.assertTrue(all(0 < b <= 0.25 for b in bounds.values()))

    def test_layer_table_matches_harness(self):
        # every per-layer metric is measured and tagged with what it moves
        main = open(os.path.join(HERE, "src", "main", "scala", "perfbench", "Main.scala")).read()
        tagged = set(re.findall(r'^    "([a-z0-9_.]+)" -> "', main, re.M))
        listed = {m["name"] for m in self.spec["per_layer"]}
        self.assertEqual(listed, tagged)

    def test_settings_cover_workloads(self):
        settings = load(os.path.join(HERE, "settings.json"))
        for w in self.spec["workloads"]:
            self.assertIn(w["name"], settings)


class RefusesWithoutEngine(unittest.TestCase):
    def test_benchmark_only_directory(self):
        with tempfile.TemporaryDirectory() as d:
            shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), d)
            shutil.copytree(HERE, os.path.join(d, "perfbench"),
                            ignore=shutil.ignore_patterns("target", "__pycache__"))
            p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", "backfill",
                                "--seed", "1", "--seconds", "1", "--trace", "0"],
                               cwd=d, capture_output=True, text=True, timeout=120)
            self.assertNotEqual(p.returncode, 0)
            self.assertEqual(p.stdout.strip(), "")


if __name__ == "__main__":
    unittest.main()
