#!/usr/bin/env python3
"""Pins the metric names and units the benchmark prints to BENCHMARK.json.

Run from the root of a checkout: python3 perfbench/test_catalogue.py
(builds the benchmark first if needed).
"""
import json
import os
import re
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import run  # noqa: E402

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


class CatalogueTest(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        out = subprocess.run(["java", "-cp", run.build(), "perfbench.Main", "--list-metrics"],
                             capture_output=True, text=True, check=True).stdout
        cls.catalogue = json.loads(out.strip().splitlines()[-1])

    def test_printed_metrics_match_benchmark_json(self):
        s = spec()
        for section in ("end_to_end", "per_layer"):
            printed = [(m["name"], m["unit"]) for m in self.catalogue[section]]
            declared = [(m["name"], m["unit"]) for m in s[section]]
            self.assertEqual(printed, declared, section)

    def test_benchmark_json_shape(self):
        s = spec()
        self.assertEqual(set(s), {"command", "paths", "run_seconds", "workloads",
                                  "end_to_end", "per_layer"})
        self.assertTrue(2 <= len(s["workloads"]) <= 8)
        self.assertTrue(1 <= s["run_seconds"] <= 60)
        names = [w["name"] for w in s["workloads"]] + \
            [m["name"] for m in s["end_to_end"] + s["per_layer"]]
        self.assertEqual(len(names), len(set(names)))
        for n in names:
            self.assertRegex(n, NAME)
        for w in s["workloads"]:
            self.assertEqual(set(w), {"name", "why"})
            self.assertLessEqual(len(w["why"]), 200)
        for m in s["end_to_end"]:
            self.assertEqual(set(m), {"name", "unit", "better", "bound"})
            self.assertLessEqual(m["bound"], 0.25)
            self.assertRegex(m["unit"], UNIT)
        for m in s["per_layer"]:
            self.assertEqual(set(m), {"name", "unit", "better"})
            self.assertRegex(m["unit"], UNIT)
        setup = [m for m in s["end_to_end"] if m["name"] == "setup_s"]
        self.assertEqual(setup[0]["unit"], "s")
        self.assertEqual(setup[0]["bound"], max(m["bound"] for m in s["end_to_end"]))
        self.assertTrue(1 <= len(s["end_to_end"]) <= 16)
        self.assertTrue(1 <= len(s["per_layer"]) <= 128)


if __name__ == "__main__":
    unittest.main()
