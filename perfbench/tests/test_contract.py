"""The metric names and units the benchmark prints match BENCHMARK.json,
and every workload it names is defined.

    python3 -m unittest discover -s perfbench/tests
"""
import json
import os
import sys
import unittest

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, HERE)

import run  # noqa: E402


class Contract(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
            cls.bench = json.load(f)

    def test_end_to_end_names_and_units(self):
        declared = {m["name"]: m["unit"] for m in self.bench["end_to_end"]}
        self.assertEqual(declared, run.END_TO_END_UNITS)

    def test_per_layer_names_and_units(self):
        declared = {m["name"]: m["unit"] for m in self.bench["per_layer"]}
        self.assertEqual(declared, run.LAYER_UNITS)

    def test_setup_has_the_largest_bound(self):
        bounds = {m["name"]: m["bound"] for m in self.bench["end_to_end"]}
        self.assertEqual(bounds["setup_s"], max(bounds.values()))

    def test_workloads_are_defined(self):
        defined = run.load_workloads()
        for w in self.bench["workloads"]:
            self.assertIn(w["name"], defined)
            self.assertTrue(defined[w["name"]]["queries"])
            self.assertIn(defined[w["name"]]["mode"], ("driver", "zipf"))


if __name__ == "__main__":
    unittest.main()
