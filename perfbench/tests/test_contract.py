"""The metrics run.py prints are exactly the ones BENCHMARK.json declares.

    python3 -m unittest discover -s perfbench/tests
"""
import json
import os
import sys
import unittest

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, HERE)

import run  # noqa: E402

# the smallest harness result both metric builders accept
RESULT = {
    "workload": "batch", "session_s": 1.0, "setup_reps_s": [1.0, 2.0, 3.0], "warmup_s": 0.0,
    "records_per_step": 10, "cache_peak_bytes": 1 << 20, "ops": [],
    "phases": {"measure": 1.0, "untraced": 1.0, "traced": 1.0},
    "trace": {"spans": [], "jobs": [], "stats": {}},
}


class ContractTest(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
            cls.bench = json.load(fh)

    def test_end_to_end_names_and_units(self):
        values = run.end_to_end(RESULT, {})
        declared = {m["name"]: m["unit"] for m in self.bench["end_to_end"]}
        self.assertEqual(list(values), list(declared))
        self.assertEqual({k: run.UNITS[k] for k in values}, declared)

    def test_per_layer_names_and_units(self):
        values = run.layer_metrics(RESULT, {})
        declared = {m["name"]: m["unit"] for m in self.bench["per_layer"]}
        self.assertEqual(list(values), list(declared))
        self.assertEqual({k: run.layer_unit(k) for k in values}, declared)
        self.assertLessEqual(len(values), 128)

    def test_workloads_have_generators(self):
        self.assertEqual(sorted(w["name"] for w in self.bench["workloads"]), sorted(run.gen.GENERATORS))


if __name__ == "__main__":
    unittest.main()
