"""BENCHMARK.json must name exactly the workloads and metrics run.py
prints, with the units it prints them in.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import json
import os
import unittest

import run


class Contract(unittest.TestCase):
    def setUp(self):
        with open(os.path.join(run.ROOT, "BENCHMARK.json")) as f:
            self.spec = json.load(f)

    def test_workloads(self):
        self.assertEqual([w["name"] for w in self.spec["workloads"]],
                         list(run.WORKLOADS))

    def test_end_to_end(self):
        self.assertEqual({m["name"]: m["unit"] for m in self.spec["end_to_end"]},
                         {k: u for k, (u, _) in run.END_TO_END.items()})

    def test_per_layer(self):
        self.assertEqual([(m["name"], m["unit"]) for m in self.spec["per_layer"]],
                         run.per_layer_names())


if __name__ == "__main__":
    unittest.main()
