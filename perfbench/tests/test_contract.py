"""BENCHMARK.json agrees with what run.py reports, and the generators
are seeded.

    python3 -m unittest discover -s perfbench/tests -t perfbench
"""
import hashlib
import json
import os
import re
import sys
import tempfile
import unittest

PB = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, PB)
import run  # noqa: E402
from pb import gen, layers  # noqa: E402

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")


class BenchmarkJson(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        with open(os.path.join(os.path.dirname(PB), "BENCHMARK.json")) as f:
            cls.b = json.load(f)

    def test_keys(self):
        self.assertEqual(set(self.b), {"command", "paths", "run_seconds", "workloads",
                                       "end_to_end", "per_layer"})

    def test_metrics_match_the_runner(self):
        self.assertEqual([(m["name"], m["unit"]) for m in self.b["end_to_end"]],
                         list(run.END_TO_END))
        self.assertEqual([(m["name"], m["unit"]) for m in self.b["per_layer"]],
                         [(n, u) for n, u, _ in layers.LAYER_METRICS])
        setup = [m for m in self.b["end_to_end"] if m["name"] == "setup_s"][0]
        self.assertEqual(setup["bound"], max(m["bound"] for m in self.b["end_to_end"]))

    def test_names_and_bounds(self):
        names = [w["name"] for w in self.b["workloads"]]
        names += [m["name"] for m in self.b["end_to_end"] + self.b["per_layer"]]
        self.assertEqual(len(names), len(set(names)))
        for n in names:
            self.assertRegex(n, NAME)
        for w in self.b["workloads"]:
            self.assertIn(w["name"], run.WORKLOADS)
        for m in self.b["end_to_end"]:
            self.assertLessEqual(m["bound"], 0.25)


def tree_digest(root):
    h = hashlib.sha256()
    for dp, _, fs in sorted(os.walk(root)):
        for f in sorted(fs):
            h.update(f.encode())
            with open(os.path.join(dp, f), "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


class Generators(unittest.TestCase):
    def test_raw_tree_is_seeded(self):
        with tempfile.TemporaryDirectory() as d:
            a = gen.raw_tree(os.path.join(d, "a"), 7, readings=20_000)
            b = gen.raw_tree(os.path.join(d, "b"), 7, readings=20_000)
            c = gen.raw_tree(os.path.join(d, "c"), 8, readings=20_000)
            self.assertEqual(a, b)
            self.assertEqual(tree_digest(os.path.join(d, "a")), tree_digest(os.path.join(d, "b")))
            self.assertNotEqual(tree_digest(os.path.join(d, "a")), tree_digest(os.path.join(d, "c")))
            # every planted MQTT skip line is one expected drop
            lines = sum(1 for f in os.listdir(os.path.join(d, "a", "mqtt"))
                        for _ in open(os.path.join(d, "a", "mqtt", f)))
            self.assertEqual(lines, a["inputs"]["mqtt_lines"])
            self.assertGreater(a["expected"]["rows_dropped"], 0)


if __name__ == "__main__":
    unittest.main()
