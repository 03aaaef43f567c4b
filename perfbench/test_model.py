"""The model must reproduce the reference's committed outputs on its own
fixtures: the golden TLB file byte for byte and the three `_processed_`
stage outputs as record sets.

Run from the repository root: python3 perfbench/test_model.py
"""
import json
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import model  # noqa: E402

REF = os.path.join(os.path.dirname(os.path.abspath(__file__)), "..", "src", "test", "resources", "reference")
HOUR = "2024111612"


def load(name):
    with open(os.path.join(REF, f"{name}_{HOUR}.json")) as f:
        return json.load(f)


def canon(records):
    """Records as a sorted list of key-sorted JSON strings; a null field and a
    missing one are the same (the engine's JSON writer omits nulls)."""
    return sorted(json.dumps({k: v for k, v in r.items() if v is not None}, sort_keys=True)
                  for r in records)


class ReferenceFixtureTest(unittest.TestCase):
    def setUp(self):
        self.events, self.traces, self.logs = load("user_exp"), load("trace"), load("log")

    def test_tlb_matches_golden_bytes(self):
        with open(os.path.join(REF, f"tlb_metrics_{HOUR}.json")) as f:
            golden = f.read()
        got = model.render_tlb(model.tlb_metrics(self.events, self.traces, self.logs))
        self.assertEqual(got, golden)

    def test_stage_outputs_match_processed_goldens(self):
        stages = model.pipeline(self.events, self.traces, self.logs)
        for stage, name in [("stage_1", "user_exp"), ("stage_2", "trace"), ("stage_3", "log")]:
            with self.subTest(stage=stage):
                self.assertEqual(canon(stages[stage]["records"]), canon(load(f"{name}_processed")))

    def test_generator_is_deterministic_and_tie_free(self):
        a = model.generate_hour("2024111613", 7, 3000, 200, zipf_s=1.1)
        b = model.generate_hour("2024111613", 7, 3000, 200, zipf_s=1.1)
        self.assertEqual(a, b)
        seen = set()
        for e in a[0]:
            key = (e["clientId"], e["timestamp"])
            self.assertNotIn(key, seen)
            seen.add(key)


if __name__ == "__main__":
    unittest.main()
