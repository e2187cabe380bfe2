"""Self-tests of the benchmark's own code (no JVM needed).

    python3 -m unittest discover -s perfbench/tests
"""
import json
import os
import re
import shutil
import sys
import unittest

BENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, BENCH)

import gen  # noqa: E402
import report  # noqa: E402

SCRATCH = os.path.join(os.path.dirname(BENCH), ".bench_build", "perfbench-tests")
NAME = re.compile(r"^[A-Za-z0-9_.-]+$")


def files(root):
    out = {}
    for d, _, fs in os.walk(root):
        for f in fs:
            p = os.path.join(d, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, root)] = fh.read()
    return out


class GeneratorTest(unittest.TestCase):
    def tearDown(self):
        shutil.rmtree(SCRATCH, ignore_errors=True)

    def test_same_seed_same_bytes_other_seed_other_bytes(self):
        for name, generate in gen.GENERATORS.items():
            with self.subTest(workload=name):
                a, b, c = (os.path.join(SCRATCH, name, x) for x in ("a", "b", "c"))
                generate(a, 7)
                generate(b, 7)
                generate(c, 8)
                fa, fb, fc = files(a), files(b), files(c)
                self.assertTrue(fa)
                self.assertEqual(fa, fb)
                self.assertEqual(fa.keys(), fc.keys())
                self.assertTrue(all(fa[k] != fc[k] for k in fa if k.endswith((".dat", ".json"))))
                self.assertNotEqual(fa, fc)

    def test_lake_replay_is_consistent(self):
        out = os.path.join(SCRATCH, "lake")
        gen.lake(out, 3)
        with open(os.path.join(out, "lake_rounds.json")) as f:
            spec = json.load(f)
        rows = [sum(a[0] for a in r["expect"].values()) for r in spec["rounds"]]
        base = sum(a[0] for a in spec["base_expect"].values())
        # a round adds 250 ids by MERGE and 500 by INSERT and deletes the
        # live ids of one residue class mod 97
        for before, after in zip([base] + rows, rows):
            self.assertLess(abs(after - (before * 96 / 97 + 750)), 0.01 * before)


class PercentileTest(unittest.TestCase):
    def test_needs_ten_samples_beyond(self):
        xs = list(range(1, 101))
        self.assertEqual(report.percentile(xs, 0.9), 90)  # 91..100 lie beyond
        self.assertIsNone(report.percentile(xs[:99], 0.9))  # only 9 beyond
        self.assertEqual(report.percentile(xs[:20], 0.5), 10)
        self.assertIsNone(report.percentile(xs[:19], 0.5))

    def test_tail_is_the_highest_valid_percentile(self):
        self.assertEqual(report.tail(list(range(1, 1001))), (0.99, 990))
        self.assertEqual(report.tail(list(range(1, 101))), (0.9, 90))
        self.assertEqual(report.tail(list(range(1, 41))), (0.75, 30))
        self.assertIsNone(report.tail(list(range(1, 15))))


class MetricNamesTest(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        with open(os.path.join(os.path.dirname(BENCH), "BENCHMARK.json")) as f:
            cls.spec = json.load(f)

    def declared(self, key):
        return {m["name"]: m["unit"] for m in self.spec[key]}

    def test_emitted_names_are_declared(self):
        res = {"setup_s": [9.0, 0.5, 0.4], "passes_s": [3.0], "ops": [{"s": 1.0}, {"s": 2.0}]}
        e2e = report.end_to_end(res)
        self.assertEqual({k: v["unit"] for k, v in e2e.items()}, self.declared("end_to_end"))
        dump = {"workload": "query_mix", "totals": {c: 1 for c in report.COUNTERS},
                "ops": 2, "table": {"engine.session_s": 9.0, "plans.plan_s": 0.1,
                                    "plans.plan_share": 0.03},
                "covered_share": 0.99, "wall_s": 3.0, "cores": 4, "gc_s": 0.1}
        layer = report.per_layer(dump)
        self.assertEqual({k: v["unit"] for k, v in layer.items()}, self.declared("per_layer"))
        for name in list(e2e) + list(layer):
            self.assertRegex(name, NAME)

    def test_workloads_have_generators(self):
        self.assertEqual({w["name"] for w in self.spec["workloads"]}, set(gen.GENERATORS))


class SelfTimeTest(unittest.TestCase):
    def test_children_and_planning_are_subtracted(self):
        trace = {"spans": [
            {"id": 1, "parent": 0, "module": "lake", "name": "merge", "start_ms": 1000, "s": 2.0},
            {"id": 2, "parent": 1, "module": "ops", "name": "inner", "start_ms": 1500, "s": 0.5}],
            "phases": [{"phase": "analysis", "start_ms": 1100, "end_ms": 1300},
                       {"phase": "planning", "start_ms": 1600, "end_ms": 1700}]}
        spans = report.self_times(trace)
        self.assertAlmostEqual(spans[1]["self_s"], 2.0 - 0.5 - 0.2)
        self.assertAlmostEqual(spans[2]["self_s"], 0.5 - 0.1)


if __name__ == "__main__":
    unittest.main()
