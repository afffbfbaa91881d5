"""Self-tests of the benchmark's own code; they need no Spark session.

    python3 perfbench/selftest.py

- One seed always yields the same tables, query stream, dashboard
  cycles, commit deltas and registry order, and another seed differs.
- Every metric name the benchmark emits is declared in BENCHMARK.json,
  every declared name is emitted, and each matches [A-Za-z0-9_.-]+.
"""

from __future__ import annotations

import json
import os
import re
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import spans  # noqa: E402
import workloads  # noqa: E402

NAME = re.compile(r"[A-Za-z0-9_.-]+")


def _streams(seed: int) -> dict:
    t = gen.tables(seed, 0.001, text=True)
    return {
        "tables": t,
        "widgets": gen.dashboard_widgets(seed, workloads.DASH_WIDGETS),
        "refill": gen.dashboard_refill(workloads.DASH_WIDGETS, workloads.DASH_BURST),
        "refires": [gen.dashboard_refires(c, workloads.DASH_WIDGETS,
                                          workloads.DASH_BURST, workloads.DASH_REFIRES)
                    for c in range(1, 4)],
        "deltas": [gen.append_delta(seed, k, 40, 1000 * k, 200, 10) for k in range(1, 4)],
        "registry": gen.registry_order(seed),
    }


def _same(a, b) -> bool:
    if isinstance(a, dict):
        return a.keys() == b.keys() and all(_same(a[k], b[k]) for k in a)
    if isinstance(a, list):
        return len(a) == len(b) and all(_same(x, y) for x, y in zip(a, b))
    if hasattr(a, "equals"):
        return a.equals(b)
    return a == b


class SeedTest(unittest.TestCase):
    def test_same_seed_same_streams(self):
        a, b = _streams(7), _streams(7)
        for k in a:
            self.assertTrue(_same(a[k], b[k]), k)

    def test_other_seed_other_streams(self):
        a, b = _streams(7), _streams(8)
        for k in ["tables", "widgets", "deltas"]:
            self.assertFalse(_same(a[k], b[k]), k)

    def test_widgets_distinct(self):
        widgets = gen.dashboard_widgets(3, workloads.DASH_WIDGETS)
        self.assertEqual(len(widgets), len(set(widgets)))


class NamesTest(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
            cls.spec = json.load(f)

    def test_end_to_end_names(self):
        with tempfile.TemporaryDirectory() as d:
            run = workloads.Run(1, 1.0, False, d)
        run.setup_times = [1.0]
        run.peak_rss_mb = lambda: 1.0
        emitted = set(run.e2e(workloads.Timed().done()))
        declared = {m["name"] for m in self.spec["end_to_end"]}
        self.assertEqual(emitted, declared)

    def test_per_layer_names(self):
        sp = spans.Span(1, "engine.sql", 0.0, 0.002)
        emitted = set(spans.layer_metrics([sp], 1, 1)) | set(workloads.LAYER_EXTRAS)
        declared = {m["name"] for m in self.spec["per_layer"]}
        self.assertEqual(emitted, declared)

    def test_names_match_pattern(self):
        for m in self.spec["end_to_end"] + self.spec["per_layer"] + self.spec["workloads"]:
            self.assertIsNotNone(NAME.fullmatch(m["name"]), m["name"])


if __name__ == "__main__":
    unittest.main()
