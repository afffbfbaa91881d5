"""Driver-contract guard for bench.py's stdout artifact.

Round-8 fix for a two-round telemetry outage: BENCH_r06/r07 recorded
``parsed: null`` because the single JSON line outgrew the driver's
~2000-char stdout tail window (the r6/r7 protocol blocks — per-order
mins, heavy_ab, load, concurrent_burst — pushed it past 4 KB). The
full blob now goes to ``bench_full.json``; stdout's final line is a
compact summary. These tests pin that contract WITHOUT running the
(minutes-long) bench itself: they rebuild the compact dict exactly as
``bench.main`` serializes it and bound its size with worst-case-width
numbers.
"""

from __future__ import annotations

import json
import os

import bench

# The driver stores the last ~2000 chars of stdout. Keep real margin:
# the line before the JSON (the bench_full.json pointer) also lands in
# the tail. Since r17 the line carries TWO per-query maps (means +
# mins — the verdict's de-noising ask), so the width assumption is
# calibrated to plausible values (<= 999.999 s per query — a bench
# query past 16 minutes is a broken run, not a wide number) and
# bench.main additionally hard-guards the final line at
# COMPACT_LINE_MAX, dropping ONLY the new ``mins`` field on overflow
# so the pre-r17 fields can never regress to ``parsed: null``.
TAIL_WINDOW = 2000
BUDGET = bench.COMPACT_LINE_MAX


def _compact_line(per_query: dict[str, float], mins: dict[str, float] | None = None) -> str:
    # mirror of bench.main's final print — field-for-field
    compact = {
        "metric": "headline_queries_total_mean_sec",
        "value": 99999.999,
        "unit": "sec",
        "queries": per_query,
        "mins": per_query if mins is None else mins,
        "total_min": 99999.999,
        "burst_speedup": 99.99,
        "burst_equal": False,
        "load1_start": 99.99,
        "sf": "/root/testdata/sf0.1",
        "reps": 3,
        "full": "bench_full.json",
    }
    return json.dumps(compact, separators=(",", ":"))


def test_compact_line_fits_tail_window():
    # plausible worst-case widths: every mean AND min at 3+3 digits
    line = _compact_line({k: 999.999 for k in bench.HEADLINE})
    assert len(line) <= BUDGET, (
        f"compact bench line is {len(line)} chars — over the {BUDGET} "
        f"budget (driver tail window {TAIL_WINDOW}); trim fields or "
        "move more detail into bench_full.json"
    )


def test_compact_line_is_parseable_and_has_driver_fields():
    line = _compact_line({k: 1.0 for k in bench.HEADLINE})
    parsed = json.loads(line)
    # the driver contract: ONE JSON line with metric/value/unit/queries/sf
    # (+ the r17 additive mins map)
    for field in ("metric", "value", "unit", "queries", "mins", "sf"):
        assert field in parsed
    assert set(parsed["queries"]) == set(bench.HEADLINE)
    assert set(parsed["mins"]) == set(bench.HEADLINE)


def test_headline_growth_headroom():
    # ten more headline queries at worst-case name width must still
    # produce a line that fits AFTER the runtime mins-dropping guard —
    # growth can cost the new mins field, never the pre-r17 contract
    padded = {k: 999.999 for k in bench.HEADLINE}
    for i in range(10):
        padded[f"future_round_added_query_number_{i:02d}"] = 999.999
    line = bench.compact_line(json.loads(_compact_line(padded)))
    assert len(line) <= TAIL_WINDOW
    assert set(json.loads(line)["queries"]) == set(padded)


def test_overflow_drops_only_mins():
    # the runtime guard: a line past COMPACT_LINE_MAX loses mins and
    # nothing else — through bench.main's own fallback
    compact = json.loads(_compact_line({k: 999.999 for k in bench.HEADLINE}))
    compact["queries"] = {f"{k}_{i}": 999.999 for k in bench.HEADLINE for i in range(4)}
    assert len(json.dumps(compact, separators=(",", ":"))) > bench.COMPACT_LINE_MAX
    parsed = json.loads(bench.compact_line(compact))
    assert "mins" not in parsed
    for field in ("metric", "value", "unit", "queries", "total_min", "sf"):
        assert field in parsed
    assert parsed["queries"] == compact["queries"]


def test_load_gate_defaults():
    # the r17 load gate: documented defaults stay wired to the env
    # knobs (an exported knob is what the module must have picked up)
    env = os.environ
    assert bench.LOAD_GATE == float(env.get("SPARK_GRAFT_BENCH_LOAD_GATE", "2.5"))
    assert bench.LOAD_WAIT == float(env.get("SPARK_GRAFT_BENCH_LOAD_WAIT", "60"))
