"""Benchmark harness (driver contract + BASELINE.md protocol).

Runs the headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS], warmup + N timed
repetitions each, and prints ONE JSON line:

    {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Mirrors the reference's benchmark structure (warm runs, mean over
repetitions — /root/reference/src/benchmark.py:49-124), recast for
Spark: the reference's three deployment modes collapse into one
engine whose physical plan already is the partition-parallel
partial/final aggregation the reference hand-rolled.

Protocol layers (each added by a round's verdict ask):

- q9 A/B (r5): tpc-h q9 timed suite-first (isolated) AND in its usual
  slot. Finding: the in-list number is the better one; fresh-session
  JIT warmup dominates the isolated first run.
- Order interleaving (r6): the full headline set runs forward then
  reversed; ``queries_min`` is the per-query min across BOTH orders.
  Suite position moves shared-machine numbers ±20-30%.
- Heavy-query isolation + load telemetry (r7): the five queries that
  regressed 25-35% in r6 with NO code change (graph_pagerank,
  sim_pca_topk, tpch_q21, ml_feature_hashing, dq_expectations) get
  the q9 treatment — a suite-first isolated timing each — and every
  phase records os.getloadavg() so cross-round deltas can be
  attributed to machine contention instead of guessed about
  (``heavy_ab`` + ``load`` in the JSON).
- Concurrent burst (r7): ``concurrent_burst`` records serial vs
  Engine.sql_many wall-clock for a 16-query mixed burst on the same
  session, with result equality asserted — the FAIR-pool concurrency
  story in a driver-visible artifact.
- Compact artifact split (r8): the r6/r7 protocol additions pushed the
  single JSON line past the driver's 2000-char stdout tail window, so
  BENCH_r6/r7 recorded ``parsed: null``. The FULL blob now goes to a
  committed ``bench_full.json``; stdout's LAST line is a compact
  summary (metric/value/total_min/per-query mins, 3-decimal) that fits
  the tail window. ``tests/test_bench_contract.py`` pins the size.
- Per-query MINS on the compact line + a load gate (r17, the r16
  verdict's #1 ask): the r16 PERF verdict compared per-query MEANS
  from a load1-4.31 leg against a load1-1.65 leg and called 16
  untouched queries "regressed" — the means are a load lottery on a
  shared box. The compact line now ALSO carries ``mins`` (the
  min-of-reps across both run orders — the number that tracks plan
  cost, not box weather), and the run GATES on start load: if load1
  exceeds SPARK_GRAFT_BENCH_LOAD_GATE (default 2.5) the bench sleeps
  SPARK_GRAFT_BENCH_LOAD_WAIT seconds (default 60) and re-samples
  once, recording every attempt in ``bench_full.json::load_gate``.
  All pre-existing fields are unchanged (additive only); if a
  pathological run would push the line past the tail window, ``mins``
  alone is dropped so the long-standing fields can never regress to
  ``parsed: null``.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
REPS = int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "3"))
# Load gate (r17): a run that starts on a box already under this much
# load1 produces mean numbers that measure the box, not the code (the
# r16 PERF leg started at load1 4.31 and scored 16 untouched queries
# as regressions). One sleep+retry, both samples recorded.
LOAD_GATE = float(os.environ.get("SPARK_GRAFT_BENCH_LOAD_GATE", "2.5"))
LOAD_WAIT = float(os.environ.get("SPARK_GRAFT_BENCH_LOAD_WAIT", "60"))
# Hard ceiling for the final stdout line (driver tail window ~2000).
COMPACT_LINE_MAX = 1900

# Headline set: the flagship reference-shaped query + one per operator
# family (agg battery, star join, windows, time-series, text, dedup,
# similarity). Everything runs lazily and is forced with a count-style
# action so timing covers full execution, not driver-side collect size.
HEADLINE = [
    "a09_topk",
    "b_agg_pricing_summary",
    "b_join_star_broadcast",
    "b_window_rank",
    "ts_session_window",
    "ts_asof_join",
    "text_quality",
    "dedup_ngram_jaccard",
    "dedup_minhash_lsh",
    "sim_cosine_topk",
    "tpch_q9_product_type_profit",
    "tpch_q21_suppliers_who_kept_waiting",
    # round 4 additions (keep above list stable for r-over-r deltas;
    # totals across rounds compare on the original 12)
    "text_decontaminate",
    "text_bm25_topk",
    # round 5 additions (same protocol: the original 12 stay the
    # cross-round comparison basis)
    "graph_pagerank",
    "sim_pca_topk",
    "ml_feature_hashing",
    "dq_expectations",
    # round 7 additions (warmup builds dedup_lsh_index_probe's
    # persisted index, so its timed reps measure the warm probe path —
    # the per-batch cost that matters)
    "dedup_lsh_index_probe",
    "graph_triangles",
    # round 8 additions: prefix-filtered exact dedup (the ~14x
    # candidate-pruning exact path) and the count-min heavy-hitter
    # sketch (fixed-width mergeable aggregate)
    "dedup_prefix_filter",
    "sketch_cms_heavy_hitters",
    # round 9 additions: theta set expressions (two salt-tree sketch
    # builds + 1x1 array algebra), the fixed-size sample quantiles
    # (payload-carrying salt tree), and the bloom semi-join pre-filter
    # (one fact pass against a literal-array bitset)
    "sketch_theta_intersect",
    "sketch_topn_sample_quantiles",
    "sketch_bloom_semijoin",
    "sketch_join_cardinality",
    # round 9 late addition: the A-ES weighted sample (scan-side key +
    # WindowGroupLimit-bounded stratum window — should track the scan)
    "ml_weighted_sample",
]

# r6 regressed 25-35% with no code change; each gets a suite-first
# isolated timing + load samples so contention is measured, not argued
HEAVY_AB = [
    "tpch_q9_product_type_profit",
    "graph_pagerank",
    "sim_pca_topk",
    "tpch_q21_suppliers_who_kept_waiting",
    "ml_feature_hashing",
    "dq_expectations",
]

BURST_N = 16
BURST_THREADS = 8


def _load() -> list[float]:
    return [round(x, 2) for x in os.getloadavg()]


def _concurrent_burst(spark, sf_dir: str) -> dict:
    """Serial vs sql_many wall-clock for a mixed 16-query burst with
    result-hash equality asserted (concurrency must never change
    answers — only scheduling)."""
    import hashlib

    from quack_reduce_spark.engine import Engine
    from tools.concurrent_queries import build_burst

    eng = Engine(spark=spark)
    eng.register_dir(sf_dir, ["lineitem", "orders", "customer", "nation"])
    burst = build_burst(BURST_N)
    # warm both paths' plans once so the comparison is scheduling, not
    # first-parse cost
    eng.sql(burst[0])

    t0 = time.time()
    serial = [eng.sql(q) for q in burst]
    t_serial = time.time() - t0

    t0 = time.time()
    concurrent = eng.sql_many(burst, max_threads=BURST_THREADS)
    t_concurrent = time.time() - t0

    def h(results) -> str:
        payload = json.dumps([r.records for r in results], sort_keys=True, default=str)
        return hashlib.md5(payload.encode()).hexdigest()

    return {
        "n_queries": len(burst),
        "n_threads": BURST_THREADS,
        "serial_sec": round(t_serial, 3),
        "concurrent_sec": round(t_concurrent, 3),
        "speedup": round(t_serial / max(t_concurrent, 1e-9), 2),
        "results_equal": h(serial) == h(concurrent),
    }


def compact_line(compact: dict) -> str:
    """``compact`` as the final one-line JSON summary on stdout. A line
    past COMPACT_LINE_MAX drops ``mins`` and nothing else (the full
    blob always carries it), so the pre-r17 fields always fit in the
    ~2000-char stdout tail a consumer keeps."""
    line = json.dumps(compact, separators=(",", ":"))
    if len(line) > COMPACT_LINE_MAX:
        line = json.dumps(
            {k: v for k, v in compact.items() if k != "mins"}, separators=(",", ":")
        )
    return line


def main() -> None:
    from quack_reduce_spark.inventory import all_queries
    from quack_reduce_spark.session import get_spark

    # load gate BEFORE the session spins up: one sleep+retry when the
    # box is already busy, so the means measure code, not weather
    load_gate: dict = {"gate": LOAD_GATE, "attempts": [_load()]}
    if load_gate["attempts"][0][0] > LOAD_GATE:
        time.sleep(LOAD_WAIT)
        load_gate["attempts"].append(_load())
        load_gate["waited_sec"] = LOAD_WAIT

    spark = get_spark(app_name="quack-reduce-bench")
    queries = all_queries()
    load_samples: dict[str, list[float]] = {"start": _load()}

    def timed(name: str, warmup: bool = True) -> tuple[float, float]:
        fn = queries[name]
        if warmup:
            fn(spark, SF_DIR).count()  # warmup: plan + fill fs caches
        times = []
        for _ in range(REPS):
            t0 = time.time()
            fn(spark, SF_DIR).count()
            times.append(time.time() - t0)
        return round(statistics.mean(times), 3), round(min(times), 3)

    # Isolated block (suite-first, warm session, quiet suite): each
    # heavy query timed before any interleaved ordering so its number
    # carries no suite-position effect. Load sampled around each.
    heavy_ab: dict[str, dict] = {}
    for name in HEAVY_AB:
        before = _load()
        iso_mean, iso_min = timed(name)
        heavy_ab[name] = {
            "isolated_mean": iso_mean,
            "isolated_min": iso_min,
            "load_before": before,
            "load_after": _load(),
        }
    load_samples["after_isolated"] = _load()

    # Order-interleaving protocol (round-5 verdict ask): suite position
    # moves minutes-level queries ±30% on a shared machine, so every
    # query is timed in TWO orders — forward, then the whole set again
    # reversed on the now-fully-warm session — and the reported
    # per-query min is the min ACROSS both orders. A query is only a
    # real regression when BOTH orders say so.
    results: dict[str, float] = {}
    fwd_min: dict[str, float] = {}
    rev_min: dict[str, float] = {}
    for name in HEADLINE:
        results[name], fwd_min[name] = timed(name)
    load_samples["after_forward"] = _load()
    for name in reversed(HEADLINE):
        _, rev_min[name] = timed(name, warmup=False)
    load_samples["after_reverse"] = _load()
    mins = {k: min(fwd_min[k], rev_min[k]) for k in HEADLINE}
    for name in HEAVY_AB:
        heavy_ab[name]["inlist_mean"] = results[name]
        heavy_ab[name]["inlist_min"] = mins[name]

    burst = _concurrent_burst(spark, SF_DIR)
    load_samples["after_burst"] = _load()

    # the headline metric stays the ORIGINAL 12-query total so the
    # round-over-round comparison is apples-to-apples; later additions
    # report per-query only
    core = HEADLINE[:12]
    total = round(sum(results[k] for k in core), 3)
    q9 = "tpch_q9_product_type_profit"
    full = {
        "metric": "headline_queries_total_mean_sec",
        "value": total,
        "unit": "sec",
        "queries": results,
        # min-of-reps per query ACROSS BOTH run orders: the
        # noise floor on a shared machine (mean is the
        # headline; a mean far above min flags contention, not
        # plan cost). The per-order mins are recorded too so a
        # suspect delta can be attributed to suite position.
        "queries_min": mins,
        "queries_min_forward": fwd_min,
        "queries_min_reverse": rev_min,
        "total_min": round(sum(mins[k] for k in core), 3),
        # kept for cross-round continuity (superset in heavy_ab)
        "q9_ab": {
            "isolated_mean": heavy_ab[q9]["isolated_mean"],
            "isolated_min": heavy_ab[q9]["isolated_min"],
            "inlist_mean": results[q9],
            "inlist_min": mins[q9],
        },
        "heavy_ab": heavy_ab,
        "load": load_samples,
        "load_gate": load_gate,
        "concurrent_burst": burst,
        "sf": SF_DIR,
        "reps": REPS,
    }
    # The committed bench_full.json is a curated IDLE-BOX artifact;
    # routine (driver/CI) runs write their blob to a scratch path so
    # the committed file never shows as modified. Set
    # SPARK_GRAFT_BENCH_COMMIT=1 to refresh the committed artifact.
    if os.environ.get("SPARK_GRAFT_BENCH_COMMIT") == "1":
        full_path = os.path.join(
            os.path.dirname(os.path.abspath(__file__)), "bench_full.json"
        )
    else:
        full_path = os.path.join(tempfile.gettempdir(), "qrs_bench_full.json")
    with open(full_path, "w") as f:
        json.dump(full, f, indent=1, sort_keys=True)
    print(f"full bench blob (heavy_ab/load/per-order mins) -> {full_path}")

    # Compact summary: the driver stores only the LAST ~2000 chars of
    # stdout and parses the final JSON line, so this line must stay
    # small — per-query means + per-query mins (r17), everything else
    # lives in the file. All pre-r17 fields are byte-compatible; if a
    # pathological run would overflow the tail window, ``mins`` alone
    # is dropped (the full blob always carries it).
    compact = {
        "metric": "headline_queries_total_mean_sec",
        "value": total,
        "unit": "sec",
        "queries": results,
        # min-of-reps across BOTH run orders: tracks plan cost, not
        # box load — the r16 verdict's de-noising ask
        "mins": mins,
        "total_min": full["total_min"],
        "burst_speedup": burst["speedup"],
        "burst_equal": burst["results_equal"],
        "load1_start": load_samples["start"][0],
        "sf": SF_DIR,
        "reps": REPS,
        "full": os.path.basename(full_path),
    }
    print(compact_line(compact))


if __name__ == "__main__":
    main()
