"""Seeded inputs for the benchmark: tables, query streams, commit deltas.

Everything here is a pure function of ``seed`` (numpy ``default_rng``
and ``random.Random``), so one seed always yields the same bytes, the
same query texts and the same commit stream. Nothing here imports
Spark or the engine: the engine only ever sees what these functions
produce.

Tables follow the repository's fixture schemas (FIXTURES.md) and
value ranges, measured on the sf0.1 fixtures: ``l_shipdate`` spans
1995-01-02..2001-11-04, ``o_orderdate`` 1995-01-01..2001-08-01, so
query literals are drawn from those spans (TPC-H-classic 1992-1998
literals would mostly select nothing).
"""

from __future__ import annotations

import datetime as dt
import random

import numpy as np
import pyarrow as pa

SHIP_LO = dt.date(1995, 1, 2)
SHIP_HI = dt.date(2001, 11, 4)
ORDER_LO = dt.date(1995, 1, 1)
ORDER_HI = dt.date(2001, 8, 1)
SHIP_DAYS = (SHIP_HI - SHIP_LO).days
ORDER_DAYS = (ORDER_HI - ORDER_LO).days

VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = ["en", "zh", "es", "fr", "de"]
SEGMENTS = ["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"]
PTYPES = ["LARGE", "ECONOMY", "SMALL", "STANDARD", "MEDIUM", "PROMO"]
ADJ = ["blue", "old", "small", "new", "large", "hot", "cold", "red"]
NOUN = ["widget", "gizmo", "ring", "gear", "bolt", "plate", "rod", "anvil"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]

# the lineitem columns the clustered lake tables carry zone maps on
ZONE_COLS = ["l_shipdate", "l_quantity", "l_suppkey"]
# the materialized view both lake workloads register over lineitem
MV_SQL = (
    "SELECT l_returnflag, COUNT(*) AS n, SUM(l_linenumber) AS sum_ln, "
    "MIN(l_quantity) AS min_q, MAX(l_quantity) AS max_q, "
    "MIN(l_discount) AS min_d, MAX(l_discount) AS max_d "
    "FROM lineitem GROUP BY l_returnflag"
)


def _ts(days0: dt.date, offsets: np.ndarray) -> pa.Array:
    base = np.datetime64(days0.isoformat(), "us")
    return pa.array(base + offsets.astype("timedelta64[D]"), pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _sizes(sf: float) -> dict[str, int]:
    return {
        "customer": max(150, int(150_000 * sf)),
        "supplier": max(10, int(10_000 * sf)),
        "part": max(200, int(200_000 * sf)),
        "orders": max(1500, int(1_500_000 * sf)),
        "documents": max(500, int(50_000 * sf)),
        "embeddings": max(500, int(20_000 * sf)),
    }


def lineitem_rows(
    rng: np.random.Generator, orderkeys: np.ndarray, n_part: int, n_supp: int
) -> pa.Table:
    """Line items for the given order keys, 1-7 lines each, so
    ``(l_orderkey, l_linenumber)`` is unique."""
    lines = rng.integers(1, 8, len(orderkeys))
    ok = np.repeat(orderkeys, lines)
    n = len(ok)
    starts = np.cumsum(lines) - lines
    ln = np.arange(n) - np.repeat(starts, lines) + 1
    qty = rng.integers(1, 51, n).astype(np.float64)
    return pa.table({
        "l_orderkey": pa.array(ok, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n), pa.int64()),
        "l_linenumber": pa.array(ln, pa.int32()),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(np.round(qty * rng.uniform(900, 2100, n), 2)),
        "l_discount": pa.array(rng.integers(0, 11, n) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n) / 100.0),
        "l_returnflag": pa.array(rng.choice(np.array(["A", "N", "R"]), n)),
        "l_linestatus": pa.array(rng.choice(np.array(["F", "O"]), n)),
        "l_shipdate": _ts(SHIP_LO, rng.integers(0, SHIP_DAYS + 1, n)),
    })


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    """Random 10-100 word texts over the fixture vocabulary; 5% are
    near-duplicates (an earlier text plus one extra word), so the
    Jaccard joins always have pairs to find."""
    vocab = np.array(VOCAB)
    texts: list[str] = []
    for i in range(n):
        if i > 20 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(vocab[rng.integers(0, len(vocab), rng.integers(10, 101))]))
    langs = np.array(LANGS)[rng.choice(5, n, p=[0.4, 0.15, 0.15, 0.15, 0.15])]
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts),
        "lang": pa.array(langs),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _embeddings(rng: np.random.Generator, n: int, dim: int = 64) -> pa.Table:
    vecs = (rng.standard_normal((n, dim)) * 0.12).astype(np.float32)
    emb = pa.FixedSizeListArray.from_arrays(pa.array(vecs.ravel()), dim).cast(
        pa.list_(pa.float32())
    )
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": emb,
        "label": pa.array(rng.integers(0, 10, n), pa.int32()),
    })


def tables(seed: int, sf: float, text: bool = False) -> dict[str, pa.Table]:
    """The star schema at scale ``sf`` (lineitem ~6M x sf rows);
    ``text`` adds ``documents`` and ``embeddings``."""
    rng = np.random.default_rng([seed, 1])
    n = _sizes(sf)
    out = {
        "region": pa.table({
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": pa.array(REGIONS),
        }),
        "nation": pa.table({
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }),
    }
    nc, ns, npart, no = n["customer"], n["supplier"], n["part"], n["orders"]
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(nc), pa.int64()),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(nc)]),
        "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, nc)),
        "c_mktsegment": pa.array(np.array(SEGMENTS)[rng.integers(0, 5, nc)]),
    })
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(ns), pa.int64()),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(ns)]),
        "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, ns)),
    })
    out["part"] = pa.table({
        "p_partkey": pa.array(np.arange(npart), pa.int64()),
        "p_name": pa.array([
            f"{ADJ[a]} {NOUN[b]}"
            for a, b in zip(rng.integers(0, 8, npart), rng.integers(0, 8, npart))
        ]),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, npart)]),
        "p_type": pa.array(np.array(PTYPES)[rng.integers(0, 6, npart)]),
        "p_size": pa.array(rng.integers(1, 51, npart), pa.int32()),
        # unrounded: a price on a decimal grid puts q9's rounded profit
        # sums exactly on .xx5 boundaries, where summation order decides
        # the rounding and the oracle comparison flips by one cent
        "p_retailprice": pa.array(900 + rng.uniform(0, 100, npart)),
    })
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(no), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, nc, no), pa.int64()),
        "o_orderstatus": pa.array(np.array(["F", "O", "P"])[rng.integers(0, 3, no)]),
        "o_totalprice": pa.array(_money(rng, 1000.0, 500_000.0, no)),
        "o_orderdate": _ts(ORDER_LO, rng.integers(0, ORDER_DAYS + 1, no)),
        "o_orderpriority": pa.array(np.array(PRIORITIES)[rng.integers(0, 5, no)]),
    })
    out["lineitem"] = lineitem_rows(rng, np.arange(no), npart, ns)
    if text:
        out["documents"] = _documents(rng, n["documents"])
        out["embeddings"] = _embeddings(rng, n["embeddings"])
    return out


def append_delta(seed: int, k: int, n_rows: int, first_orderkey: int,
                 n_part: int, n_supp: int) -> pa.Table:
    """Commit ``k``'s appended line items: about ``n_rows`` rows on
    fresh order keys, shipdates over the whole span (so every cached
    range answer can change)."""
    rng = np.random.default_rng([seed, 2, k])
    n_orders = max(1, n_rows // 4)
    keys = np.arange(first_orderkey, first_orderkey + n_orders)
    return lineitem_rows(rng, keys, n_part, n_supp)


# -- SQL ---------------------------------------------------------------

def _day(lo: dt.date, off: int) -> str:
    return f"TIMESTAMP '{(lo + dt.timedelta(days=int(off))).isoformat()} 00:00:00'"


def _slice(r: random.Random, lo: dt.date, span: int, n: int) -> tuple[str, str]:
    """An ``n``-day slice at a random offset. The length is fixed per
    shape, so every seed's queries read about the same number of rows
    and only where they read changes."""
    a = r.randint(0, span - n)
    return _day(lo, a), _day(lo, a + n)


# Each query maker takes the widget's occurrence ``j`` of its shape and
# draws literals from ``r``. What changes a query's plan (a comparison's
# direction, scalar or grouped, ascending or descending) follows ``j``,
# so every seed's dashboard holds the same plans and only the literals
# move with the seed.

def q_count_range(r: random.Random, j: int) -> str:
    a, b = _slice(r, SHIP_LO, SHIP_DAYS, 365)
    q = r.randint(1, 50)
    op = [">=", "<="][j % 2]
    return (
        f"SELECT COUNT(*) AS n, MIN(l_quantity) AS min_q, MAX(l_shipdate) AS last_ship "
        f"FROM lineitem WHERE l_shipdate >= {a} AND l_shipdate <= {b} "
        f"AND l_quantity {op} {q}"
    )


def q_mv_rollup(r: random.Random, j: int) -> str:
    """A rollup the MV (grouped on ``l_returnflag``) can answer: three
    of its partials besides the count, filtered to two group keys, and
    rolled up to one row on every third occurrence."""
    aggs = ["COUNT(*) AS n"] + r.sample(
        ["SUM(l_linenumber) AS sum_ln", "MIN(l_quantity) AS min_q",
         "MAX(l_quantity) AS max_q", "MIN(l_discount) AS min_d",
         "MAX(l_discount) AS max_d"], 3)
    picked = sorted(r.sample(["A", "N", "R"], 2))
    where = f" WHERE l_returnflag IN ({', '.join(repr(v) for v in picked)})"
    if j % 3 == 2:
        return f"SELECT {', '.join(aggs)} FROM lineitem{where}"
    order = r.choice(["ASC", "DESC"])
    return (
        f"SELECT l_returnflag, {', '.join(aggs)} FROM lineitem{where} "
        f"GROUP BY l_returnflag ORDER BY l_returnflag {order}"
    )


def q_topk_raw(r: random.Random, j: int) -> str:
    off = r.randint(0, SHIP_DAYS - 30)
    k = r.randint(5, 20)
    if j % 2 == 0:
        return (
            f"SELECT l_orderkey, l_linenumber, l_shipdate, l_quantity FROM lineitem "
            f"WHERE l_shipdate >= {_day(SHIP_LO, off)} "
            f"ORDER BY l_shipdate ASC, l_orderkey ASC, l_linenumber ASC LIMIT {k}"
        )
    return (
        f"SELECT l_orderkey, l_linenumber, l_shipdate, l_extendedprice FROM lineitem "
        f"WHERE l_shipdate <= {_day(SHIP_LO, off + 30)} "
        f"ORDER BY l_shipdate DESC, l_orderkey ASC, l_linenumber ASC LIMIT {k}"
    )


def q_fact_supplier(r: random.Random, j: int) -> str:
    a, b = _slice(r, SHIP_LO, SHIP_DAYS, 120)
    return (
        f"SELECT s.s_nationkey, COUNT(*) AS n, SUM(l.l_quantity) AS qty "
        f"FROM lineitem l JOIN supplier s ON l.l_suppkey = s.s_suppkey "
        f"WHERE l.l_shipdate >= {a} AND l.l_shipdate < {b} "
        f"GROUP BY s.s_nationkey ORDER BY n DESC, s.s_nationkey ASC LIMIT {r.randint(5, 15)}"
    )


def q_star3(r: random.Random, j: int) -> str:
    a, b = _slice(r, ORDER_LO, ORDER_DAYS, 180)
    seg = r.choice(SEGMENTS)
    return (
        "SELECT n.n_name, COUNT(*) AS orders, SUM(o.o_totalprice) AS revenue "
        "FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey "
        "JOIN nation n ON c.c_nationkey = n.n_nationkey "
        f"WHERE o.o_orderdate >= {a} AND o.o_orderdate < {b} AND c.c_mktsegment = '{seg}' "
        f"GROUP BY n.n_name ORDER BY revenue DESC, n.n_name ASC LIMIT {r.randint(5, 15)}"
    )


def q_window_rank(r: random.Random, j: int) -> str:
    a, b = _slice(r, ORDER_LO, ORDER_DAYS, 30)
    k = r.randint(1, 3)
    return (
        "SELECT o_orderpriority, o_orderkey, o_totalprice, rk FROM ("
        "SELECT o_orderpriority, o_orderkey, o_totalprice, "
        "RANK() OVER (PARTITION BY o_orderpriority ORDER BY o_totalprice DESC, o_orderkey ASC) AS rk "
        f"FROM orders WHERE o_orderdate >= {a} AND o_orderdate < {b}) "
        f"WHERE rk <= {k} ORDER BY o_orderpriority ASC, rk ASC"
    )


def dashboard_widgets(seed: int, n: int = 16) -> list[str]:
    """The dashboard's hot set: ``n`` distinct widget texts, shapes
    round-robin: range count (agg pushdown), MV rollup, fact JOIN
    supplier (star pushdown), recent rows (top-k), and two that decline
    every planner, a 3-way star over orders/customer/nation and a
    window rank. The grouped top-k of the reference is left out: its
    agg-pushdown answer is a local relation the result cache never
    stores, so it would miss on every re-fire."""
    r = random.Random(f"widgets:{seed}")
    makers = [q_count_range, q_mv_rollup, q_fact_supplier, q_topk_raw, q_star3, q_window_rank]
    out: list[str] = []
    i = 0
    while len(out) < n:
        q = makers[i % len(makers)](r, i // len(makers))
        if q not in out:
            out.append(q)
            i += 1
    return out


def dashboard_refill(n_widgets: int, burst: int) -> list[list[int]]:
    """The refresh a commit triggers: the whole hot set once, cut into
    bursts of ``burst`` widgets in widget order, so every seed's bursts
    hold the same shapes."""
    return [list(range(i, min(n_widgets, i + burst))) for i in range(0, n_widgets, burst)]


def dashboard_refires(cycle: int, n_widgets: int, burst: int,
                      n_bursts: int) -> list[list[int]]:
    """Cycle ``cycle``'s re-fired bursts: ``n_bursts`` bursts of
    ``burst`` widget indices drawn Zipf-skewed (weight 1/(i + 1) for
    widget i). Widget shapes are round-robin and this pattern does not
    depend on the seed, so every seed fires the same shape mix and only
    the literals change: the burst-latency median then never flips
    between burst mixes of different cost."""
    weights = [1.0 / (i + 1) for i in range(n_widgets)]
    r = random.Random(f"refires:{cycle}")
    return [r.choices(range(n_widgets), weights=weights, k=burst) for _ in range(n_bursts)]


# the heavy operator families of the registry: dedup joins, similarity,
# graph, sketches, retrieval, TPC-H q9/q21 and the data-quality suite.
# graph_pagerank is left out: its DuckDB oracle (three unrolled rounds
# of CTEs) needs more than 3 GB and ~5 s per run at this scale.
REGISTRY_KEYS = [
    "dedup_ngram_jaccard",
    "dedup_prefix_filter",
    "dedup_minhash_lsh",
    "sim_cosine_topk",
    "graph_triangles",
    "sketch_cms_heavy_hitters",
    "sketch_bloom_semijoin",
    "text_bm25_topk",
    "tpch_q9_product_type_profit",
    "tpch_q21_suppliers_who_kept_waiting",
    "dq_expectations",
]


def registry_order(seed: int) -> list[str]:
    keys = list(REGISTRY_KEYS)
    random.Random(f"registry:{seed}").shuffle(keys)
    return keys


def run_log(rows: list[tuple[int, str, int]]) -> pa.Table:
    """``registry_batch``'s run-log rows: (op number, key, count)."""
    return pa.table({
        "op": pa.array([r[0] for r in rows], pa.int64()),
        "key": pa.array([r[1] for r in rows], pa.string()),
        "n": pa.array([r[2] for r in rows], pa.int64()),
    })
