"""Concurrency of the SQL surface: the metadata planners of concurrent
queries overlap (``_plan_lock`` covers only the two windows that touch
the session-global temp views), a ``register`` landing beside another
query's rebind window is not undone by that window's restore, and the
result-cache counters do not lose increments under ``sql_many``."""

from __future__ import annotations

import sys
import threading

import pyspark.sql.functions as F
import pytest

from quack_reduce_spark.engine import Engine
from quack_reduce_spark.inventory._util import load
from quack_reduce_spark.operators import zonemaps as Z
from quack_reduce_spark.plans import agg_pushdown

@pytest.fixture()
def zm_table(spark, sf_dir, tmp_path):
    """A date-clustered, zone-mapped orders copy (12 files)."""
    path = str(tmp_path / "orders")
    (
        load(spark, sf_dir, "orders")
        .repartitionByRange(12, "o_orderdate")
        .sortWithinPartitions("o_orderdate")
        .write.mode("overwrite")
        .parquet(path)
    )
    Z.write_zonemap(spark, path, ["o_orderdate"])
    return path


class _WatchedLock:
    """A lock that records whether another thread had to wait for it."""

    def __init__(self) -> None:
        self._lock = threading.Lock()
        self.owner: int | None = None
        self.contended = threading.Event()

    def __enter__(self):
        if self._lock.locked() and self.owner != threading.get_ident():
            self.contended.set()
        self._lock.acquire()
        self.owner = threading.get_ident()
        return self

    def __exit__(self, *exc) -> None:
        self.owner = None
        self._lock.release()


def test_planners_of_concurrent_queries_overlap(spark, zm_table, monkeypatch):
    """Two concurrent misses must both be inside the agg planner at
    once: each waits there on a 2-party barrier, which only passes if
    neither holds a lock the other needs to get there."""
    eng = Engine(spark=spark, result_cache=False)
    eng.register("cc_orders", zm_table)
    barrier = threading.Barrier(2, timeout=30)
    passed: list[bool] = []
    orig = agg_pushdown.extract_scalar_agg

    def meet(df, paths):
        try:
            barrier.wait()
            passed.append(True)
        except threading.BrokenBarrierError:
            passed.append(False)
        return orig(df, paths)

    monkeypatch.setattr(agg_pushdown, "extract_scalar_agg", meet)
    q1 = "SELECT COUNT(*) AS n FROM cc_orders WHERE o_orderdate >= TIMESTAMP '1996-01-01'"
    q2 = "SELECT MAX(o_orderdate) AS m FROM cc_orders"
    res = eng.sql_many([q1, q2], limit=None, max_threads=2)
    assert passed == [True, True]
    full = spark.read.parquet(zm_table)
    assert res[0].records[0]["n"] == full.filter(
        F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp")
    ).count()
    assert res[1].records[0]["m"] is not None
    spark.catalog.dropTempView("cc_orders")


def test_register_inside_rebind_window_is_kept(
    spark, sf_dir, zm_table, monkeypatch
):
    """An append commit whose register lands while another query has
    its views swapped must survive that query's restore: the later
    query sees the new rows. The commit is started from inside the
    rebind window, and the window waits until the register has either
    finished or is blocked on the plan lock."""
    eng = Engine(spark=spark, result_cache=False)
    eng.register("rw_orders", zm_table)
    n0 = spark.read.parquet(zm_table).count()
    delta = load(spark, sf_dir, "orders").limit(7).withColumn(
        "o_orderkey", F.col("o_orderkey") + 900_000_000
    )

    lock = _WatchedLock()
    eng._plan_lock = lock
    query_thread = threading.get_ident()
    registered = threading.Event()
    started: list[threading.Thread] = []

    def commit_beside():
        delta.coalesce(1).write.mode("append").parquet(zm_table)
        Z.append_zonemap(spark, zm_table, ["o_orderdate"])
        eng.register("rw_orders", zm_table)
        registered.set()

    frame_cls = type(spark.range(1))
    orig_bind = frame_cls.createOrReplaceTempView

    def bind(self, name):
        in_window = (
            threading.get_ident() == query_thread
            and lock.owner == query_thread
            and not started
        )
        if in_window:
            t = threading.Thread(target=commit_beside)
            started.append(t)
            t.start()
            for _ in range(1200):
                if registered.wait(0.05) or lock.contended.is_set():
                    break
        return orig_bind(self, name)

    monkeypatch.setattr(frame_cls, "createOrReplaceTempView", bind)
    pruned = eng.df(
        "SELECT o_orderkey FROM rw_orders "
        "WHERE o_orderdate >= TIMESTAMP '1997-01-01' "
        "AND o_orderdate < TIMESTAMP '1997-04-01'"
    )
    assert eng.last_zonemap_report["rw_orders"]["files_read"] < 12
    assert started, "the query never entered its rebind window"
    started[0].join(60)
    assert not started[0].is_alive() and registered.is_set()
    monkeypatch.undo()
    assert pruned.count() > 0
    assert eng.df("SELECT * FROM rw_orders").count() == n0 + 7
    spark.catalog.dropTempView("rw_orders")


def test_result_cache_counts_every_concurrent_hit(spark, sf_dir, tmp_path):
    """Hits counted from more worker threads than cores, with the
    interpreter switching threads as often as it can, lose no
    increment."""
    src = str(tmp_path / "orders")
    load(spark, sf_dir, "orders").write.mode("overwrite").parquet(src)
    eng = Engine(spark=spark)
    eng.register("hc_orders", src)
    q = "SELECT COUNT(*) AS n FROM hc_orders"
    eng.sql(q)
    before = eng.cache_counts["hits"]
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        res = eng.sql_many([q] * 48, max_threads=12)
    finally:
        sys.setswitchinterval(interval)
    assert all(r.metadata["result_cache"] == {"hit": True} for r in res)
    assert eng.cache_counts["hits"] - before == 48
    spark.catalog.dropTempView("hc_orders")
