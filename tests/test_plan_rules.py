"""The metadata rules behind one loop: each planned query records every
rule it tried (``metadata["rules"]``), a raising rule falls through to
the plain plan with its exception class on record, and the ``last_*``
telemetry is the calling thread's own and never outlives the query
that produced it."""

from __future__ import annotations

import threading

import pyspark.sql.functions as F
import pytest

from quack_reduce_spark.engine import Engine
from quack_reduce_spark.inventory._util import load
from quack_reduce_spark.operators import zonemaps as Z
from quack_reduce_spark.plans import agg_pushdown

RANGE_COUNT = (
    "SELECT COUNT(*) AS n FROM {t} WHERE o_orderdate >= TIMESTAMP '1996-01-01'"
)
TOPK = "SELECT o_orderkey, o_orderdate FROM {t} ORDER BY o_orderdate DESC LIMIT 5"


@pytest.fixture(scope="module")
def zm_path(spark, sf_dir, tmp_path_factory):
    """A date-clustered, zone-mapped orders copy (12 files)."""
    path = str(tmp_path_factory.mktemp("rules") / "orders")
    (
        load(spark, sf_dir, "orders")
        .repartitionByRange(12, "o_orderdate")
        .sortWithinPartitions("o_orderdate")
        .write.mode("overwrite")
        .parquet(path)
    )
    Z.write_zonemap(spark, path, ["o_orderdate"])
    return path


def _range_count(spark, path):
    return spark.read.parquet(path).filter(
        F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp")
    ).count()


def test_rules_record_each_outcome(spark, zm_path):
    eng = Engine(spark=spark, result_cache=False)
    eng.register("ru_orders", zm_path)
    res = eng.sql(RANGE_COUNT.format(t="ru_orders"))
    assert res.metadata["rules"] == {"agg_pushdown": "fired"}
    assert res.records[0]["n"] == _range_count(spark, zm_path)
    res = eng.sql(TOPK.format(t="ru_orders"))
    assert res.metadata["rules"] == {
        "agg_pushdown": "declined",
        "star_pushdown": "declined",
        "mv_rewrite": "declined",
        "topk_pushdown": "fired",
    }
    assert "topk" in res.metadata["zonemap"]["ru_orders"]
    spark.catalog.dropTempView("ru_orders")


def test_no_rules_without_manifests_or_mvs(spark, sf_dir):
    eng = Engine(spark=spark, result_cache=False)
    eng.register("ru_plain", f"{sf_dir}/nation.parquet")
    res = eng.sql("SELECT COUNT(*) AS n FROM ru_plain")
    assert "rules" not in res.metadata and "zonemap" not in res.metadata
    spark.catalog.dropTempView("ru_plain")


def test_mv_rewrite_does_not_outlive_its_query(spark, zm_path, tmp_path):
    """An MV answer followed by an agg-pushdown answer leaves no MV
    telemetry behind."""
    eng = Engine(spark=spark, result_cache=False)
    eng.register("ru_mv", zm_path)
    rollup = "SELECT o_orderstatus, COUNT(*) AS n FROM ru_mv GROUP BY o_orderstatus"
    eng.create_materialized_view("ru_mv_by_status", rollup, str(tmp_path / "mv"))
    eng.sql(rollup)
    assert eng.last_mv_rewrite is not None
    eng.sql(RANGE_COUNT.format(t="ru_mv"))
    assert eng.last_agg_plan is not None
    assert eng.last_mv_rewrite is None
    spark.catalog.dropTempView("ru_mv")
    spark.catalog.dropTempView("ru_mv_by_status")


def test_each_thread_reads_its_own_telemetry(spark, zm_path):
    """An agg-pushdown query and a top-k query on two threads: after
    both have run, each thread still reads its own report."""
    eng = Engine(spark=spark, result_cache=False)
    eng.register("ru_threads", zm_path)
    barrier = threading.Barrier(2, timeout=120)
    seen: dict[str, tuple] = {}

    def run(kind: str, query: str) -> None:
        eng.sql(query)
        barrier.wait()
        seen[kind] = (eng.last_agg_plan, eng.last_zonemap_report)

    threads = [
        threading.Thread(target=run, args=("agg", RANGE_COUNT.format(t="ru_threads"))),
        threading.Thread(target=run, args=("topk", TOPK.format(t="ru_threads"))),
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join(180)
    agg_plan, agg_report = seen["agg"]
    assert agg_plan is not None and "agg_pushdown" in agg_report["ru_threads"]
    topk_plan, topk_report = seen["topk"]
    assert topk_plan is None and "topk" in topk_report["ru_threads"]
    # the calling thread ran nothing
    assert eng.last_zonemap_report == {} and eng.last_agg_plan is None
    spark.catalog.dropTempView("ru_threads")


@pytest.mark.planner_fault
def test_raising_rule_falls_back_on_record(spark, zm_path, monkeypatch):
    def broken(df, paths):
        raise RuntimeError("injected")

    monkeypatch.setattr(agg_pushdown, "extract_scalar_agg", broken)
    eng = Engine(spark=spark, result_cache=False)
    eng.register("ru_fault", zm_path)
    res = eng.sql(RANGE_COUNT.format(t="ru_fault"))
    assert res.metadata["rules"]["agg_pushdown"] == "raised:RuntimeError"
    assert res.records[0]["n"] == _range_count(spark, zm_path)
    assert eng.last_agg_plan is None
    spark.catalog.dropTempView("ru_fault")
