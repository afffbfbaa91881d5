"""Plan-shape inspection helpers (SURVEY §4: verify, don't build).

The reference's optimizations (manual pruning, manual map-reduce) are
Catalyst built-ins here; these helpers let tests assert the built-ins
actually fired — pruned partitions, pushed filters, broadcast joins,
partial/final aggregation, top-k physical op — so the 100 TB design
claims are checked, not assumed.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Any, Callable

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession


@dataclass(frozen=True)
class PlanContext:
    """What a metadata rule reads. Each rule module exposes ``plan(ctx)
    -> (frame, report) | None``: the frame answers the query, ``report``
    becomes the envelope's ``metadata["zonemap"]``, None declines. A
    rule reads ``df`` and the manifests, never a view by name; to
    re-plan the query over pruned scans it calls ``rebind``."""

    spark: SparkSession
    query: str
    df: DataFrame  # analyzed against the registered views
    zm_tables: dict[str, tuple[str, list[str]]]  # name -> (path, stats cols)
    paths: dict[str, str]  # name -> path of the zone-mapped tables
    mvs: dict[str, dict]
    all_paths: dict[str, str]  # name -> path of every registered table
    snap_cache: dict[str, Any] | None
    rebind: Callable[[dict[str, DataFrame]], DataFrame]


def pruned_frame(spark: SparkSession, path: str, files: list[str] | None) -> DataFrame:
    """A table's scan restricted to ``files`` (None: every file)."""
    if files is None:
        return spark.read.parquet(path)
    if files:
        return spark.read.option("basePath", path).parquet(*files)
    return spark.read.parquet(path).where(F.lit(False))


def formatted_plan(df: DataFrame) -> str:
    """The formatted physical plan (what .explain('formatted') prints)."""
    return df._sc._jvm.PythonSQLUtils.explainString(  # type: ignore[attr-defined]
        df._jdf.queryExecution(), "formatted"
    )


def executed_plan(df: DataFrame) -> str:
    """Executed (post-AQE-prep) physical plan string."""
    return df._jdf.queryExecution().executedPlan().toString()


def has_pushed_filter(df: DataFrame, fragment: str) -> bool:
    """True if a parquet PushedFilters entry mentions ``fragment``."""
    plan = formatted_plan(df)
    return any("PushedFilters" in line and fragment in line for line in plan.splitlines())


def read_schema_columns(df: DataFrame) -> list[str]:
    """Columns the parquet scan actually reads (column pruning check)."""
    plan = formatted_plan(df)
    for line in plan.splitlines():
        if "ReadSchema" in line:
            schema = line.split("ReadSchema:", 1)[1]
            return [
                part.split(":")[0].strip()
                for part in schema.strip().lstrip("struct<").rstrip(">").split(",")
            ]
    return []


def has_broadcast_join(df: DataFrame) -> bool:
    return "BroadcastHashJoin" in executed_plan(df)


def has_partial_final_agg(df: DataFrame) -> bool:
    """Partial/final HashAggregate split — the reference's manual
    map-reduce (benchmark.py:185-240) as Spark's default plan."""
    plan = executed_plan(df)
    return plan.count("HashAggregate") >= 2 or "partial_" in plan


def has_top_k(df: DataFrame) -> bool:
    """Sort+limit fused into TakeOrderedAndProject (no full sort)."""
    return "TakeOrderedAndProject" in executed_plan(df)
