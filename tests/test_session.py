"""Budgets for the per-JVM fixed costs ``session.configure`` removes:
py4j round trips per ``Column`` op (no call-site capture) and codegen
compiles on a warm pass (a generated-class cache that holds the
working set). ``make compile-budget`` runs this module."""

from __future__ import annotations

import os
import subprocess
import sys

import pyspark.sql.functions as F

from quack_reduce_spark.session import CODEGEN_CACHE_ENTRIES

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_configured_session_sets_both_settings(spark):
    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == str(CODEGEN_CACHE_ENTRIES)
    assert spark.conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"


def test_column_ops_make_at_most_two_round_trips_each(spark, monkeypatch):
    """With call-site capture on, each op also fetches the JVM origin
    class, reads a conf and sets/clears the origin: ~9 round trips."""
    from py4j.clientserver import ClientServerConnection

    sent = [0]
    send = ClientServerConnection.send_command

    def counted(self, command, *args, **kwargs):
        sent[0] += 1
        return send(self, command, *args, **kwargs)

    def build() -> int:
        e, ops = F.col("a"), 1
        for i in range(1, 20):
            e, ops = e + F.lit(i), ops + 2
        e.cast("long").alias("total")
        return ops + 2

    build()  # first use memoizes PySpark's debugging flag
    monkeypatch.setattr(ClientServerConnection, "send_command", counted)
    ops = build()
    assert 0 < sent[0] <= 2 * ops, (sent[0], ops)


_COMPILE_SCRIPT = r"""
import sys

from pyspark.sql import SparkSession

from quack_reduce_spark.inventory import all_queries
from quack_reduce_spark.session import configure

sf_dir = sys.argv[1]
spark = configure(
    SparkSession.builder.appName("compile-budget").master("local[2]"),
    shuffle_partitions=2,
).getOrCreate()
compiles = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
builders = all_queries()
keys = [
    "dedup_ngram_jaccard", "dedup_prefix_filter", "graph_triangles",
    "tpch_q21_suppliers_who_kept_waiting", "dq_expectations",
]
for k in keys:
    builders[k](spark, sf_dir).count()
first = compiles.getCount()
for k in keys:
    builders[k](spark, sf_dir).count()
print(f"COMPILES {first} {compiles.getCount() - first}")
spark.stop()
"""


def test_second_pass_compiles_no_new_classes(sf_dir):
    """A warm pass over five registry builders compiles nothing. Their
    ~130 classes overflow Spark's default 100-entry cache, which
    recompiles ~95 of them on every pass. Its own JVM: the cache admits
    by size (Caffeine), so classes the suite compiled earlier could
    evict this working set."""
    proc = subprocess.run(
        [sys.executable, "-c", _COMPILE_SCRIPT, sf_dir],
        capture_output=True, text=True, timeout=600, cwd=REPO,
    )
    assert proc.returncode == 0, (proc.stdout[-2000:], proc.stderr[-2000:])
    first, second = map(int, proc.stdout.split("COMPILES ")[1].split())
    assert first > 100, first  # else the default cache would hold it too
    assert second == 0, (first, second)
