"""Time ``append_zonemap`` on a large multi-file delta, or a full
``write_zonemap`` build of a table of that shape.

A streaming sink or a lake commit can hand ``append_zonemap`` a delta
of any size, and the append stats it on the driver. The append modes
build a small zone-mapped table (6 files, 60k rows), then append
``reps + 1`` deltas of ``files`` files x ``rows`` rows each and time
each append; the first is a warm-up. The build modes write a fresh
table of ``files`` x ``rows`` ``reps + 1`` times and time the
``write_zonemap`` after each write (the first is a warm-up), so every
timed build pays the table's schema inference as the build after a
real write does. Columns: long, double, decimal(12,2), a low-NDV
string, a session-zoned timestamp and an int.

Usage: python tools/append_delta_bench.py [MODE] [rows] [files] [reps]
MODE is ``plain`` or ``sketch`` (append), ``build``, ``build-sketch`` or
``build-uri`` (defaults: plain 300000 4 3). ``sketch`` adds a Bloom
column and two HLL columns; ``build-uri`` names the table by a
``file:`` URI, so its files move through the Hadoop FileSystem. Prints
one JSON line: the median and each timed call in ms. Run it from two
checkouts to compare them.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pyspark.sql.functions as F  # noqa: E402
from pyspark.sql import SparkSession  # noqa: E402

from quack_reduce_spark.operators import zonemaps as Z  # noqa: E402
from quack_reduce_spark.session import configure  # noqa: E402

COLS = ["k", "v", "d", "s", "ts", "q"]


def _frame(spark: SparkSession, lo: int, hi: int):
    return spark.range(lo, hi).select(
        F.col("id").alias("k"),
        (F.col("id") * 0.5).alias("v"),
        (F.col("id") % 100_000 / 100).cast("decimal(12,2)").alias("d"),
        F.concat(F.lit("s"), (F.col("id") % 7).cast("string")).alias("s"),
        F.timestamp_micros(F.col("id") * 1_000_000).alias("ts"),
        (F.col("id") % 50).cast("int").alias("q"),
    )


def main() -> None:
    mode = sys.argv[1] if len(sys.argv) > 1 else "plain"
    rows = int(sys.argv[2]) if len(sys.argv) > 2 else 300_000
    files = int(sys.argv[3]) if len(sys.argv) > 3 else 4
    reps = int(sys.argv[4]) if len(sys.argv) > 4 else 3
    spark = configure(
        SparkSession.builder.appName("append-delta-bench").master("local[4]"),
        shuffle_partitions=4,
    ).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    root = tempfile.mkdtemp(prefix="append-delta-")
    path = os.path.join(root, "t")
    sketched = mode in ("sketch", "build-sketch")
    sketches = dict(bloom_cols=["k"], ndv_cols=["k", "s"]) if sketched else {}
    try:
        if mode.startswith("build"):
            table = "file://" + path if mode == "build-uri" else path
            times = []
            for rep in range(reps + 1):
                _frame(spark, 0, rows * files).repartitionByRange(files, "k").write.mode(
                    "overwrite"
                ).parquet(table)
                t0 = time.perf_counter()
                assert Z.write_zonemap(spark, table, COLS, **sketches) == files
                if rep:
                    times.append(round((time.perf_counter() - t0) * 1000, 1))
            print(json.dumps({
                "mode": mode, "rows_per_file": rows, "files": files,
                "median_ms": statistics.median(times), "build_ms": times,
            }))
            return
        _frame(spark, 0, 60_000).repartitionByRange(6, "k").write.parquet(path)
        Z.write_zonemap(spark, path, COLS, **sketches)
        times, base = [], 1_000_000
        for rep in range(reps + 1):
            _frame(spark, base, base + rows * files).repartition(files).write.mode(
                "append"
            ).parquet(path)
            base += 2 * rows * files
            t0 = time.perf_counter()
            assert Z.append_zonemap(spark, path, COLS) == files
            if rep:
                times.append(round((time.perf_counter() - t0) * 1000, 1))
        print(json.dumps({
            "mode": mode, "rows_per_file": rows, "files": files,
            "median_ms": statistics.median(times), "append_ms": times,
        }))
    finally:
        shutil.rmtree(root, ignore_errors=True)
        spark.stop()


if __name__ == "__main__":
    main()
