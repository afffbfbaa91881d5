"""Driver-side zone-map manifests (operators/zonemaps.py): group
manifests are read and written with pyarrow through the lake
filesystem, so an append's only Spark work is the delta's stats scan.
These tests pin that budget, the driver-side fold and codec against
what Spark itself computes and reads, and the layouts the reader must
still accept (duplicated rows, Spark-written multi-part groups, URI
paths through the Hadoop FileSystem)."""

from __future__ import annotations

import datetime as dt
import decimal
import json
import os
import shutil

import pyspark.sql.functions as F

from quack_reduce_spark.engine import Engine
from quack_reduce_spark.operators import zonemaps as Z


def _kv(spark, lo, hi):
    return spark.range(lo, hi).select(
        F.col("id").alias("k"), (F.col("id") * 0.5).alias("v")
    )


def _plain(spark, path, n_files=6, n=6000):
    _kv(spark, 0, n).repartitionByRange(n_files, "k").write.mode(
        "overwrite"
    ).parquet(path)
    Z.write_zonemap(spark, path, ["k", "v"])


def _group_files(path):
    """{group-dir name: sorted names} under ``_zonemap/``."""
    zm = os.path.join(path, Z.ZONEMAP_DIR)
    return {
        g: sorted(os.listdir(os.path.join(zm, g)))
        for g in os.listdir(zm)
        if g.startswith("__g=")
    }


def _driver_rows(path):
    doc, epoch = Z._read_list_cached(path)
    return Z._group_rows(path, list(doc["groups"]), epoch)


def _by_file(rows):
    return {r["file"]: dict(r) for r in rows}


def test_append_runs_at_most_two_spark_jobs(spark, tmp_path):
    """An append of one file on a plain zone-mapped table runs the
    delta's stats collect and nothing else: no manifest read, write,
    checkpoint or summary job (the parent code ran 11 here)."""
    path = str(tmp_path / "budget")
    _plain(spark, path)
    _kv(spark, 10_000, 10_240).coalesce(1).write.mode("append").parquet(path)
    st = spark.sparkContext.statusTracker()
    before = set(st.getJobIdsForGroup(None))
    assert Z.append_zonemap(spark, path, ["k", "v"]) == 1
    jobs = set(st.getJobIdsForGroup(None)) - before
    assert len(jobs) <= 2, sorted(jobs)
    files, total = Z.prune_files(spark, path, "k", 10_000, 10_100)
    assert total == 7 and len(files) == 1


def test_group_fold_matches_spark_min_max(spark, tmp_path):
    """The list doc's group [lo, hi] folds on the driver with Spark's
    min/max semantics: NaN sorts above every double, nulls are
    skipped, an all-null column folds to None — on the full build and
    on an append alike."""
    path = str(tmp_path / "fold")
    nan = float("nan")
    schema = "f int, x double, y double"
    parts = [[(0, 1.0, None), (0, nan, None)], [(1, 2.0, None), (1, 3.0, None)], [(2, nan, None)]]
    for rows in parts:
        spark.createDataFrame(rows, schema).coalesce(1).write.mode("append").parquet(path)
    Z.write_zonemap(spark, path, ["x", "y"])

    def check():
        doc = Z._read_list(path)
        (entry,) = doc["groups"].values()
        want = Z.read_zonemap(spark, path).agg(
            F.min("min_x"), F.max("max_x"), F.min("min_y"), F.max("max_y")
        ).first()
        got = [
            entry["stats"]["x"]["lo"], entry["stats"]["x"]["hi"],
            entry["stats"]["y"]["lo"], entry["stats"]["y"]["hi"],
        ]
        # json renders NaN as NaN, so NaN == NaN compares as text
        assert json.dumps(got) == json.dumps([Z._enc(v) for v in want])
        return got

    got = check()
    assert got[0] == {"t": "float", "v": 1.0} and got[2] is None
    spark.createDataFrame([(3, -1.0, None)], schema).coalesce(1).write.mode(
        "append"
    ).parquet(path)
    assert Z.append_zonemap(spark, path, ["x", "y"]) == 1
    assert check()[0] == {"t": "float", "v": -1.0}


def test_driver_codec_round_trips_every_stats_type(spark, tmp_path):
    """The reader's rows equal a Spark read of the same manifest files
    for every stats representation: epoch-micros timestamps,
    timestamp_ntz, date, unscaled and wide decimals, strings (and
    partition paths) holding a space and ``+``, and the bloom and HLL
    arrays — after the full build and after an append."""
    path = str(tmp_path / "types")

    def frame(lo, hi):
        return spark.range(lo, hi).select(
            F.col("id").alias("k"),
            F.timestamp_micros(F.col("id") * 3_600_000_123).alias("ts"),
            F.timestamp_micros(F.col("id") * 86_400_000_001)
            .cast("timestamp_ntz")
            .alias("ntz"),
            F.date_add(F.lit(dt.date(2020, 1, 1)), F.col("id").cast("int")).alias("d"),
            (F.col("id") / 8).cast("decimal(12,2)").alias("dec"),
            (F.col("id") * F.lit(decimal.Decimal("12345678901234567890.1234")))
            .cast("decimal(38,4)")
            .alias("wdec"),
            F.concat(F.lit("v +"), F.col("id").cast("string")).alias("s"),
            F.when(F.col("id") % 2 == 0, "a b").otherwise("c+d").alias("p"),
        )

    cols = ["k", "ts", "ntz", "d", "dec", "wdec", "s"]
    frame(0, 400).repartition(3).write.partitionBy("p").parquet(path)
    Z.write_zonemap(spark, path, cols, bloom_cols=["k"], ndv_cols=["k"])
    assert {r["file"].split("/")[-2] for r in _driver_rows(path)} == {"p=a b", "p=c+d"}

    def check():
        spark_rows = _by_file(r.asDict() for r in Z.read_zonemap(spark, path).collect())
        assert _by_file(_driver_rows(path)) == spark_rows

    check()
    frame(400, 450).coalesce(1).write.partitionBy("p").mode("append").parquet(path)
    assert Z.append_zonemap(spark, path, cols) == 2
    check()
    row = next(r for r in _driver_rows(path) if r["n_rows"])
    assert isinstance(row["min_ts"], int) and isinstance(row["min_ntz"], dt.datetime)
    assert isinstance(row["min_wdec"], decimal.Decimal)
    assert len(row["hll_k"]) == 256 and row["bloom_k"]


def test_duplicated_manifest_rows_count_once(spark, tmp_path):
    """A group directory holding the same file's row twice (a replace
    cut short between its write and its delete) still answers an
    exact metadata COUNT(*): the reader de-duplicates by file."""
    path = str(tmp_path / "dup")
    _plain(spark, path)
    ((g, (name,)),) = _group_files(path).items()
    gdir = os.path.join(path, Z.ZONEMAP_DIR, g)
    shutil.copy(os.path.join(gdir, name), os.path.join(gdir, "zz-" + name))
    Z._invalidate_cache(path)
    assert Z.read_zonemap(spark, path).count() == 12  # Spark sees both
    eng = Engine(spark=spark)
    eng.register("dup_t", path)
    d = eng.df("SELECT COUNT(*) AS n FROM dup_t")
    assert eng.last_agg_plan is not None
    assert eng.last_agg_plan["files_scanned"] == 0
    assert d.first()["n"] == 6000
    spark.catalog.dropTempView("dup_t")


def test_spark_written_group_is_read_then_replaced(spark, tmp_path):
    """A group written by Spark's own writer (multi-part, ``.crc``
    sidecars, ``_SUCCESS``) reads the same as the driver's format; the
    first append replaces it with one driver-written manifest file."""
    path = str(tmp_path / "legacy")
    _plain(spark, path)
    before = {r["file"]: r for r in _driver_rows(path)}
    zm = Z.read_zonemap(spark, path)
    schema, rows = zm.schema, zm.collect()
    ((g, names),) = _group_files(path).items()
    gdir = os.path.join(path, Z.ZONEMAP_DIR, g)
    for n in names:
        os.remove(os.path.join(gdir, n))
    spark.createDataFrame(rows, schema).repartition(3).write.mode("append").parquet(gdir)
    Z._invalidate_cache(path)
    listed = os.listdir(gdir)
    assert sum(n.startswith("part-") for n in listed) >= 2
    assert any(n.endswith(".crc") for n in listed) and "_SUCCESS" in listed
    assert _by_file(_driver_rows(path)) == before
    files, total = Z.prune_files(spark, path, "k", 100, 200)
    assert total == 6 and len(files) == 1

    _kv(spark, 9000, 9100).coalesce(1).write.mode("append").parquet(path)
    assert Z.append_zonemap(spark, path, ["k", "v"]) == 1
    (only,) = os.listdir(gdir)
    assert only.startswith("zm-") and only.endswith(".parquet")
    merged = _by_file(_driver_rows(path))
    Z.write_zonemap(spark, path, ["k", "v"])
    assert _by_file(_driver_rows(path)) == merged and len(merged) == 7


def test_uri_table_append_and_prune_through_hadoop_fs(spark, tmp_path):
    """The same append / prune round trip on a ``file:`` URI table,
    whose manifests move through the Hadoop FileSystem."""
    local = str(tmp_path / "uri")
    uri = "file://" + local
    _kv(spark, 0, 3000).repartitionByRange(3, "k").write.parquet(uri)
    assert Z.write_zonemap(spark, uri, ["k", "v"]) == 3
    _kv(spark, 5000, 5100).coalesce(1).write.mode("append").parquet(uri)
    assert Z.append_zonemap(spark, uri, ["k", "v"]) == 1
    ((g, names),) = _group_files(local).items()
    (visible,) = [n for n in names if not n.startswith((".", "_"))]
    assert visible.startswith("zm-")
    got, read, total = Z.scan_pruned(spark, uri, "k", 4000, 5050)
    assert (read, total) == (1, 4)
    assert got.count() == 51
    st = Z.manifest_stats(spark, uri)
    assert st["n_rows"] == 3100 and st["columns"]["k"]["max"] == 5099


def test_reader_renders_native_timestamps_like_spark(spark, tmp_path):
    """Pre-v3 manifests stored session-zoned timestamps natively (INT96
    by default, or UTC-adjusted micros): the reader renders them as
    PySpark's collect() does, in the OS zone, and leaves
    timestamp_ntz wall-clock values alone."""
    import glob
    import time

    rows = [(dt.datetime(2024, 1, 2, 3, 4, 5, 6),) * 2, (None, None)]
    conf = "spark.sql.parquet.outputTimestampType"
    prior_conf, prior_tz = spark.conf.get(conf), os.environ.get("TZ")
    os.environ["TZ"] = "Asia/Tokyo"  # off UTC, so a UTC rendering shows
    time.tzset()
    try:
        for kind in ("INT96", "TIMESTAMP_MICROS"):
            d = str(tmp_path / kind)
            spark.conf.set(conf, kind)
            spark.createDataFrame(rows, "ts timestamp, ntz timestamp_ntz").coalesce(
                1
            ).write.parquet(d)
            (f,) = glob.glob(f"{d}/part-*.parquet")
            with open(f, "rb") as fh:
                got = Z._arrow_rows(fh.read())
            assert got == [r.asDict() for r in spark.read.parquet(d).collect()]
    finally:
        spark.conf.set(conf, prior_conf)
        if prior_tz is None:
            os.environ.pop("TZ", None)
        else:
            os.environ["TZ"] = prior_tz
        time.tzset()
