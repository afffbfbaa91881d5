"""Driver-side zone-map manifests (operators/zonemaps.py): group
manifests are read and written with pyarrow through the lake
filesystem, and the build and an append stat their files there too, so
an append runs no Spark job and a build only the table's schema
inference. These tests pin those budgets, the differential of the
build and the append against Spark's own stats aggregate
(``spark_stats_reference``) over the stats types and foreign writers,
the driver-side fold and codec against what Spark itself computes and
reads, and the layouts the reader must still accept (duplicated rows,
Spark-written multi-part groups, URI and cwd-relative paths)."""

from __future__ import annotations

import datetime as dt
import decimal
import json
import os
import shutil

import pyspark.sql.functions as F
import pytest
import spark_stats_reference as R

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
    """An append of one file on a plain zone-mapped table runs no Spark
    job at all: the delta file is statted, and the manifests read and
    written, on the driver (a Spark delta scan ran 2 jobs here, and
    Spark-written manifests 11)."""
    path = str(tmp_path / "budget")
    _plain(spark, path)
    _kv(spark, 10_000, 10_240).coalesce(1).write.mode("append").parquet(path)
    st = spark.sparkContext.statusTracker()
    before = set(st.getJobIdsForGroup(None))
    assert Z.append_zonemap(spark, path, ["k", "v"]) == 1
    jobs = set(st.getJobIdsForGroup(None)) - before
    assert not jobs, sorted(jobs)
    files, total = Z.prune_files(spark, path, "k", 10_000, 10_100)
    assert total == 7 and len(files) == 1


def test_bloom_and_ndv_append_runs_no_spark_job(spark, tmp_path):
    """The same zero-job budget with per-file Bloom bitsets and HLL
    registers: both come from the driver's md5 math, and the appended
    file's point lookup and distinct count read them back."""
    path = str(tmp_path / "sketched")
    _kv(spark, 0, 6000).repartitionByRange(6, "k").write.parquet(path)
    Z.write_zonemap(spark, path, ["k", "v"], bloom_cols=["k"], ndv_cols=["k"])
    _kv(spark, 10_000, 10_240).coalesce(1).write.mode("append").parquet(path)
    st = spark.sparkContext.statusTracker()
    before = set(st.getJobIdsForGroup(None))
    assert Z.append_zonemap(spark, path, ["k", "v"]) == 1
    assert not set(st.getJobIdsForGroup(None)) - before
    rows, total = Z.prune_files_multi(spark, path, {"k": (None, None, [10_007], None)})
    assert total == 7 and len(rows) == 1 and rows[0]["bloom_k"]
    est = Z.manifest_ndv(spark, path, "k", rows)["est"]
    assert 200 < est < 280


def test_append_binds_file_columns_as_spark_reads_them(spark, tmp_path):
    """A fresh file that stores ``K`` for the table's ``k`` is statted
    from ``K``, as Spark's reader binds it by default (names match
    ignoring case). Under ``spark.sql.caseSensitive``, or for a file
    without the column at all, the append raises instead of recording
    the column as all-NULL, and the manifest stays as it was."""
    path = str(tmp_path / "cased")
    _plain(spark, path)
    _kv(spark, 10_000, 10_240).withColumnRenamed("k", "K").coalesce(1).write.mode(
        "append"
    ).parquet(path)
    conf = "spark.sql.caseSensitive"
    spark.conf.set(conf, "true")
    try:
        with pytest.raises(ValueError, match="no column"):
            Z.append_zonemap(spark, path, ["k", "v"])
    finally:
        spark.conf.unset(conf)
    assert Z.append_zonemap(spark, path, ["k", "v"]) == 1
    (new,) = [r for r in _driver_rows(path) if r["min_k"] >= 10_000]
    assert (new["min_k"], new["max_k"], new["nulls_k"], new["sum_k"]) == (
        10_000, 10_239, 0, sum(range(10_000, 10_240))
    )
    files, total = Z.prune_files(spark, path, "k", 10_000, 10_100)
    assert total == 7 and len(files) == 1

    _kv(spark, 20_000, 20_010).withColumnRenamed("k", "q").coalesce(1).write.mode(
        "append"
    ).parquet(path)
    doc = Z._read_list(path)
    with pytest.raises(ValueError, match="no column"):
        Z.append_zonemap(spark, path, ["k", "v"])
    assert Z._read_list(path) == doc


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


# -- build vs append: the driver-side delta stats twin ----------------------

_MATRIX_SCHEMA = (
    "i int, l long, d10 string, d30 string, d38 string, x double, s string, "
    "d date, ts long, ntz long, b boolean, pi int, ps string"
)
_MATRIX_COLS = ["i", "l", "d10", "d30", "d38", "x", "s", "d", "ts", "ntz", "b", "pi", "ps"]


def _matrix(spark, rows):
    """A frame over the type matrix. Decimals travel as strings (a
    Python Decimal loses digits past 28 on its way into Spark) and
    timestamps as epoch micros."""
    df = spark.createDataFrame(rows, _MATRIX_SCHEMA)
    return df.select(
        "i", "l",
        F.col("d10").cast("decimal(10,2)").alias("d10"),
        F.col("d30").cast("decimal(30,4)").alias("d30"),
        F.col("d38").cast("decimal(38,0)").alias("d38"),
        "x", "s", "d",
        F.timestamp_micros("ts").alias("ts"),
        F.timestamp_micros("ntz").cast("timestamp_ntz").alias("ntz"),
        "b", "pi", "ps",
    )


def _matrix_row(k, **kw):
    row = dict(
        i=k, l=k * 1000, d10=f"{k}.25", d30=f"{k}12345678901234567890.1234",
        d38=str(k), x=k * 0.5, s=["é", "z", "日本", "a", "\U0001f600"][k % 5] + str(k),
        d=dt.date(2020, 1, 1) + dt.timedelta(days=k), ts=(k - 20) * 3_600_000_001,
        ntz=k * 86_400_000_001, b=k % 3 == 0, pi=1 + k % 2, ps="a b" if k % 2 else "c+d",
    )
    row.update(kw)
    return tuple(row[c] for c in _MATRIX_COLS)


def _canon(v):
    if isinstance(v, float):
        return repr(v)  # NaN and the sign of zero compare as text
    if isinstance(v, list):
        return [_canon(x) for x in v]
    return v


def _manifest_state(path):
    """(rows by unquoted bare file, list-doc group entries, the group
    manifests' Arrow schemas)."""
    import pyarrow.parquet as pq

    rows = {
        Z._unq(Z._bare(r["file"])): {k: _canon(v) for k, v in r.items() if k != "file"}
        for r in _driver_rows(path)
    }
    zm = os.path.join(path, Z.ZONEMAP_DIR)
    schemas = {
        str(pq.read_schema(os.path.join(zm, g, n)))
        for g, names in _group_files(path).items()
        for n in names
        if not n.startswith((".", "_"))
    }
    # group bounds fold over rows in manifest order, which a rebuild's
    # collect does not fix: compare them as numbers (-0.0 == 0.0), NaN
    # as text
    groups = json.loads(json.dumps(Z._read_list(path)["groups"]), parse_constant=str)
    return rows, groups, schemas


def _reference_state(spark, path, cols):
    """(rows by unquoted bare file, Arrow schema) of Spark's own stats
    aggregate over the table at ``path``, at the manifest's Bloom sizes
    and NDV columns."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    doc = Z._read_list(path)
    rows, schema = R.reference_rows(
        spark, path, cols, doc.get("bloom"), list(doc.get("ndv") or {})
    )
    keyed = {
        Z._unq(Z._bare(r["file"])): {k: _canon(v) for k, v in r.items() if k != "file"}
        for r in rows
    }
    return keyed, str(pa.schema([f.with_nullable(True) for f in to_arrow_schema(schema)]))


def _assert_bloom_sized_by_largest_file(path, reference):
    """A build sizes each Bloom bitset for the largest file's row
    count, the number Spark's count(1) gives for it."""
    max_rows = max(r["n_rows"] for r in reference[0].values())
    for cfg in Z._read_list(path)["bloom"].values():
        assert cfg["m"] == Z._bloom_m_for(max_rows, cfg["bpk"])


def _same_rows(driver, spark_rows, wide_cols):
    """Driver-built manifest rows equal Spark's, except that a
    wide-decimal sum Spark leaves NULL may hold the driver's exact
    total where some running total of the file left the sum type:
    whether Spark nulls such a sum depends on its physical aggregate,
    and consumers read NULL as "unavailable", so either answer is
    sound. Anywhere else a NULL must match."""
    assert driver.keys() == spark_rows.keys()
    for f, a in driver.items():
        b = dict(spark_rows[f])
        for c in wide_cols:
            if b[f"sum_{c}"] is None and a[f"sum_{c}"] is not None:
                assert R.running_sum_overflows(f, c), (f, c)
                b[f"sum_{c}"] = a[f"sum_{c}"]
        assert a == b, f


def _check_against_spark(spark, path, cols, appended, rebuilt, wide_cols):
    """write_zonemap(A) + append_zonemap(B) and write_zonemap(A ∪ B)
    both equal Spark's stats aggregate over A ∪ B, row for row and in
    the manifest schema, and equal each other in rows and group
    entries."""
    reference = _reference_state(spark, path, cols)
    _same_rows(appended[0], reference[0], wide_cols)
    _same_rows(rebuilt[0], reference[0], wide_cols)
    assert appended[0] == rebuilt[0]
    assert appended[1] == rebuilt[1]
    assert appended[2] == rebuilt[2] == {reference[1]}
    return reference


def test_append_stats_equal_a_full_build(spark, tmp_path):
    """write_zonemap(A) + append_zonemap(B) gives the manifest rows,
    group entries and manifest schema that write_zonemap(A ∪ B) gives,
    and both equal Spark's own stats aggregate over A ∪ B
    (``spark_stats_reference``), over every stats type: int, long
    (running-sum overflow), decimal (10,2), (30,4) and (38,0)
    (overflowing sum), double (NaN, ±0.0, null, an all-null file),
    non-ASCII strings, date, timestamp under a non-UTC session zone
    (INT96 and micros files), timestamp_ntz, boolean, an empty part
    file, hive int and string partition columns (space, ``+``, the
    default partition), bloom and ndv columns — and the append runs no
    Spark job."""
    path = str(tmp_path / "matrix")
    big, nan = 1 << 62, float("nan")
    tz_conf, ts_conf = "spark.sql.session.timeZone", "spark.sql.parquet.outputTimestampType"
    prior = spark.conf.get(tz_conf), spark.conf.get(ts_conf)
    spark.conf.set(tz_conf, "America/Los_Angeles")
    try:
        spark.conf.set(ts_conf, "TIMESTAMP_MICROS")
        # A: one 20-row file per partition, the largest of the table, so
        # the rebuild sizes its bloom bitsets as the first build did
        _matrix(spark, [_matrix_row(k) for k in range(40)]).coalesce(1).write.partitionBy(
            "pi", "ps"
        ).parquet(path)
        Z.write_zonemap(
            spark, path, _MATRIX_COLS, bloom_cols=["i", "s", "d10", "pi"],
            ndv_cols=["l", "s", "ps"],
        )

        def append(rows):
            _matrix(spark, rows).coalesce(1).write.partitionBy("pi", "ps").mode(
                "append"
            ).parquet(path)

        append([  # an old partition: NaN, ±0.0, null, running-sum overflows
            _matrix_row(50, x=-0.0, l=big, d38="9" * 38),
            _matrix_row(52, x=nan, l=big, d38="9" * 38),
            _matrix_row(54, x=0.0, l=-big, d38="-" + "9" * 38),
            _matrix_row(56, x=None, l=-big, d38="-" + "9" * 38, s=None),
        ])
        append([  # a new partition: an all-null double, overflowing totals
            _matrix_row(k, pi=3, ps="e f+g", x=None, l=big, d38="9" * 38) for k in (60, 61)
        ])
        append([_matrix_row(k, pi=None, x=nan) for k in (71, 73)])  # the default partition
        spark.conf.set(ts_conf, "INT96")
        append([_matrix_row(80, ts=-1), _matrix_row(82, ts=-86_400_000_001)])
        data_cols = [c for c in _MATRIX_COLS if c not in ("pi", "ps")]
        empty_dir = os.path.join(path, "pi=2", "ps=a b")
        n_before = len(os.listdir(empty_dir))
        _matrix(spark, []).select(*data_cols).coalesce(1).write.mode("append").parquet(
            empty_dir
        )
        assert len(os.listdir(empty_dir)) > n_before  # an empty part file

        st = spark.sparkContext.statusTracker()
        before = set(st.getJobIdsForGroup(None))
        assert Z.append_zonemap(spark, path, _MATRIX_COLS) == 5
        assert not set(st.getJobIdsForGroup(None)) - before
        appended = _manifest_state(path)
        Z.write_zonemap(spark, path, _MATRIX_COLS)  # inherits bloom / ndv
        rebuilt = _manifest_state(path)
        reference = _check_against_spark(
            spark, path, _MATRIX_COLS, appended, rebuilt, ["d30", "d38"]
        )
    finally:
        spark.conf.set(tz_conf, prior[0])
        spark.conf.set(ts_conf, prior[1])
    _assert_bloom_sized_by_largest_file(path, reference)
    rows = appended[0]
    assert len(rows) == 7
    # the matrix reaches the cases it names
    (mixed,) = [r for r in rows.values() if r["nulls_x"] == 1]
    assert (mixed["min_x"], mixed["max_x"]) == ("-0.0", "nan")
    # a long sum is NULL once its running total overflows; a wide
    # decimal's only when its total does
    assert mixed["sum_l"] is None and mixed["sum_d38"] == 0 and mixed["nulls_s"] == 1
    (new_part,) = [r for f, r in rows.items() if "/pi=3/ps=e f+g/" in f]
    assert new_part["min_x"] is None and new_part["nulls_x"] == 2
    assert new_part["sum_l"] is None and new_part["sum_d38"] is None
    assert new_part["bloom_pi"] and new_part["hll_ps"]
    (dflt,) = [r for f, r in rows.items() if "__HIVE_DEFAULT_PARTITION__" in f]
    assert dflt["nulls_pi"] == 2 and dflt["bloom_pi"] is None and dflt["max_x"] == "nan"
    assert sum(r["n_rows"] == 0 for r in rows.values()) == 1


def test_append_folds_row_groups_as_the_build_does(spark, tmp_path):
    """A file is statted one row group at a time; the folded row, by
    an append and by a rebuild alike, equals Spark's across group
    boundaries: a long running total that overflows in a later group,
    the first zero's sign, a NaN in a middle group, nulls, strings,
    Bloom words and HLL registers."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    path = str(tmp_path / "groups")
    big, nan = 1 << 62, float("nan")
    spark.createDataFrame(
        [(1, 1.0, 1.0, "m")], "l long, x double, y double, s string"
    ).coalesce(1).write.parquet(path)
    Z.write_zonemap(spark, path, ["l", "x", "y", "s"], bloom_cols=["s"], ndv_cols=["l"])
    delta = pa.table({
        "l": pa.array([big, None, big, -big, -big, 5], pa.int64()),
        "x": [0.0, 1.0, -0.0, None, -0.0, 2.0],
        "y": [1.0, 2.0, nan, 3.0, None, -1.0],
        "s": ["b", "a", None, "é", "z", "a"],
    })
    pq.write_table(delta, os.path.join(path, "delta.parquet"), row_group_size=2)
    assert pq.ParquetFile(os.path.join(path, "delta.parquet")).num_row_groups == 3
    assert Z.append_zonemap(spark, path, ["l", "x", "y", "s"]) == 1
    appended = _manifest_state(path)
    Z.write_zonemap(spark, path, ["l", "x", "y", "s"])
    _check_against_spark(spark, path, ["l", "x", "y", "s"], appended, _manifest_state(path), [])
    (row,) = [r for f, r in appended[0].items() if f.endswith("delta.parquet")]
    assert row["sum_l"] is None and (row["min_x"], row["max_x"]) == ("0.0", "2.0")
    assert (row["min_y"], row["max_y"], row["nulls_y"]) == ("-1.0", "nan", 1)
    assert (row["min_s"], row["max_s"]) == ("a", "é") and row["bloom_s"] and row["hll_l"]


def test_nanos_timestamps_stat_as_the_reader_truncates_them(spark, tmp_path):
    """A session-zoned timestamp stored at nanos (a pyarrow writer's
    choice) stats in the epoch micros the ``sources`` reader gives it
    (``div 1000``, toward zero: -1 ns is 0 µs, -1001 ns is -1 µs), so
    a file whose every value lies less than 1 µs before the epoch
    survives ``ts >= epoch``, as its rows match it."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from quack_reduce_spark.sources import read_parquet_table

    path = tmp_path / "ns"
    path.mkdir()
    for name, vals in (("a.parquet", [1999, -1, None, -1001]), ("b.parquet", [-1, -999])):
        ts = pa.array(vals, pa.timestamp("ns", tz="UTC"))
        pq.write_table(pa.table({"ts": ts}), path / name, coerce_timestamps=None)
    assert Z.write_zonemap(spark, str(path), ["ts"]) == 2
    rows = {os.path.basename(r["file"]): r for r in _driver_rows(str(path))}
    assert [
        (r["min_ts"], r["max_ts"], r["nulls_ts"]) for _, r in sorted(rows.items())
    ] == [(-1, 1, 1), (0, 0, 0)]
    micros = read_parquet_table(spark, str(path)).select(F.unix_micros("ts").alias("u"))
    assert sorted(r.u for r in micros.collect() if r.u is not None) == [-1, 0, 0, 0, 1]
    epoch = dt.datetime(1970, 1, 1, tzinfo=dt.timezone.utc)
    files, total = Z.prune_files(spark, str(path), "ts", epoch, None)
    assert total == len(files) == 2


def test_scan_range_reads_nanos_survivors_as_sql_does(spark, tmp_path):
    """``Engine.scan_range`` over a zone-mapped TIMESTAMP(NANOS) table
    reads the surviving files with the ``sources`` nanos handling, so
    it returns the rows the same range selects through ``Engine.sql``
    (a bare survivor read gave the column as nanos longs)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    path = tmp_path / "ns_range"
    path.mkdir()
    day = 86_400 * 10**9
    for i in range(2):
        ts = pa.array([(10 * i + j) * day + 1999 for j in range(10)], pa.timestamp("ns", tz="UTC"))
        pq.write_table(pa.table({"ts": ts, "v": list(range(10 * i, 10 * i + 10))}),
                       path / f"part-{i}.parquet", coerce_timestamps=None)
    assert Z.write_zonemap(spark, str(path), ["ts"]) == 2
    lo = dt.datetime(1970, 1, 4)
    hi = dt.datetime(1970, 1, 9)
    eng = Engine(spark=spark)
    got = eng.scan_range(str(path), "ts", lo, hi)
    eng.register("ns_range", str(path))
    want = eng.df(
        "SELECT * FROM ns_range WHERE ts BETWEEN TIMESTAMP '1970-01-04' AND TIMESTAMP '1970-01-09'"
    )
    assert dict(got.dtypes)["ts"] == "timestamp"
    assert sorted(got.collect()) == sorted(want.collect())
    assert [r.v for r in sorted(got.collect())] == [3, 4, 5, 6, 7]


def test_append_wide_decimal_sum_is_null_only_past_38_digits(spark, tmp_path):
    """An appended decimal(38,0) sum is the exact total when only a
    running total leaves 38 digits, and NULL when the total does; a
    rebuild gives the same rows. Spark's aggregate agrees up to a NULL
    in the first case, both when it hash-aggregates (every min/max
    buffer fixed-width) and when a string stats column makes it
    sort-aggregate."""
    n = "9" * 38

    def frame(vals):
        sql = ", ".join(f"('{v}', 'x')" for v in vals)
        return spark.sql(
            f"SELECT CAST(v AS decimal(38,0)) AS d, s FROM VALUES {sql} AS t(v, s)"
        ).coalesce(1)

    for cols in (["d"], ["d", "s"]):
        path = str(tmp_path / "_".join(cols))
        frame(["1"]).write.parquet(path)
        Z.write_zonemap(spark, path, cols)
        frame([n, n, "-" + n, "-" + n]).write.mode("append").parquet(path)
        frame([n, n, n]).write.mode("append").parquet(path)
        assert Z.append_zonemap(spark, path, cols) == 2
        appended = _manifest_state(path)
        Z.write_zonemap(spark, path, cols)
        rebuilt = _manifest_state(path)
        _check_against_spark(spark, path, cols, appended, rebuilt, ["d"])
        sums = {r["n_rows"]: r["sum_d"] for r in appended[0].values()}
        assert sums == {1: 1, 4: 0, 3: None}


def test_full_build_equals_spark_on_foreign_writer_files(spark, tmp_path):
    """write_zonemap's driver-built rows equal Spark's own stats
    aggregate on files from writers other than Spark: a pyarrow table
    (uint8, uint32, timestamp[ms] with and without a zone, a
    dictionary-encoded string and a large_string, several row groups;
    one file named without ``.parquet``, one without the large_string
    column, which Spark reads as all-NULL) and a DuckDB file (int,
    bigint, decimal(12,2), double, varchar, date, timestamp,
    decimal(30,3)), with bloom and ndv columns."""
    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    pa_path = str(tmp_path / "pyarrow")
    os.makedirs(pa_path)
    t = pa.table({
        "u8": pa.array([1, 200, None, 7, 0], pa.uint8()),
        "u32": pa.array([4_000_000_000, 3, 5, None, 4_294_967_295], pa.uint32()),
        "tms": pa.array([0, 1_700_000_000_123, None, -5, 7], pa.timestamp("ms")),
        "tmz": pa.array([0, 1_700_000_000_123, None, -5, 7], pa.timestamp("ms", tz="UTC")),
        "dict": pa.array(["b", "a", None, "é", "a"]).dictionary_encode(),
        "big": pa.array(["x", None, "日本", "y", ""], pa.large_string()),
    })
    pq.write_table(t, os.path.join(pa_path, "a.parquet"), row_group_size=2)
    # a Hive writer's file name, and a file from before ``big`` existed
    pq.write_table(t.slice(1, 2), os.path.join(pa_path, "000000_0"))
    pq.write_table(t.slice(2, 3).drop_columns(["big"]), os.path.join(pa_path, "c.parquet"))
    pa_cols = list(t.column_names)

    duck_path = str(tmp_path / "duckdb")
    os.makedirs(duck_path)
    duckdb.connect().execute(f"""
        COPY (SELECT i::INT AS i, (i * 1000)::BIGINT AS l, (i / 8)::DECIMAL(12,2) AS d,
                     CASE WHEN i % 7 = 0 THEN NULL ELSE i * 1.5 END AS x, 'v' || i AS s,
                     DATE '2020-01-01' + i::INT AS dt, TIMESTAMP '2020-01-01' + to_seconds(i) AS ts,
                     (i::HUGEINT * 123456789012345678)::DECIMAL(30,3) AS w
              FROM range(0, 3000) t(i))
        TO '{duck_path}/duck.parquet' (FORMAT parquet, ROW_GROUP_SIZE 1000)""")
    duck_cols = ["i", "l", "d", "x", "s", "dt", "ts", "w"]

    for path, cols, sketches in (
        (pa_path, pa_cols, dict(bloom_cols=["u8", "dict"], ndv_cols=["u32", "big"])),
        (duck_path, duck_cols, dict(bloom_cols=["i", "d"], ndv_cols=["s"])),
    ):
        assert Z.write_zonemap(spark, path, cols, **sketches) == len(Z._data_files(path))
        state = _manifest_state(path)
        reference = _reference_state(spark, path, cols)
        _same_rows(state[0], reference[0], [])
        assert state[2] == {reference[1]}
        _assert_bloom_sized_by_largest_file(path, reference)
    types = Z._read_list(pa_path)["types"]
    assert (types["u8"], types["u32"], types["tms"], types["tmz"]) == (
        "short", "long", "timestamp_ntz", "timestamp"
    )
    rows = {os.path.basename(f): r for f, r in _manifest_state(pa_path)[0].items()}
    assert sorted(rows) == ["000000_0", "a.parquet", "c.parquet"]
    row = rows["a.parquet"]
    assert (row["min_u32"], row["max_u32"], row["min_dict"], row["max_big"]) == (
        3, 4_294_967_295, "a", "日本"
    )
    assert (rows["c.parquet"]["n_rows"], rows["c.parquet"]["nulls_big"]) == (3, 3)


@pytest.mark.parametrize("sketches", [
    {}, {"bloom_cols": ["k"]}, {"ndv_cols": ["k"]},
], ids=["plain", "bloom", "ndv"])
def test_build_runs_one_spark_job_then_none_when_memo_warm(spark, tmp_path, sketches):
    """A plain, bloom or ndv write_zonemap runs at most the table's
    schema inference as a Spark job, and none once the ``sources``
    memo holds the schema (a rebuild of an unchanged table)."""
    path = str(tmp_path / "built")
    _kv(spark, 0, 6000).repartitionByRange(6, "k").write.parquet(path)
    st = spark.sparkContext.statusTracker()
    for budget in (1, 0):
        before = set(st.getJobIdsForGroup(None))
        assert Z.write_zonemap(spark, path, ["k", "v"], **sketches) == 6
        jobs = set(st.getJobIdsForGroup(None)) - before
        assert len(jobs) <= budget, sorted(jobs)
    files, total = Z.prune_files(spark, path, "k", 100, 200)
    assert total == 6 and len(files) == 1


def test_register_after_write_clustered_runs_no_spark_job(spark, tmp_path):
    """write_clustered's zone-map build reads the table schema through
    the ``sources`` memo, so registering the table right after it runs
    no Spark job, and its range query prunes from the manifest."""
    path = str(tmp_path / "clustered")
    eng = Engine(spark=spark)
    assert eng.write_clustered(_kv(spark, 0, 6000), path, ["k"], n_files=6) == 6
    st = spark.sparkContext.statusTracker()
    before = set(st.getJobIdsForGroup(None))
    eng.register("clustered_t", path)
    assert not set(st.getJobIdsForGroup(None)) - before
    got = eng.df("SELECT k FROM clustered_t WHERE k BETWEEN 100 AND 199")
    assert got.count() == 100
    assert eng.last_zonemap_report["clustered_t"]["files_read"] == 1
    spark.catalog.dropTempView("clustered_t")


def test_relative_table_path_builds_and_appends_one_group(spark, tmp_path, monkeypatch):
    """A cwd-relative local table path resolves to the absolute one the
    manifest rows name: the build at ``rel/t`` and appends through the
    relative and then the absolute path keep one group, whose n_files
    equals the listing, with no zero-row phantom rows; each append
    stats only its new file; a pruned read equals a plain scan."""
    monkeypatch.chdir(tmp_path)
    path = str(tmp_path / "rel" / "t")
    _kv(spark, 0, 6000).repartitionByRange(6, "k").write.parquet(path)
    statted = []
    delta_row = Z._delta_row

    def spy(fs, data_dir, p, *args):
        statted.append(p)
        return delta_row(fs, data_dir, p, *args)

    monkeypatch.setattr(Z, "_delta_row", spy)
    assert Z.write_zonemap(spark, "rel/t", ["k", "v"]) == 6
    for i, table in enumerate(("rel/t", path)):
        lo = 10_000 + 1000 * i
        old = set(Z._data_files(path))
        _kv(spark, lo, lo + 100).coalesce(1).write.mode("append").parquet(path)
        (fresh,) = set(Z._data_files(path)) - old
        del statted[:]
        assert Z.append_zonemap(spark, table, ["k", "v"]) == 1
        assert statted == [fresh]
    listing = Z._data_files(path)
    for table in ("rel/t", path):
        (entry,) = Z._read_list(table)["groups"].values()
        assert entry["n_files"] == len(listing) == 8
        assert entry["dir"] == path
        rows = _driver_rows(table)
        assert len(rows) == 8 and all(r["n_rows"] > 0 for r in rows)
    files, total = Z.prune_files(spark, "rel/t", "k", 10_050, 11_020)
    assert total == 8 and len(files) == 2
    pred = F.col("k").between(10_050, 11_020)
    got = sorted(r.k for r in spark.read.parquet(*files).filter(pred).collect())
    want = sorted(r.k for r in spark.read.parquet(path).filter(pred).collect())
    assert got == want and len(want) == 71
