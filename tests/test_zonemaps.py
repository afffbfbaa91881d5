"""File-level zone maps (operators/zonemaps.py): manifest stats,
pruned-scan == full-filter equality on every layout, pruning power on
clustered layouts, NULL-file handling, and z-order synergy (pruning on
EITHER dimension of a Morton-clustered write)."""

from __future__ import annotations

import datetime as dt

import pyspark.sql.functions as F
import pytest

from quack_reduce_spark.inventory._util import load
from quack_reduce_spark.operators import zonemaps as Z
from quack_reduce_spark.operators.zorder import zorder_write


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


@pytest.fixture(scope="module")
def sorted_layout(spark, sf_dir, tmp_path_factory):
    """Orders clustered by o_orderdate into 12 files — tight per-file
    date ranges, the layout zone maps are built for."""
    path = str(tmp_path_factory.mktemp("zm") / "orders_sorted")
    orders = load(spark, sf_dir, "orders")
    (
        orders.repartitionByRange(12, "o_orderdate")
        .sortWithinPartitions("o_orderdate")
        .write.mode("overwrite")
        .parquet(path)
    )
    n = Z.write_zonemap(spark, path, ["o_orderdate", "o_totalprice"])
    assert n == 12
    return path


@pytest.fixture(scope="module")
def random_layout(spark, sf_dir, tmp_path_factory):
    """Same rows hash-scattered across 12 files — the adversarial
    layout: zone maps must stay CORRECT (equality) even when they
    cannot prune."""
    path = str(tmp_path_factory.mktemp("zm") / "orders_random")
    orders = load(spark, sf_dir, "orders")
    orders.repartition(12, "o_orderkey").write.mode("overwrite").parquet(path)
    Z.write_zonemap(spark, path, ["o_orderdate", "o_totalprice"])
    return path


def test_manifest_stats_consistent(spark, sf_dir, sorted_layout):
    zm = Z.read_zonemap(spark, sorted_layout)
    total = load(spark, sf_dir, "orders").count()
    agg = zm.agg(
        F.sum("n_rows").alias("n"),
        F.min("min_o_orderdate").alias("lo"),
        F.max("max_o_orderdate").alias("hi"),
    ).collect()[0]
    assert agg["n"] == total
    bad = zm.filter(F.col("min_o_orderdate") > F.col("max_o_orderdate")).count()
    assert bad == 0
    # hidden dir: a table scan must NOT see the manifest
    assert spark.read.parquet(sorted_layout).count() == total


@pytest.mark.parametrize("layout", ["sorted_layout", "random_layout"])
def test_pruned_scan_equals_full_filter(spark, layout, request):
    path = request.getfixturevalue(layout)
    lo, hi = dt.datetime(1998, 1, 1), dt.datetime(1998, 6, 30)
    got, _, _ = Z.scan_pruned(spark, path, "o_orderdate", lo, hi)
    want = spark.read.parquet(path).filter(
        (F.col("o_orderdate") >= F.lit(lo)) & (F.col("o_orderdate") <= F.lit(hi))
    )
    assert _rows(got.select("o_orderkey")) == _rows(want.select("o_orderkey"))


def test_clustered_layout_prunes(spark, sorted_layout):
    lo, hi = dt.datetime(1998, 1, 1), dt.datetime(1998, 6, 30)
    _, read, total = Z.scan_pruned(spark, sorted_layout, "o_orderdate", lo, hi)
    assert total == 12
    assert read <= 3, (read, total)  # ~6 months of a ~7-year span


def test_one_sided_ranges(spark, sorted_layout):
    df_lo, read_lo, _ = Z.scan_pruned(
        spark, sorted_layout, "o_orderdate", lo=dt.datetime(1999, 1, 1)
    )
    full = spark.read.parquet(sorted_layout)
    want = full.filter(F.col("o_orderdate") >= F.lit(dt.datetime(1999, 1, 1)))
    assert df_lo.count() == want.count()
    assert read_lo <= 6  # ~3 of the ~7 spanned years (fixture: 1995-2001)
    df_hi, _, _ = Z.scan_pruned(
        spark, sorted_layout, "o_orderdate", hi=dt.datetime(1995, 12, 31)
    )
    want_hi = full.filter(F.col("o_orderdate") <= F.lit(dt.datetime(1995, 12, 31)))
    assert df_hi.count() == want_hi.count()


def test_all_null_file_pruned_and_correct(spark, tmp_path):
    """A file whose stats column is entirely NULL has NULL min/max in
    the manifest; a range scan must skip it (range predicates cannot
    match NULL) and still return exactly the matching rows."""
    path = str(tmp_path / "nulls")
    df = spark.createDataFrame(
        [(i, float(i)) for i in range(100)], "k int, v double"
    ).repartition(2, "k")
    nulls = spark.createDataFrame([(i,) for i in range(100, 150)], "k int").select(
        "k", F.lit(None).cast("double").alias("v")
    ).coalesce(1)
    df.write.mode("overwrite").parquet(path)
    nulls.write.mode("append").parquet(path)
    Z.write_zonemap(spark, path, ["v"])
    got, read, total = Z.scan_pruned(spark, path, "v", 10.0, 20.0)
    assert total == 3
    assert read <= 2  # the all-NULL file never survives planning
    assert sorted(r["k"] for r in got.collect()) == list(range(10, 21))


def test_empty_survivor_set(spark, sorted_layout):
    got, read, _ = Z.scan_pruned(
        spark, sorted_layout, "o_orderdate", lo=dt.datetime(2050, 1, 1)
    )
    assert read == 0
    assert got.count() == 0
    # schema is preserved even with zero surviving files
    assert "o_orderstatus" in got.columns


def test_zorder_synergy_prunes_both_dims(spark, sf_dir, tmp_path):
    """The composition the module docstring promises: a Morton-
    clustered write gives every file a tight 2-D bounding box, so a
    selective range on EITHER column alone skips files — where the
    single-column sorted layout prunes only its own column."""
    path = str(tmp_path / "orders_z")
    orders = load(spark, sf_dir, "orders")
    zorder_write(orders, path, "o_custkey", "o_totalprice", n_files=16)
    Z.write_zonemap(spark, path, ["o_custkey", "o_totalprice"])
    ck = orders.approxQuantile("o_custkey", [0.4, 0.6], 0.01)
    tp = orders.approxQuantile("o_totalprice", [0.4, 0.6], 0.01)
    _, read_a, total = Z.scan_pruned(spark, path, "o_custkey", ck[0], ck[1])
    _, read_b, _ = Z.scan_pruned(spark, path, "o_totalprice", tp[0], tp[1])
    assert total == 16
    assert read_a < total, (read_a, total)
    assert read_b < total, (read_b, total)
    # and both pruned scans still agree with the full filter
    got, _, _ = Z.scan_pruned(spark, path, "o_totalprice", tp[0], tp[1])
    want = spark.read.parquet(path).filter(F.col("o_totalprice").between(tp[0], tp[1]))
    assert _rows(got.select("o_orderkey")) == _rows(want.select("o_orderkey"))


def test_append_zonemap_stats_only_new_files(spark, sf_dir, tmp_path):
    """Incremental maintenance: after an append, only the delta is
    statted (return value counts new files), and the merged manifest
    equals a from-scratch rebuild."""
    path = str(tmp_path / "grow")
    orders = load(spark, sf_dir, "orders")
    old = orders.filter(F.col("o_orderdate") < F.lit(dt.datetime(1998, 1, 1)))
    new = orders.filter(F.col("o_orderdate") >= F.lit(dt.datetime(1998, 1, 1)))
    old.repartition(2).write.mode("overwrite").parquet(path)
    assert Z.write_zonemap(spark, path, ["o_orderdate"]) == 2
    new.repartition(3).write.mode("append").parquet(path)
    assert Z.append_zonemap(spark, path, ["o_orderdate"]) == 3
    merged = {tuple(r) for r in Z.read_zonemap(spark, path).collect()}
    Z.write_zonemap(spark, path, ["o_orderdate"])  # full rebuild
    rebuilt = {tuple(r) for r in Z.read_zonemap(spark, path).collect()}
    assert merged == rebuilt
    # idempotent: nothing new -> nothing statted, manifest unchanged
    assert Z.append_zonemap(spark, path, ["o_orderdate"]) == 0


def test_versioned_table_scan_range(spark, sf_dir, tmp_path):
    """Engine integration: write_versioned(stats_cols=...) stages the
    manifest inside the immutable version dir; scan_range plans from
    it per SNAPSHOT (each version keeps its own stats), and a table
    without stats degrades to a plain filtered scan."""
    from quack_reduce_spark.engine import Engine
    from quack_reduce_spark.operators.zonemaps import has_zonemap
    from quack_reduce_spark import lake

    path = str(tmp_path / "vt")
    eng = Engine(spark=spark)
    orders = load(spark, sf_dir, "orders").repartitionByRange(6, "o_orderdate")
    v1_rows = orders.filter(F.col("o_orderkey") % 2 == 0)
    eng.write_versioned(v1_rows, path, op="create", stats_cols=["o_orderdate"])
    eng.write_versioned(orders, path, op="write", stats_cols=["o_orderdate"])
    assert has_zonemap(lake.version_path(path, 1))
    assert has_zonemap(lake.version_path(path, 2))
    lo, hi = dt.datetime(1997, 1, 1), dt.datetime(1997, 12, 31)
    got_v1 = eng.scan_range(path, "o_orderdate", lo, hi, version=1).count()
    want_v1 = v1_rows.filter(F.col("o_orderdate").between(lo, hi)).count()
    assert got_v1 == want_v1
    got_live = eng.scan_range(path, "o_orderdate", lo, hi).count()
    want_live = orders.filter(F.col("o_orderdate").between(lo, hi)).count()
    assert got_live == want_live
    # no-stats fallback: plain dir without a manifest
    plain = str(tmp_path / "plain")
    orders.write.mode("overwrite").parquet(plain)
    assert eng.scan_range(plain, "o_orderdate", lo, hi).count() == want_live


def test_zonemap_on_hive_partitioned_layout(spark, sf_dir, tmp_path):
    """Zone maps compose with hive partitioning: stats can cover BOTH
    a partition column (resolved from the path) and a data column, and
    incremental append maintenance keeps partition columns resolvable
    (basePath) when stating only the new files."""
    path = str(tmp_path / "hive")
    orders = load(spark, sf_dir, "orders").withColumn(
        "o_year", F.year("o_orderdate")
    )
    old = orders.filter(F.col("o_year") <= 1997)
    new = orders.filter(F.col("o_year") > 1997)
    old.write.partitionBy("o_year").mode("overwrite").parquet(path)
    Z.write_zonemap(spark, path, ["o_year", "o_totalprice"])
    new.write.partitionBy("o_year").mode("append").parquet(path)
    assert Z.append_zonemap(spark, path, ["o_year", "o_totalprice"]) > 0
    merged = {tuple(r) for r in Z.read_zonemap(spark, path).collect()}
    Z.write_zonemap(spark, path, ["o_year", "o_totalprice"])
    rebuilt = {tuple(r) for r in Z.read_zonemap(spark, path).collect()}
    assert merged == rebuilt
    # range over the partition column plans from the manifest and
    # agrees with the partition-pruned direct read
    got, read, total = Z.scan_pruned(spark, path, "o_year", 1996, 1997)
    want = spark.read.parquet(path).filter(F.col("o_year").between(1996, 1997))
    assert got.count() == want.count()
    assert read < total


def test_streaming_ingest_keeps_manifest_fresh(spark, sf_dir, tmp_path):
    """Continuous-ingest integration: a file-source stream appends
    micro-batches to a plain lake dir through foreachBatch, and each
    batch incrementally extends the zone-map manifest (append_zonemap
    — only the batch's new files are statted). After the drain the
    manifest covers every file (equals a full rebuild) and a
    manifest-planned range scan matches the direct filter."""
    import os
    import uuid

    from quack_reduce_spark.inventory.streaming_live import _stream_source

    table = str(tmp_path / "ingest")
    ckpt = str(tmp_path / "ckpt")
    stream = _stream_source(spark, sf_dir, with_redeliveries=False)

    def sink(batch, batch_id):
        if batch.isEmpty():
            return
        first = not os.path.isdir(table)
        batch.write.mode("append").parquet(table)
        if first:
            Z.write_zonemap(spark, table, ["ts"])
        else:
            Z.append_zonemap(spark, table, ["ts"])

    q = (
        stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .queryName(f"zm_ingest_{uuid.uuid4().hex[:8]}")
        .start()
    )
    q.awaitTermination(120)
    incr = {tuple(r) for r in Z.read_zonemap(spark, table).collect()}
    Z.write_zonemap(spark, table, ["ts"])
    rebuilt = {tuple(r) for r in Z.read_zonemap(spark, table).collect()}
    assert incr == rebuilt and len(incr) > 1
    full = spark.read.parquet(table)
    lo = full.agg(F.min("ts")).first()[0]
    hi = full.agg(F.expr("min(ts) + INTERVAL 1 DAY")).first()[0]
    got, read, total = Z.scan_pruned(spark, table, "ts", lo, hi)
    want = full.filter(F.col("ts").between(lo, hi))
    assert got.count() == want.count()
    assert 0 < read <= total


# -- partition-grouped manifests (the Iceberg manifest-list shape) ----------


def _manifest_snapshot(path):
    """{group-dir: {relpath: mtime_ns}} for every __g= manifest dir."""
    import os

    zm = os.path.join(path, Z.ZONEMAP_DIR)
    out = {}
    for name in os.listdir(zm):
        if not name.startswith("__g="):
            continue
        files = {}
        for root, _, fnames in os.walk(os.path.join(zm, name)):
            for f in fnames:
                p = os.path.join(root, f)
                files[os.path.relpath(p, zm)] = os.stat(p).st_mtime_ns
        out[name] = files
    return out


def _hive_table(spark, sf_dir, path):
    orders = load(spark, sf_dir, "orders").withColumn(
        "o_year", F.year("o_orderdate")
    )
    orders.write.partitionBy("o_year").mode("overwrite").parquet(path)
    Z.write_zonemap(spark, path, ["o_orderdate"])
    return orders


def test_append_rewrites_only_touched_group_manifests(spark, sf_dir, tmp_path):
    """The delta-only maintenance contract at the FILE level: appending
    into one hive partition rewrites that partition's manifest and the
    manifest list — every other group's manifest files are bit-for-bit
    untouched (same paths, same mtimes). This is what keeps append
    cost proportional to the delta on a million-file table."""
    path = str(tmp_path / "hive")
    orders = _hive_table(spark, sf_dir, path)
    before = _manifest_snapshot(path)
    assert len(before) >= 4  # one group per year
    doc_before = Z._read_list(path)

    delta = (
        orders.filter(F.col("o_year") == 1997)
        .limit(500)
        .withColumn("o_orderkey", F.col("o_orderkey") + 900_000_000)
    )
    delta.coalesce(1).write.partitionBy("o_year").mode("append").parquet(path)
    assert Z.append_zonemap(spark, path, ["o_orderdate"]) == 1

    after = _manifest_snapshot(path)
    touched = Z._token(f"{path}/o_year=1997")
    assert after[f"__g={touched}"] != before[f"__g={touched}"]
    for g, files in before.items():
        if g != f"__g={touched}":
            assert after[g] == files, f"untouched group {g} was rewritten"
    # manifest list: only the touched group's entry changed
    doc_after = Z._read_list(path)
    assert doc_after["groups"][touched]["n_files"] == (
        doc_before["groups"][touched]["n_files"] + 1
    )
    for tok, entry in doc_before["groups"].items():
        if tok != touched:
            assert doc_after["groups"][tok] == entry
    # and the merged manifest still equals a from-scratch rebuild
    merged = {tuple(r) for r in Z.read_zonemap(spark, path).collect()}
    Z.write_zonemap(spark, path, ["o_orderdate"])
    rebuilt = {tuple(r) for r in Z.read_zonemap(spark, path).collect()}
    assert merged == rebuilt


def test_list_first_pruning_skips_group_manifests(spark, sf_dir, tmp_path):
    """Planning reads the manifest LIST first: a group whose
    group-level [lo, hi] cannot intersect the query range is skipped
    without its manifest ever being opened. Proven the hard way — the
    excluded groups' manifest files are DELETED, and planning still
    works and still returns exactly the right files."""
    import shutil
    import os

    path = str(tmp_path / "hive")
    _hive_table(spark, sf_dir, path)
    doc = Z._read_list(path)
    lo, hi = dt.datetime(1997, 3, 1), dt.datetime(1997, 9, 30)
    live = {
        tok
        for tok, g in doc["groups"].items()
        if Z._intersects(
            Z._dec(g["stats"]["o_orderdate"]["lo"]),
            Z._dec(g["stats"]["o_orderdate"]["hi"]),
            lo,
            hi,
        )
    }
    assert 0 < len(live) < len(doc["groups"])
    want = {
        r["file"]
        for r in Z.read_zonemap(spark, path)
        .filter(
            (F.col("max_o_orderdate") >= F.lit(lo))
            & (F.col("min_o_orderdate") <= F.lit(hi))
        )
        .collect()
    }
    for tok in doc["groups"]:
        if tok not in live:
            shutil.rmtree(os.path.join(path, Z.ZONEMAP_DIR, f"__g={tok}"))
    files, total = Z.prune_files(spark, path, "o_orderdate", lo, hi)
    assert set(files) == want
    assert total == sum(g["n_files"] for g in doc["groups"].values())
    # fully-disjoint range: every group list-pruned, zero Spark reads
    none, _ = Z.prune_files(
        spark, path, "o_orderdate", dt.datetime(2030, 1, 1), dt.datetime(2031, 1, 1)
    )
    assert none == []


def test_legacy_single_file_manifest_upgrades_in_place(spark, sf_dir, tmp_path):
    """A round-9 manifest (single coalesced parquet under _zonemap, no
    _list.json) keeps working: reads resolve it, and the first append
    upgrades it to the grouped layout FROM ITS OWN ROWS — the data
    files statted are only the append's delta, never a table rescan."""
    path = str(tmp_path / "legacy")
    orders = load(spark, sf_dir, "orders")
    old = orders.filter(F.col("o_orderdate") < F.lit(dt.datetime(1998, 1, 1)))
    new = orders.filter(F.col("o_orderdate") >= F.lit(dt.datetime(1998, 1, 1)))
    old.repartitionByRange(6, "o_orderdate").sortWithinPartitions(
        "o_orderdate"
    ).write.mode("overwrite").parquet(path)
    # fabricate the legacy layout by hand (what round-9 write_zonemap did)
    stats = Z.zonemap_stats(spark, path, ["o_orderdate"])
    stats.coalesce(1).write.mode("overwrite").parquet(
        f"{path}/{Z.ZONEMAP_DIR}"
    )
    assert Z._read_list(path) is None
    assert Z.zonemap_cols(path) == []  # list-less: cols unknown until upgrade

    new.repartition(2).write.mode("append").parquet(path)
    assert Z.append_zonemap(spark, path, ["o_orderdate"]) == 2
    doc = Z._read_list(path)
    assert doc is not None and doc["cols"] == ["o_orderdate"]
    merged = {tuple(r) for r in Z.read_zonemap(spark, path).collect()}
    Z.write_zonemap(spark, path, ["o_orderdate"])
    rebuilt = {tuple(r) for r in Z.read_zonemap(spark, path).collect()}
    assert merged == rebuilt
    lo, hi = dt.datetime(1998, 2, 1), dt.datetime(1998, 6, 30)
    got, read, total = Z.scan_pruned(spark, path, "o_orderdate", lo, hi)
    want = spark.read.parquet(path).filter(F.col("o_orderdate").between(lo, hi))
    assert _rows(got.select("o_orderkey")) == _rows(want.select("o_orderkey"))
    assert read < total


def test_manifest_cache_reads_disk_once_until_append(spark, sf_dir, tmp_path):
    """Repeated planning against an UNCHANGED table does no manifest
    I/O after the first query — the parsed list and the group rows are
    cached on the manifest list's mtime — and an append (which
    rewrites _list.json last, the commit point) invalidates exactly
    once. N dashboard queries should not re-read metadata N times."""
    path = str(tmp_path / "cached")
    orders = load(spark, sf_dir, "orders")
    (
        orders.repartitionByRange(6, "o_orderdate")
        .sortWithinPartitions("o_orderdate")
        .write.mode("overwrite")
        .parquet(path)
    )
    Z.write_zonemap(spark, path, ["o_orderdate"])
    lo, hi = dt.datetime(1996, 1, 1), dt.datetime(1996, 12, 31)

    start = dict(Z.IO_COUNTS)
    for _ in range(4):
        files, total = Z.prune_files(spark, path, "o_orderdate", lo, hi)
        assert 0 < len(files) < total
    assert Z.IO_COUNTS["list_reads"] - start["list_reads"] == 1
    assert Z.IO_COUNTS["group_reads"] - start["group_reads"] == 1

    # append -> _list.json rewritten -> caches invalid -> ONE re-read
    delta = orders.limit(200).withColumn(
        "o_orderkey", F.col("o_orderkey") + 900_000_000
    )
    delta.coalesce(1).write.mode("append").parquet(path)
    assert Z.append_zonemap(spark, path, ["o_orderdate"]) == 1
    mid = dict(Z.IO_COUNTS)
    for _ in range(3):
        files2, total2 = Z.prune_files(spark, path, "o_orderdate", lo, hi)
    assert total2 == total + 1
    assert Z.IO_COUNTS["list_reads"] - mid["list_reads"] == 1
    assert Z.IO_COUNTS["group_reads"] - mid["group_reads"] == 1


def test_concurrent_planners_read_group_manifests_once(spark, sf_dir, tmp_path):
    """A burst of planners right after a commit reads the table's group
    manifests once, not once per planner: the first reader fills the
    cache under a per-table lock and the others wait for it."""
    import threading

    path = str(tmp_path / "burst")
    orders = load(spark, sf_dir, "orders")
    (
        orders.repartitionByRange(6, "o_orderdate")
        .sortWithinPartitions("o_orderdate")
        .write.mode("overwrite")
        .parquet(path)
    )
    Z.write_zonemap(spark, path, ["o_orderdate"])
    lo, hi = dt.datetime(1996, 1, 1), dt.datetime(1996, 12, 31)
    Z.prune_files(spark, path, "o_orderdate", lo, hi)  # warm caches
    delta = orders.limit(200).withColumn(
        "o_orderkey", F.col("o_orderkey") + 900_000_000
    )
    delta.coalesce(1).write.mode("append").parquet(path)
    assert Z.append_zonemap(spark, path, ["o_orderdate"]) == 1
    cons = {"o_orderdate": (lo, hi, None, None)}
    n = 6
    start = threading.Barrier(n, timeout=60)
    got: list = []

    def plan():
        start.wait()
        got.append(Z.prune_files_multi(spark, path, cons))

    before = Z.IO_COUNTS["group_reads"]
    threads = [threading.Thread(target=plan) for _ in range(n)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(120)
    assert not any(t.is_alive() for t in threads) and len(got) == n
    assert Z.IO_COUNTS["group_reads"] - before == 1
    files = [sorted(r["file"] for r in rows) for rows, _total in got]
    assert all(f == files[0] for f in files) and files[0]


def test_manifest_stats_exact_and_append_current(spark, sf_dir, tmp_path):
    """Engine.table_stats == recomputing over the raw rows, before AND
    after an append (the manifest's stats track the delta); total
    bytes equals the sum of on-disk file sizes."""
    import os

    from quack_reduce_spark.engine import Engine

    path = str(tmp_path / "stats")
    orders = load(spark, sf_dir, "orders")
    (
        orders.repartitionByRange(6, "o_orderdate")
        .sortWithinPartitions("o_orderdate")
        .write.mode("overwrite")
        .parquet(path)
    )
    Z.write_zonemap(spark, path, ["o_orderdate"])
    eng = Engine(spark=spark)
    eng.register("st_t", path)

    def want():
        raw = spark.read.parquet(path)
        r = raw.agg(
            F.count(F.lit(1)).alias("n"),
            F.min("o_orderdate").alias("mn"),
            F.max("o_orderdate").alias("mx"),
        ).first()
        return int(r["n"]), r["mn"], r["mx"]

    st = eng.table_stats("st_t")
    n, mn, mx = want()
    assert st["n_rows"] == n
    assert st["columns"]["o_orderdate"] == {"min": mn, "max": mx, "nulls": 0}
    disk = sum(
        os.path.getsize(os.path.join(path, f))
        for f in os.listdir(path)
        if f.endswith(".parquet")
    )
    assert st["total_bytes"] == disk

    delta = orders.limit(300).withColumn(
        "o_orderkey", F.col("o_orderkey") + 900_000_000
    )
    delta.coalesce(1).write.mode("append").parquet(path)
    assert Z.append_zonemap(spark, path, ["o_orderdate"]) == 1
    st2 = eng.table_stats("st_t")
    n2, mn2, mx2 = want()
    assert st2["n_rows"] == n2 == n + 300
    assert st2["columns"]["o_orderdate"] == {"min": mn2, "max": mx2, "nulls": 0}


def test_maintenance_rewrites_preserve_zonemap(spark, sf_dir, tmp_path):
    """Compaction (and any _commit_rewrite maintenance) REBUILDS the
    zone-map manifest on the rewritten layout: afterwards the engine
    still prunes range queries (no silent full-scan downgrade) and
    table_stats stays exact against the raw rows."""
    from quack_reduce_spark.engine import Engine

    path = str(tmp_path / "maint")
    orders = load(spark, sf_dir, "orders")
    (
        orders.repartitionByRange(12, "o_orderdate")
        .sortWithinPartitions("o_orderdate")
        .write.mode("overwrite")
        .parquet(path)
    )
    Z.write_zonemap(spark, path, ["o_orderdate"])
    eng = Engine(spark=spark)
    stats = eng.compact(path, target_rows_per_file=200)
    assert stats["files_after"] > 1
    assert Z.has_zonemap(path)
    assert Z.zonemap_cols(path) == ["o_orderdate"]

    eng.register("maint_t", path)
    d = eng.df(
        "SELECT COUNT(*) AS n FROM maint_t "
        "WHERE o_orderdate >= TIMESTAMP '1997-06-01' "
        "AND o_orderdate < TIMESTAMP '1997-09-01'"
    )
    want = (
        spark.read.parquet(path)
        .filter("o_orderdate >= '1997-06-01' AND o_orderdate < '1997-09-01'")
        .count()
    )
    assert d.first()["n"] == want
    rep = eng.last_zonemap_report.get("maint_t")
    # compaction loses the clustered order only if it repartitions
    # randomly — ours compacts flat layouts by count, so pruning may
    # weaken but the manifest must be PRESENT and CURRENT:
    st = eng.table_stats("maint_t")
    assert st["n_rows"] == spark.read.parquet(path).count()
    assert st["n_files"] == stats["files_after"]


def test_optimize_restores_pruning_power(spark, sf_dir, tmp_path):
    """Random appends interleave key ranges until every file spans
    everything and zone maps stop skipping; Engine.optimize rewrites
    the table range-clustered (crash-safe) and rebuilds the manifest,
    after which the same SQL range query prunes again — the OPTIMIZE
    maintenance loop."""
    from quack_reduce_spark.engine import Engine

    path = str(tmp_path / "degraded")
    orders = load(spark, sf_dir, "orders")
    # random layout: every file spans the full date range
    orders.repartition(8).write.mode("overwrite").parquet(path)
    Z.write_zonemap(spark, path, ["o_orderdate"])
    eng = Engine(spark=spark)
    eng.register("opt_t", path)
    q = (
        "SELECT COUNT(*) AS n FROM opt_t "
        "WHERE o_orderdate >= TIMESTAMP '1997-01-01' "
        "AND o_orderdate < TIMESTAMP '1997-04-01'"
    )
    want = spark.read.parquet(path).filter(
        "o_orderdate >= '1997-01-01' AND o_orderdate < '1997-04-01'"
    ).count()
    assert eng.df(q).first()["n"] == want
    # COUNT(*) routes through the r13 agg pushdown: on the degraded
    # layout every file is a boundary file (nothing contained, nothing
    # skipped) — the metadata path gains nothing yet
    rep0 = eng.last_zonemap_report.get("opt_t", {}).get("agg_pushdown")
    assert rep0 is not None and rep0["files_scanned"] == rep0["files_total"]

    stats = eng.optimize(path, ["o_orderdate"], target_rows_per_file=200)
    assert stats["rows"] == orders.count()
    assert stats["files_after"] > 4
    eng.register("opt_t", path)  # rebind to the rewritten files
    assert eng.df(q).first()["n"] == want
    rep = eng.last_zonemap_report.get("opt_t", {}).get("agg_pushdown")
    assert rep is not None
    assert rep["files_scanned"] < rep["files_total"]  # pruning is back


def test_optimize_builds_manifest_when_absent_and_versioned(spark, sf_dir, tmp_path):
    """optimize on a VERSIONED table without any manifest: the rewrite
    commits a new version and the clustering columns gain a manifest,
    old snapshots stay time-travel-readable."""
    from quack_reduce_spark import lake
    from quack_reduce_spark.engine import Engine

    path = str(tmp_path / "vopt")
    orders = load(spark, sf_dir, "orders")
    eng = Engine(spark=spark)
    eng.write_versioned(orders.repartition(6), path, op="seed")
    v1 = lake.current_version(path)
    stats = eng.optimize(path, ["o_orderdate"], target_rows_per_file=300)
    assert lake.current_version(path) != v1
    live = lake.resolve(path)
    assert Z.has_zonemap(live)
    assert Z.zonemap_cols(live) == ["o_orderdate"]
    assert stats["rows"] == orders.count()
    # pre-optimize snapshot still readable
    assert eng.read_table(path, v1).count() == orders.count()


def test_epoch_space_ltz_stats_immune_to_os_timezone(spark, sf_dir, tmp_path):
    """Session-zoned (LTZ) timestamp stats live in EPOCH-MICROS space
    end to end (manifest v3): no collect-time rendering — which PySpark
    performs in the driver-OS zone, NOT the session zone — ever touches
    a pruning comparison. Flipping the process TZ between manifest
    build and query therefore cannot shift a bound and mis-prune (the
    r11 ADVICE unsoundness), and the pruned scan stays row-identical
    to the session-zone-interpreted filter."""
    import json
    import os
    import time

    path = str(tmp_path / "ltz")
    orders = load(spark, sf_dir, "orders")
    ltz = orders.withColumn("ots", F.col("o_orderdate").cast("timestamp"))
    (
        ltz.repartitionByRange(8, "ots")
        .sortWithinPartitions("ots")
        .write.mode("overwrite")
        .parquet(path)
    )
    prev = os.environ.get("TZ")
    try:
        os.environ["TZ"] = "Asia/Tokyo"
        time.tzset()
        Z.write_zonemap(spark, path, ["ots"])
        doc = json.loads(open(f"{path}/_zonemap/_list.json").read())
        assert doc["version"] == 3 and doc["types"]["ots"] == "timestamp"
        st = next(iter(doc["groups"].values()))["stats"]["ots"]
        assert st["lo"]["t"] == "int" and isinstance(st["lo"]["v"], int)
        # query under a DIFFERENT OS zone than the build ran in
        os.environ["TZ"] = "America/New_York"
        time.tzset()
        lo, hi = dt.datetime(1997, 1, 1), dt.datetime(1997, 6, 30)
        pruned, files_read, files_total = Z.scan_pruned(spark, path, "ots", lo, hi)
        want = (
            spark.read.parquet(path)
            .filter(
                "ots >= TIMESTAMP '1997-01-01 00:00:00' "
                "AND ots <= TIMESTAMP '1997-06-30 00:00:00'"
            )
            .count()
        )
        assert pruned.count() == want > 0
        assert files_read < files_total == 8
    finally:
        if prev is None:
            os.environ.pop("TZ", None)
        else:
            os.environ["TZ"] = prev
        time.tzset()


def test_list_commit_mtime_strictly_increases(spark, sf_dir, tmp_path):
    """Two manifest commits in quick succession can land in the same
    filesystem mtime tick; _write_list bumps the list doc's mtime past
    the previous commit's, and every doc carries a distinct commit
    token — so the stat-keyed parse cache can never serve the older
    doc as the newer one."""
    import json

    path = str(tmp_path / "tick")
    orders = load(spark, sf_dir, "orders")
    (
        orders.limit(500)
        .repartitionByRange(4, "o_orderkey")
        .write.mode("overwrite")
        .parquet(path)
    )
    Z.write_zonemap(spark, path, ["o_orderkey"])
    lp = f"{path}/_zonemap/_list.json"
    import os

    mt1 = os.stat(lp).st_mtime
    tok1 = json.loads(open(lp).read())["commit"]
    orders.limit(100).coalesce(1).write.mode("append").parquet(path)
    Z.append_zonemap(spark, path, ["o_orderkey"])
    mt2 = os.stat(lp).st_mtime
    tok2 = json.loads(open(lp).read())["commit"]
    assert mt2 > mt1
    assert tok1 != tok2


# -- per-file Bloom fingerprints (point-lookup skipping) ---------------------


@pytest.fixture(scope="module")
def bloom_layout(spark, sf_dir, tmp_path_factory):
    """Orders hash-scattered on o_custkey across 12 files — RANDOM with
    respect to o_orderkey, so every file's [min, max] spans the whole
    key domain and envelope stats prune nothing — fingerprinted on
    o_orderkey."""
    path = str(tmp_path_factory.mktemp("blm") / "orders_bloom")
    orders = load(spark, sf_dir, "orders")
    orders.repartition(12, "o_custkey").write.mode("overwrite").parquet(path)
    n = Z.write_zonemap(spark, path, ["o_orderkey"], bloom_cols=["o_orderkey"])
    assert n == 12
    return path


def test_bloom_point_lookup_prunes_random_layout(spark, bloom_layout):
    """A single-key equality on the unclustered key reads a small
    fraction of the files (the key lives in ONE file; false positives
    add at most a couple) and the pruned read equals the plain
    filter. Envelope stats alone keep all 12 — fingerprints are doing
    the skipping."""
    path = bloom_layout
    full = spark.read.parquet(path)
    # a MID-domain key: on the random layout every file's [min, max]
    # interval contains it (the global min/max would be isolable by
    # envelope stats alone — no fingerprint needed there)
    n = full.count()
    key = (
        full.select("o_orderkey")
        .orderBy("o_orderkey")
        .offset(n // 2)
        .limit(1)
        .first()[0]
    )
    rows, total = Z.prune_files_multi(spark, path, {"o_orderkey": (key, key, None, None)})
    assert total == 12
    assert 1 <= len(rows) <= 3
    files = [r["file"] for r in rows]
    got = spark.read.parquet(*files).filter(F.col("o_orderkey") == key).count()
    assert got == full.filter(F.col("o_orderkey") == key).count() > 0
    # the same lookup against min/max alone cannot prune: every file's
    # interval holds the key (layout property, asserted not assumed)
    zm = Z.read_zonemap(spark, path)
    spanning = zm.filter(
        (F.col("min_o_orderkey") <= key) & (F.col("max_o_orderkey") >= key)
    ).count()
    assert spanning == 12


def test_bloom_no_false_negatives_sampled_keys(spark, bloom_layout):
    """Every one of 100 sampled PRESENT keys is found in full through
    the fingerprint-pruned file set — the no-false-negative contract
    that makes skipping sound."""
    path = bloom_layout
    full = spark.read.parquet(path)
    sample = [
        r[0]
        for r in full.select("o_orderkey").distinct().orderBy("o_orderkey").limit(100).collect()
    ]
    want = {
        r[0]: r[1]
        for r in full.groupBy("o_orderkey").count().where(F.col("o_orderkey").isin(sample)).collect()
    }
    for v in sample:
        rows, _ = Z.prune_files_multi(spark, path, {"o_orderkey": (v, v, None, None)})
        files = [r["file"] for r in rows]
        got = (
            spark.read.parquet(*files).filter(F.col("o_orderkey") == v).count()
            if files
            else 0
        )
        assert got == want[v], f"key {v}: {got} != {want[v]}"


def test_bloom_absent_key_reads_nothing(spark, bloom_layout):
    """A key outside the table reads zero-to-few files (false positives
    only) and the re-applied filter returns zero rows either way."""
    path = bloom_layout
    mx = spark.read.parquet(path).agg(F.max("o_orderkey")).first()[0]
    rows, total = Z.prune_files_multi(
        spark, path, {"o_orderkey": (mx + 999_983, mx + 999_983, None, None)}
    )
    assert len(rows) <= 2 < total


def test_bloom_in_list_prunes_and_matches(spark, bloom_layout):
    """An IN-list over three scattered keys reads at most a handful of
    files and the pruned scan equals the plain IN filter."""
    path = bloom_layout
    full = spark.read.parquet(path)
    ks = [r[0] for r in full.select("o_orderkey").distinct().orderBy("o_orderkey").limit(601).collect()]
    probe = [ks[0], ks[len(ks) // 2], ks[-1]]
    rows, total = Z.prune_files_multi(
        spark, path, {"o_orderkey": (None, None, frozenset(probe), None)}
    )
    assert total == 12 and len(rows) <= 6
    files = [r["file"] for r in rows]
    got = spark.read.parquet(*files).filter(F.col("o_orderkey").isin(probe)).count()
    assert got == full.filter(F.col("o_orderkey").isin(probe)).count() > 0


def test_bloom_append_fingerprints_delta_files(spark, sf_dir, tmp_path):
    """append_zonemap fingerprints the DELTA files with the manifest's
    recorded m/k: a key that exists ONLY in the appended file is found
    exactly, reading at most a couple of files."""
    path = str(tmp_path / "blm_append")
    orders = load(spark, sf_dir, "orders")
    orders.repartition(6, "o_custkey").write.mode("overwrite").parquet(path)
    Z.write_zonemap(spark, path, ["o_orderkey"], bloom_cols=["o_orderkey"])
    mx = spark.read.parquet(path).agg(F.max("o_orderkey")).first()[0]
    delta_key = int(mx) + 7_777_777
    delta = orders.limit(50).withColumn(
        "o_orderkey", F.lit(delta_key).cast("long") + F.monotonically_increasing_id() * 0
    )
    # one appended file holding 50 rows of a single brand-new key
    delta.coalesce(1).write.mode("append").parquet(path)
    added = Z.append_zonemap(spark, path, ["o_orderkey"])
    assert added == 1
    rows, total = Z.prune_files_multi(
        spark, path, {"o_orderkey": (delta_key, delta_key, None, None)}
    )
    assert total == 7
    # min/max already isolates the delta file here (its key is above
    # every old max) — the point is the bloom test KEEPS it (no false
    # negative on the delta's own fingerprint) and the read is exact
    assert len(rows) == 1
    got = spark.read.parquet(*[r["file"] for r in rows]).filter(
        F.col("o_orderkey") == delta_key
    ).count()
    assert got == 50
    # and a PRE-APPEND key still resolves through the merged manifest
    old_key = spark.read.parquet(path).agg(F.min("o_orderkey")).first()[0]
    rows2, _ = Z.prune_files_multi(
        spark, path, {"o_orderkey": (old_key, old_key, None, None)}
    )
    files2 = [r["file"] for r in rows2]
    got2 = spark.read.parquet(*files2).filter(F.col("o_orderkey") == old_key).count()
    assert got2 == spark.read.parquet(path).filter(F.col("o_orderkey") == old_key).count() > 0


def test_bloom_rebuild_inherits_and_rewrite_preserves(spark, sf_dir, tmp_path):
    """write_zonemap with no bloom_cols INHERITS the previous config
    (maintenance rebuilds keep fingerprints without knowing about
    them), and an Engine.delete_where rewrite — which stages into a
    fresh directory — carries the config across the swap."""
    from quack_reduce_spark.engine import Engine

    path = str(tmp_path / "blm_rewrite")
    orders = load(spark, sf_dir, "orders")
    orders.repartition(6, "o_custkey").write.mode("overwrite").parquet(path)
    Z.write_zonemap(spark, path, ["o_orderkey"], bloom_cols=["o_orderkey"])
    cfg0 = Z.bloom_config(path)
    assert set(cfg0) == {"o_orderkey"} and cfg0["o_orderkey"]["k"] >= 1
    # plain rebuild: inherited
    Z.write_zonemap(spark, path, ["o_orderkey"])
    assert set(Z.bloom_config(path)) == {"o_orderkey"}
    # engine rewrite into a fresh staged dir: carried explicitly
    eng = Engine(spark=spark)
    cut = spark.read.parquet(path).agg(F.max("o_orderkey")).first()[0]
    eng.delete_where(path, f"o_orderkey = {cut}")
    cfg2 = Z.bloom_config(path)
    assert set(cfg2) == {"o_orderkey"}
    key = spark.read.parquet(path).agg(F.min("o_orderkey")).first()[0]
    rows, total = Z.prune_files_multi(spark, path, {"o_orderkey": (key, key, None, None)})
    assert len(rows) < total  # fingerprints still pruning post-rewrite
    got = spark.read.parquet(*[r["file"] for r in rows]).filter(
        F.col("o_orderkey") == key
    ).count()
    assert got == spark.read.parquet(path).filter(F.col("o_orderkey") == key).count()


def test_bloom_refuses_unportable_column_types(spark, sf_dir, tmp_path):
    """Fingerprints on float/date/timestamp columns are refused at
    build time: their string renderings differ between the Spark build
    and the driver-side probe, and a mismatch would be an UNSOUND
    false negative."""
    path = str(tmp_path / "blm_types")
    load(spark, sf_dir, "orders").limit(200).coalesce(1).write.mode(
        "overwrite"
    ).parquet(path)
    with pytest.raises(ValueError, match="string rendering"):
        Z.write_zonemap(
            spark, path, ["o_totalprice"], bloom_cols=["o_totalprice"]
        )
    with pytest.raises(ValueError, match="stats column"):
        Z.write_zonemap(spark, path, ["o_orderkey"], bloom_cols=["o_custkey"])


def test_write_clustered_bloom_lookup_table_shape(spark, sf_dir, tmp_path):
    """The production lookup-table shape in one call: cluster by the
    range column (o_orderdate), FINGERPRINT the id column
    (o_orderkey) — range dashboards prune by envelope, point lookups
    prune by bloom, on the same table."""
    from quack_reduce_spark.engine import Engine

    path = str(tmp_path / "clb")
    orders = load(spark, sf_dir, "orders")
    eng = Engine(spark=spark)
    n = eng.write_clustered(
        orders, path, ["o_orderdate"], n_files=12, bloom_cols=["o_orderkey"]
    )
    assert n == 12
    assert set(Z.zonemap_cols(path)) == {"o_orderdate", "o_orderkey"}
    assert set(Z.bloom_config(path)) == {"o_orderkey"}
    full = spark.read.parquet(path)
    cnt = full.count()
    key = (
        full.select("o_orderkey").orderBy("o_orderkey").offset(cnt // 2).limit(1).first()[0]
    )
    eng.register("clb_t", path)
    d = eng.df(f"SELECT COUNT(*) AS n FROM clb_t WHERE o_orderkey = {key}")
    # the point COUNT routes through the r13 agg pushdown; the bloom
    # fingerprint still does the pruning (files_pruned_in, not the
    # useless min/max envelope)
    rep = eng.last_zonemap_report.get("clb_t", {}).get("agg_pushdown")
    assert rep is not None
    assert rep["files_pruned_in"] <= 3 < rep["files_total"] == 12
    assert d.first()["n"] == full.filter(F.col("o_orderkey") == key).count() > 0
    # a non-aggregate point SELECT exercises the classic rebind path
    d2 = eng.df(f"SELECT o_orderkey, o_custkey FROM clb_t WHERE o_orderkey = {key}")
    rep2 = eng.last_zonemap_report.get("clb_t")
    assert rep2 is not None and rep2["files_read"] <= 3 < rep2["files_total"] == 12
    assert d2.count() == full.filter(F.col("o_orderkey") == key).count()
    spark.catalog.dropTempView("clb_t")


def test_streaming_sink_maintains_bloom_fingerprints(spark, sf_dir, tmp_path):
    """run_stream_append_zonemapped with bloom_cols: the FIRST batch
    establishes the fingerprint config, every later batch's
    append_zonemap inherits it through the manifest doc and
    fingerprints exactly its delta files — after the drain every file
    row carries a bitset and a point lookup resolves exactly."""
    from quack_reduce_spark.inventory.streaming_live import _stream_source
    from quack_reduce_spark.streaming import run_stream_append_zonemapped

    table = str(tmp_path / "blm_ingest")
    ckpt = str(tmp_path / "blm_ckpt")
    stream = _stream_source(spark, sf_dir, with_redeliveries=False)
    run_stream_append_zonemapped(
        stream, table, ["ts", "event_id"], ckpt, bloom_cols=["event_id"]
    )
    assert set(Z.bloom_config(table)) == {"event_id"}
    zm = Z.read_zonemap(spark, table)
    assert zm.count() > 1  # multiple micro-batch files
    assert zm.filter(F.col("bloom_event_id").isNull()).count() == 0
    full = spark.read.parquet(table)
    cnt = full.count()
    key = (
        full.select("event_id").orderBy("event_id").offset(cnt // 2).limit(1).first()[0]
    )
    rows, total = Z.prune_files_multi(
        spark, table, {"event_id": (key, key, None, None)}
    )
    assert 0 < len(rows) < total
    got = spark.read.parquet(*[r["file"] for r in rows]).filter(
        F.col("event_id") == key
    ).count()
    assert got == full.filter(F.col("event_id") == key).count() > 0


# -- equi-depth histograms (metadata-cost selectivity estimation) ------------


def test_hist_selectivity_tracks_actual(spark, sf_dir, tmp_path):
    """The equi-depth estimator lands close to the true fraction on a
    battery of one- and two-sided ranges (o_totalprice is smooth, so
    linear interpolation is tight here; the contract elsewhere is
    'estimate', not 'exact')."""
    path = str(tmp_path / "hist_q")
    orders = load(spark, sf_dir, "orders")
    orders.repartition(4).write.mode("overwrite").parquet(path)
    Z.write_zonemap(
        spark, path, ["o_totalprice"], hist_cols=["o_totalprice"], hist_bins=32
    )
    h = Z.manifest_hist(path)["o_totalprice"]
    assert len(h["bounds"]) == 33 and h["n_rows_at_build"] == orders.count()
    full = spark.read.parquet(path)
    total = full.count()
    for lo, hi in [(1000.0, 50000.0), (100000.0, 250000.0), (None, 30000.0), (180000.0, None)]:
        est = Z.hist_selectivity(h, lo, hi)
        cond = F.lit(True)
        if lo is not None:
            cond = cond & (F.col("o_totalprice") >= lo)
        if hi is not None:
            cond = cond & (F.col("o_totalprice") <= hi)
        actual = full.filter(cond).count() / total
        assert abs(est - actual) < 0.05, (lo, hi, est, actual)


def test_explain_join_sizes_filtered_side_from_histogram(spark, sf_dir, tmp_path):
    """A FILTERED side over a histogrammed registered table is sized
    from metadata: source == 'histogram', the estimate is within 20%
    of the true slice, and NO new ANALYZE scan ran for that side —
    the counting pass a CBO would otherwise pay per query."""
    from quack_reduce_spark.engine import ANALYZE_COUNTS, Engine

    path = str(tmp_path / "hist_join")
    orders = load(spark, sf_dir, "orders")
    orders.repartition(4).write.mode("overwrite").parquet(path)
    Z.write_zonemap(
        spark, path, ["o_totalprice"], hist_cols=["o_totalprice"]
    )
    eng = Engine(spark=spark)
    eng.register("hj_t", path)
    filtered = spark.table("hj_t").filter("o_totalprice <= 30000")
    li = load(spark, sf_dir, "lineitem").withColumnRenamed("l_orderkey", "o_orderkey")
    before = ANALYZE_COUNTS["side_scans"]
    rep = eng.explain_join(filtered, li, "o_orderkey")
    assert rep["left"]["source"] == "histogram"
    assert ANALYZE_COUNTS["side_scans"] - before == 1  # the right side only
    actual = filtered.count()
    assert abs(rep["left"]["rows"] - actual) <= max(2, 0.2 * actual)
    # the filtered slice is tiny: the estimate should flip the
    # strategy to broadcasting it
    assert rep["strategy"] == "broadcast_left"
    spark.catalog.dropTempView("hj_t")


def test_decimal_stats_prune_in_unscaled_space(spark, sf_dir, tmp_path):
    """Round 13: decimal(p<=18) stats columns live in UNSCALED-INT
    space (the epoch-micros pattern reapplied). On a price-clustered
    table a plain SQL decimal range prunes files, a large IN decodes
    from InSet into the same space and prunes by value set, and the
    agg pushdown answers COUNT/MIN/MAX with exact decimal values —
    each equal to the unpruned computation."""
    import decimal as _pydec

    from quack_reduce_spark.engine import Engine

    path = str(tmp_path / "decstats")
    orders = load(spark, sf_dir, "orders").withColumn(
        "price", F.col("o_totalprice").cast("decimal(12,2)")
    )
    (
        orders.repartitionByRange(12, "price")
        .sortWithinPartitions("price")
        .write.mode("overwrite")
        .parquet(path)
    )
    Z.write_zonemap(spark, path, ["price"])
    assert Z._read_list(path)["types"]["price"] == "decimal(12,2)"
    eng = Engine(spark=spark)
    eng.register("dec_t", path)
    full = spark.read.parquet(path)
    # non-aggregate range: classic rebind path, driver-side int compare
    d = eng.df("SELECT price FROM dec_t WHERE price BETWEEN 1000.00 AND 20000.00")
    rep = eng.last_zonemap_report.get("dec_t")
    assert rep is not None and rep["files_read"] * 4 <= rep["files_total"] == 12
    assert d.count() == full.filter("price BETWEEN 1000.00 AND 20000.00").count() > 0
    # 1,000-value IN through the one-call InSet decode (BigDecimal
    # renderings -> unscaled ints): only low-range files survive
    keys = [f"{v}.17" for v in range(1000, 1100)] + [
        f"{v}.17" for v in range(900000, 900900)
    ]
    d2 = eng.df(
        f"SELECT COUNT(*) AS n FROM dec_t WHERE price IN ({', '.join(keys)})"
    )
    rep2 = eng.last_zonemap_report.get("dec_t")
    want2 = full.filter(
        F.col("price").isin([_pydec.Decimal(k) for k in keys])
    ).count()
    assert d2.first()["n"] == want2
    assert rep2 is not None
    assert rep2["files_read"] * 2 <= rep2["files_total"] == 12
    # agg pushdown: exact decimal MIN/MAX from unscaled metadata
    d3 = eng.df("SELECT MIN(price) AS mn, MAX(price) AS mx FROM dec_t")
    assert "FileScan" not in d3._jdf.queryExecution().executedPlan().toString()
    w3 = full.agg(F.min("price"), F.max("price")).first()
    g3 = d3.first()
    assert (g3["mn"], g3["mx"]) == (w3[0], w3[1])
    spark.catalog.dropTempView("dec_t")


def test_decimal_bloom_and_count_where_exactness(spark, sf_dir, tmp_path):
    """Decimal Bloom fingerprints hash the UNSCALED-long rendering
    (portable between build and driver-side probe), pruning a point
    count on a layout NOT clustered by price; count_where bounds
    reformulate EXACTLY into scale space — a non-representable
    Decimal('1000.005') lower bound counts the same rows as the
    equivalent >= 1000.01 predicate, and a non-representable IN value
    matches nothing rather than everything."""
    import decimal as _pydec

    from quack_reduce_spark.engine import Engine

    path = str(tmp_path / "decblm")
    orders = load(spark, sf_dir, "orders").withColumn(
        "price", F.col("o_totalprice").cast("decimal(12,2)")
    )
    orders.repartition(12, "o_orderkey").write.mode("overwrite").parquet(path)
    Z.write_zonemap(spark, path, ["price"], bloom_cols=["price"])
    full = spark.read.parquet(path)
    key = full.select("price").orderBy("price").offset(700).limit(1).first()[0]
    eng = Engine(spark=spark)
    eng.register("decb_t", path)
    d = eng.df(f"SELECT COUNT(*) AS n FROM decb_t WHERE price = {key}")
    rep = eng.last_zonemap_report.get("decb_t")
    assert d.first()["n"] == full.filter(F.col("price") == key).count() > 0
    assert rep is not None
    assert rep["agg_pushdown"]["files_pruned_in"] <= 4 < rep["files_total"] == 12
    got = eng.count_where(
        "decb_t",
        {"price": (_pydec.Decimal("1000.005"), _pydec.Decimal("20000.00"))},
    )
    want = full.filter(
        (F.col("price") >= _pydec.Decimal("1000.01"))
        & (F.col("price") <= _pydec.Decimal("20000.00"))
    ).count()
    assert got == want > 0
    assert eng.last_count_plan["source"] == "metadata+residual"
    got2 = eng.count_where(
        "decb_t", in_lists={"price": [key, _pydec.Decimal("1.005")]}
    )
    assert got2 == full.filter(F.col("price") == key).count()
    spark.catalog.dropTempView("decb_t")


def test_append_refreshes_drifted_histogram(spark, sf_dir, tmp_path):
    """Round 13: once appends grow the table past the SAME 1.5x drift
    threshold at which the planner refuses a histogram, maintenance
    REBUILDS it — n_rows_at_build resets to the live count, the
    boundaries reflect the appended rows, and explain_join keeps
    sizing the filtered side from metadata (source == 'histogram',
    no counting scan) on the grown table."""
    from quack_reduce_spark.engine import ANALYZE_COUNTS, Engine

    path = str(tmp_path / "hist_refresh")
    orders = load(spark, sf_dir, "orders")
    orders.limit(1000).repartition(2).write.mode("overwrite").parquet(path)
    Z.write_zonemap(spark, path, ["o_totalprice"], hist_cols=["o_totalprice"])
    built0 = Z.manifest_hist(path)["o_totalprice"]["n_rows_at_build"]
    assert built0 == 1000
    # grow the table 3x: maintenance crosses the drift threshold and
    # refreshes the histogram as part of the SAME append pass
    orders.limit(2000).withColumn(
        "o_orderkey", F.col("o_orderkey") + F.lit(500_000_000)
    ).repartition(2).write.mode("append").parquet(path)
    Z.append_zonemap(spark, path, ["o_totalprice"])
    h = Z.manifest_hist(path)["o_totalprice"]
    live = spark.read.parquet(path).count()
    assert h["n_rows_at_build"] == live > 1.5 * built0  # rebased
    eng = Engine(spark=spark)
    eng.register("hd_t", path)
    filtered = spark.table("hd_t").filter("o_totalprice <= 30000")
    li = load(spark, sf_dir, "lineitem").withColumnRenamed("l_orderkey", "o_orderkey")
    before = ANALYZE_COUNTS["side_scans"]
    rep = eng.explain_join(filtered, li, "o_orderkey")
    assert rep["left"]["source"] == "histogram"
    assert ANALYZE_COUNTS["side_scans"] - before == 1  # the right side only
    actual = filtered.count()
    assert abs(rep["left"]["rows"] - actual) <= max(2, 0.2 * actual)
    spark.catalog.dropTempView("hd_t")


def test_explain_join_refuses_drifted_histogram(spark, sf_dir, tmp_path, monkeypatch):
    """The consumer-side guard stays: a histogram that somehow IS
    drifted past 1.5x (maintenance suppressed here to construct one)
    is refused and explain_join falls back to the ANALYZE pass —
    stale boundaries must never misprice a slice."""
    from quack_reduce_spark.engine import ANALYZE_COUNTS, Engine

    path = str(tmp_path / "hist_drift")
    orders = load(spark, sf_dir, "orders")
    orders.limit(1000).repartition(2).write.mode("overwrite").parquet(path)
    Z.write_zonemap(spark, path, ["o_totalprice"], hist_cols=["o_totalprice"])
    orders.limit(2000).withColumn(
        "o_orderkey", F.col("o_orderkey") + F.lit(500_000_000)
    ).repartition(2).write.mode("append").parquet(path)
    with monkeypatch.context() as m:
        m.setattr(Z, "HIST_DRIFT", 100.0)  # suppress the auto-refresh
        Z.append_zonemap(spark, path, ["o_totalprice"])
    h = Z.manifest_hist(path)["o_totalprice"]
    assert h["n_rows_at_build"] == 1000  # still the stale build basis
    eng = Engine(spark=spark)
    eng.register("hd_t2", path)
    filtered = spark.table("hd_t2").filter("o_totalprice <= 30000")
    li = load(spark, sf_dir, "lineitem").withColumnRenamed("l_orderkey", "o_orderkey")
    before = ANALYZE_COUNTS["side_scans"]
    rep = eng.explain_join(filtered, li, "o_orderkey")
    assert rep["left"]["source"] == "analyze"
    assert ANALYZE_COUNTS["side_scans"] - before == 2  # both sides scanned
    spark.catalog.dropTempView("hd_t2")


def test_hist_rebuild_inherits_and_refuses_bad_types(spark, sf_dir, tmp_path):
    """Rebuilds refresh the boundaries but keep the config (same
    None-inherits contract as bloom); string columns are refused."""
    path = str(tmp_path / "hist_cfg")
    orders = load(spark, sf_dir, "orders")
    orders.repartition(2).write.mode("overwrite").parquet(path)
    Z.write_zonemap(
        spark, path, ["o_totalprice"], hist_cols=["o_totalprice"], hist_bins=16
    )
    Z.write_zonemap(spark, path, ["o_totalprice"])  # plain rebuild
    h = Z.manifest_hist(path)["o_totalprice"]
    assert h["bins"] == 16 and len(h["bounds"]) == 17
    with pytest.raises(ValueError, match="equi-depth"):
        Z.write_zonemap(
            spark, path, ["o_totalprice", "o_orderstatus"],
            hist_cols=["o_orderstatus"],
        )


# -- per-file HLL register sketches (metadata-cost NDV) -----------------------


def test_manifest_ndv_table_and_subset(spark, sf_dir, tmp_path):
    """The manifest's merged registers estimate table NDV within ~7%
    (p=8), and a FILE-SUBSET merge estimates exactly those files'
    distinct keys — the mergeability that makes slice NDV a metadata
    question."""
    path = str(tmp_path / "ndv_t")
    orders = load(spark, sf_dir, "orders")
    orders.repartition(6).write.mode("overwrite").parquet(path)
    Z.write_zonemap(spark, path, ["o_custkey"], ndv_cols=["o_custkey"])
    got = Z.manifest_ndv(spark, path, "o_custkey")
    exact = orders.agg(F.count_distinct("o_custkey")).first()[0]
    assert abs(got["est"] - exact) <= 0.07 * exact, (got["est"], exact)
    rows, total = Z.prune_files_multi(spark, path, {})
    assert total == 6
    sub_rows = rows[:2]
    sub = Z.manifest_ndv(spark, path, "o_custkey", rows=sub_rows)
    sub_exact = (
        spark.read.parquet(*[r["file"] for r in sub_rows])
        .agg(F.count_distinct("o_custkey"))
        .first()[0]
    )
    assert abs(sub["est"] - sub_exact) <= 0.08 * sub_exact, (sub["est"], sub_exact)


def test_ndv_append_extends_registers(spark, sf_dir, tmp_path):
    """append_zonemap sketches the delta files; the post-append merge
    tracks the grown distinct count (register max over old + delta ==
    the direct build — associativity)."""
    path = str(tmp_path / "ndv_a")
    orders = load(spark, sf_dir, "orders")
    orders.repartition(3).write.mode("overwrite").parquet(path)
    Z.write_zonemap(spark, path, ["o_custkey"], ndv_cols=["o_custkey"])
    before = Z.manifest_ndv(spark, path, "o_custkey")["est"]
    delta = orders.withColumn("o_custkey", F.col("o_custkey") + F.lit(10_000_000))
    delta.repartition(2).write.mode("append").parquet(path)
    assert Z.append_zonemap(spark, path, ["o_custkey"]) == 2
    after = Z.manifest_ndv(spark, path, "o_custkey")
    exact = spark.read.parquet(path).agg(F.count_distinct("o_custkey")).first()[0]
    assert after["est"] > 1.6 * before
    assert abs(after["est"] - exact) <= 0.08 * exact
    # the incremental merge equals a from-scratch rebuild's registers
    Z.write_zonemap(spark, path, ["o_custkey"])  # inherits ndv config
    rebuilt = Z.manifest_ndv(spark, path, "o_custkey")
    assert rebuilt["nonzero"] == after["nonzero"]
    assert rebuilt["est"] == after["est"]


def test_explain_join_ndv_source_and_sample_fallback(spark, sf_dir, tmp_path):
    """Two register-carrying manifest tables: the join-size estimate
    comes from the NDV containment formula with NO sample execution
    (join_est_source == 'ndv', n_common_sampled is None) and lands
    within 25% of the true join size; drop one side's registers and
    the estimator falls back to the key-overlap sample."""
    from quack_reduce_spark.engine import Engine

    po, pl = str(tmp_path / "ndv_o"), str(tmp_path / "ndv_l")
    orders = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem").withColumnRenamed("l_orderkey", "o_orderkey")
    orders.repartition(4).write.parquet(po)
    li.repartition(4).write.parquet(pl)
    Z.write_zonemap(spark, po, ["o_orderkey"], ndv_cols=["o_orderkey"])
    Z.write_zonemap(spark, pl, ["o_orderkey"], ndv_cols=["o_orderkey"])
    eng = Engine(spark=spark)
    eng.register("ndv_o", po)
    eng.register("ndv_l", pl)
    rep = eng.explain_join("ndv_o", "ndv_l", "o_orderkey")
    assert rep["join_est_source"] == "ndv" and rep["n_common_sampled"] is None
    true_join = spark.read.parquet(po).join(spark.read.parquet(pl), "o_orderkey").count()
    assert abs(rep["est_join_rows"] - true_join) <= 0.25 * true_join
    # registers on one side only -> sample fallback
    Z.write_zonemap(spark, pl, ["o_orderkey"], ndv_cols=[])
    rep2 = eng.explain_join("ndv_o", "ndv_l", "o_orderkey")
    assert rep2["join_est_source"] == "sample"
    assert rep2["n_common_sampled"] is not None
    for v in ("ndv_o", "ndv_l"):
        spark.catalog.dropTempView(v)


def test_ndv_refuses_unportable_types(spark, sf_dir, tmp_path):
    path = str(tmp_path / "ndv_bad")
    load(spark, sf_dir, "orders").limit(100).coalesce(1).write.mode(
        "overwrite"
    ).parquet(path)
    with pytest.raises(ValueError, match="NDV sketches"):
        Z.write_zonemap(
            spark, path, ["o_totalprice"], ndv_cols=["o_totalprice"]
        )


def test_optimize_preserves_bloom_and_hist_configs(spark, sf_dir, tmp_path):
    """The full lifecycle: a clustered+fingerprinted+histogrammed table
    degraded by random appends, then OPTIMIZEd — the re-cluster's
    manifest rebuild keeps the bloom and histogram configs (inherited
    through the staged-rewrite capture), and a point lookup on the
    fingerprinted key still prunes afterwards."""
    from quack_reduce_spark.engine import Engine

    path = str(tmp_path / "opt_layers")
    orders = load(spark, sf_dir, "orders")
    eng = Engine(spark=spark)
    eng.write_clustered(
        orders, path, ["o_orderdate"], n_files=8,
        bloom_cols=["o_orderkey"], hist_cols=["o_totalprice"],
    )
    # random appends: new files carry fingerprints via append_zonemap
    delta = orders.limit(400).withColumn(
        "o_orderkey", F.col("o_orderkey") + F.lit(700_000_000)
    )
    delta.repartition(2).write.mode("append").parquet(path)
    Z.append_zonemap(spark, path, ["o_orderdate", "o_orderkey", "o_totalprice"])
    eng.optimize(path, ["o_orderdate"], target_rows_per_file=250)
    assert set(Z.bloom_config(path)) == {"o_orderkey"}
    assert set(Z.manifest_hist(path)) == {"o_totalprice"}
    full = spark.read.parquet(path)
    n = full.count()
    key = (
        full.select("o_orderkey").orderBy("o_orderkey").offset(n // 2).limit(1).first()[0]
    )
    rows, total = Z.prune_files_multi(spark, path, {"o_orderkey": (key, key, None, None)})
    assert 0 < len(rows) < total
    got = spark.read.parquet(*[r["file"] for r in rows]).filter(
        F.col("o_orderkey") == key
    ).count()
    assert got == full.filter(F.col("o_orderkey") == key).count() > 0
