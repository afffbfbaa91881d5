"""Star-join grouped aggregate pushdown (r16, VERDICT r15 #3):
``fact JOIN dim ON one equi key GROUP BY dim attrs`` answered from
per-(file, join-key) slice partials + a bounded dim evaluation with
ZERO fact files scanned. Correctness is always checked against the
plain Spark plan over the same data; decline paths must stay exact
via the plain plan."""

from __future__ import annotations

import pyspark.sql.functions as F

from quack_reduce_spark.engine import Engine
from quack_reduce_spark.inventory._util import load
from quack_reduce_spark.operators import zonemaps as Z


def _setup(
    spark, sf_dir, tmp_path, gs_cols=("c_nationkey",),
    stats_cols=("c_custkey", "c_nationkey"),
):
    fact = str(tmp_path / "star_fact")
    dim = str(tmp_path / "star_dim")
    load(spark, sf_dir, "customer").repartition(5).write.mode(
        "overwrite"
    ).parquet(fact)
    load(spark, sf_dir, "nation").coalesce(1).write.mode(
        "overwrite"
    ).parquet(dim)
    Z.write_zonemap(
        spark, fact, list(stats_cols), group_stats_cols=list(gs_cols),
    )
    eng = Engine(spark=spark)
    eng.register("sfact", fact)
    eng.register("sdim", dim)
    return eng, fact, dim


def _plain(spark, fact, dim, dim_pred=None, fact_pred=None, cond=None):
    f = spark.read.parquet(fact)
    n = spark.read.parquet(dim)
    if dim_pred is not None:
        n = n.where(dim_pred)
    if fact_pred is not None:
        f = f.where(fact_pred)
    on = (
        f["c_nationkey"] == n["n_nationkey"] if cond is None
        else cond(f, n)
    )
    return f.join(n, on)


def _teardown(spark):
    spark.catalog.dropTempView("sfact")
    spark.catalog.dropTempView("sdim")


def test_star_group_zero_scan_and_exact(spark, sf_dir, tmp_path):
    eng, fact, dim = _setup(spark, sf_dir, tmp_path)
    d = eng.df(
        "SELECT n_name, COUNT(*) AS n, SUM(c_custkey) AS s, "
        "MIN(c_custkey) AS m, AVG(c_custkey) AS a "
        "FROM sfact JOIN sdim ON c_nationkey = n_nationkey "
        "WHERE n_regionkey = 1 GROUP BY n_name ORDER BY n_name"
    )
    tele = eng.last_star_plan
    assert tele is not None, "star pushdown did not fire"
    assert tele["files_scanned"] == 0
    assert tele["files_group_stats"] + tele["files_pinned"] == (
        tele["files_pruned_in"]
    )
    want = [
        tuple(r)
        for r in _plain(spark, fact, dim, dim_pred="n_regionkey = 1")
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("c_custkey").alias("s"),
            F.min("c_custkey").alias("m"),
            F.avg("c_custkey").alias("a"),
        )
        .orderBy("n_name")
        .collect()
    ]
    assert [tuple(r) for r in d.collect()] == want
    _teardown(spark)


def test_star_group_multiplicity_and_fact_where(spark, sf_dir, tmp_path):
    """Duplicate dim join keys multiply fact rows exactly like the
    real join; a fact-side conjunct ON THE JOIN KEY classifies every
    slice exactly and keeps the zero-scan path."""
    eng, fact, dim = _setup(spark, sf_dir, tmp_path)
    # dim with duplicated keys: nation UNION ALL its region-1 slice
    dup = str(tmp_path / "star_dim_dup")
    nd = spark.read.parquet(dim)
    nd.unionByName(nd.where("n_regionkey = 1")).coalesce(1).write.mode(
        "overwrite"
    ).parquet(dup)
    eng.register("sdup", dup)
    d = eng.df(
        "SELECT n_name, COUNT(*) AS n, MAX(c_custkey) AS mx "
        "FROM sfact JOIN sdup ON c_nationkey = n_nationkey "
        "WHERE c_nationkey <= 12 GROUP BY n_name ORDER BY n_name"
    )
    tele = eng.last_star_plan
    assert tele is not None and tele["files_scanned"] == 0
    f = spark.read.parquet(fact).where("c_nationkey <= 12")
    n = spark.read.parquet(dup)
    want = [
        tuple(r)
        for r in f.join(n, f["c_nationkey"] == n["n_nationkey"])
        .groupBy("n_name")
        .agg(F.count(F.lit(1)).alias("n"), F.max("c_custkey").alias("mx"))
        .orderBy("n_name")
        .collect()
    ]
    assert [tuple(r) for r in d.collect()] == want
    spark.catalog.dropTempView("sdup")
    _teardown(spark)


def test_star_group_having_order_limit(spark, sf_dir, tmp_path):
    """The HAVING / ORDER BY / LIMIT peel re-applies over the rebuilt
    frame (finish_frame), like the single-table grouped path."""
    eng, fact, dim = _setup(spark, sf_dir, tmp_path)
    d = eng.df(
        "SELECT n_name, COUNT(*) AS n "
        "FROM sfact JOIN sdim ON c_nationkey = n_nationkey "
        "GROUP BY n_name HAVING COUNT(*) > 10 "
        "ORDER BY n DESC, n_name LIMIT 5"
    )
    tele = eng.last_star_plan
    assert tele is not None and tele["files_scanned"] == 0
    want = [
        tuple(r)
        for r in _plain(spark, fact, dim)
        .groupBy("n_name")
        .agg(F.count(F.lit(1)).alias("n"))
        .where("n > 10")
        .orderBy(F.col("n").desc(), "n_name")
        .limit(5)
        .collect()
    ]
    assert [tuple(r) for r in d.collect()] == want
    _teardown(spark)


def test_star_group_composite_key_extracts_empty(spark, sf_dir, tmp_path):
    """Composite equi keys decline through the extractor's list
    contract: an empty candidate list, not None."""
    from quack_reduce_spark.plans import star_pushdown as SP

    _eng, fact, dim = _setup(spark, sf_dir, tmp_path)
    d = spark.sql(
        "SELECT n_name, COUNT(*) AS n FROM sfact JOIN sdim "
        "ON c_nationkey = n_nationkey AND c_nationkey = n_regionkey "
        "GROUP BY n_name ORDER BY n_name"
    )
    assert SP.extract_star_group(d, {"sfact": fact, "sdim": dim}) == []
    _teardown(spark)


def test_star_group_declines_stay_exact(spark, sf_dir, tmp_path):
    """Non-equi, composite-key, outer join, dim-column aggregate,
    unsliced join key, over-cap key set: every one declines (no star
    telemetry) and the plain plan answers exactly."""
    from quack_reduce_spark.plans import star_pushdown as SP

    eng, fact, dim = _setup(spark, sf_dir, tmp_path)

    def run(q):
        d = eng.df(q)
        return d, eng.last_star_plan

    # non-equi
    d, tele = run(
        "SELECT n_name, COUNT(*) AS n FROM sfact JOIN sdim "
        "ON c_nationkey < n_nationkey GROUP BY n_name ORDER BY n_name"
    )
    assert tele is None
    f, n = spark.read.parquet(fact), spark.read.parquet(dim)
    want = [
        tuple(r)
        for r in f.join(n, f["c_nationkey"] < n["n_nationkey"])
        .groupBy("n_name").agg(F.count(F.lit(1)).alias("n"))
        .orderBy("n_name").collect()
    ]
    assert [tuple(r) for r in d.collect()] == want

    # composite equi key (two pairs)
    d, tele = run(
        "SELECT n_name, COUNT(*) AS n FROM sfact JOIN sdim "
        "ON c_nationkey = n_nationkey AND c_nationkey = n_regionkey "
        "GROUP BY n_name ORDER BY n_name"
    )
    assert tele is None
    want = [
        tuple(r)
        for r in f.join(
            n,
            (f["c_nationkey"] == n["n_nationkey"])
            & (f["c_nationkey"] == n["n_regionkey"]),
        )
        .groupBy("n_name").agg(F.count(F.lit(1)).alias("n"))
        .orderBy("n_name").collect()
    ]
    assert [tuple(r) for r in d.collect()] == want

    # outer join
    d, tele = run(
        "SELECT n_name, COUNT(*) AS n FROM sfact RIGHT JOIN sdim "
        "ON c_nationkey = n_nationkey GROUP BY n_name ORDER BY n_name"
    )
    assert tele is None

    # dim-column aggregate
    d, tele = run(
        "SELECT n_name, SUM(n_regionkey) AS s FROM sfact JOIN sdim "
        "ON c_nationkey = n_nationkey GROUP BY n_name ORDER BY n_name"
    )
    assert tele is None

    # join key without slices (c_custkey has no group stats)
    d, tele = run(
        "SELECT n_name, COUNT(*) AS n FROM sfact JOIN sdim "
        "ON c_custkey = n_nationkey GROUP BY n_name ORDER BY n_name"
    )
    assert tele is None
    want = [
        tuple(r)
        for r in f.join(n, f["c_custkey"] == n["n_nationkey"])
        .groupBy("n_name").agg(F.count(F.lit(1)).alias("n"))
        .orderBy("n_name").collect()
    ]
    assert [tuple(r) for r in d.collect()] == want

    # over-cap key set: shrink the cap so 25 nation keys exceed it
    cap0 = SP.STAR_MAX_KEYS
    try:
        SP.STAR_MAX_KEYS = 10
        d, tele = run(
            "SELECT n_name, COUNT(*) AS n FROM sfact JOIN sdim "
            "ON c_nationkey = n_nationkey GROUP BY n_name ORDER BY n_name"
        )
        assert tele is None
        want = [
            tuple(r)
            for r in f.join(n, f["c_nationkey"] == n["n_nationkey"])
            .groupBy("n_name").agg(F.count(F.lit(1)).alias("n"))
            .orderBy("n_name").collect()
        ]
        assert [tuple(r) for r in d.collect()] == want
    finally:
        SP.STAR_MAX_KEYS = cap0
    _teardown(spark)


def test_star_group_mixed_dim_and_fact_keys(spark, sf_dir, tmp_path):
    """r16 mixed grouping: GROUP BY a dim attribute AND a fact column
    — the fact column pins per slice through a COMPOSITE slice key
    (c_nationkey,c_mktsegment), the output key re-interleaves both
    sides in query order, still zero fact files scanned. Without a
    slice config covering the fact key it declines and stays exact."""
    eng, fact, dim = _setup(
        spark, sf_dir, tmp_path,
        gs_cols=("c_nationkey,c_mktsegment",),
        stats_cols=("c_custkey", "c_nationkey", "c_mktsegment"),
    )
    d = eng.df(
        "SELECT c_mktsegment, n_name, COUNT(*) AS n, MIN(c_custkey) AS m "
        "FROM sfact JOIN sdim ON c_nationkey = n_nationkey "
        "WHERE n_regionkey <= 2 GROUP BY c_mktsegment, n_name "
        "ORDER BY c_mktsegment, n_name"
    )
    tele = eng.last_star_plan
    assert tele is not None and tele["files_scanned"] == 0, tele
    want = [
        tuple(r)
        for r in _plain(spark, fact, dim, dim_pred="n_regionkey <= 2")
        .groupBy("c_mktsegment", "n_name")
        .agg(F.count(F.lit(1)).alias("n"), F.min("c_custkey").alias("m"))
        .orderBy("c_mktsegment", "n_name")
        .collect()
    ]
    assert [tuple(r) for r in d.collect()] == want

    # single-key slices can't pin c_mktsegment on a shuffled layout:
    # decline, exact via the plain plan
    Z.write_zonemap(
        spark, fact, ["c_custkey", "c_nationkey"],
        group_stats_cols=["c_nationkey"],
    )
    eng.register("sfact", fact)
    d2 = eng.df(
        "SELECT c_mktsegment, n_name, COUNT(*) AS n2 "
        "FROM sfact JOIN sdim ON c_nationkey = n_nationkey "
        "GROUP BY c_mktsegment, n_name ORDER BY c_mktsegment, n_name"
    )
    assert eng.last_star_plan is None
    want2 = [
        tuple(r)
        for r in _plain(spark, fact, dim)
        .groupBy("c_mktsegment", "n_name")
        .agg(F.count(F.lit(1)).alias("n2"))
        .orderBy("c_mktsegment", "n_name")
        .collect()
    ]
    assert [tuple(r) for r in d2.collect()] == want2
    _teardown(spark)


def test_star_group_repeat_plans_zero_jobs(spark, sf_dir, tmp_path):
    """The _DPP_KEY_CACHE discipline: a dashboard re-issuing the same
    star query plans with ZERO Spark jobs — manifests, slices, and the
    dim rows are all epoch-cached. An overwrite of the dim re-runs the
    dim subquery (snapshot invalidation)."""
    from quack_reduce_spark.plans import star_pushdown as SP

    eng, fact, dim = _setup(spark, sf_dir, tmp_path)
    q = (
        "SELECT n_name, COUNT(*) AS n FROM sfact JOIN sdim "
        "ON c_nationkey = n_nationkey WHERE n_regionkey = 1 "
        "GROUP BY n_name ORDER BY n_name"
    )
    eng.df(q)
    assert eng.last_star_plan is not None
    evals0 = SP.STAR_COUNTS["dim_evals"]
    hits0 = SP.STAR_COUNTS["dim_cache_hits"]
    tracker = spark.sparkContext.statusTracker()
    before = len(tracker.getJobIdsForGroup(None))
    d = eng.df(q)
    assert eng.last_star_plan is not None
    after = len(tracker.getJobIdsForGroup(None))
    assert after == before, "repeat star planning ran Spark jobs"
    assert SP.STAR_COUNTS["dim_cache_hits"] == hits0 + 1
    assert SP.STAR_COUNTS["dim_evals"] == evals0
    assert d.count() > 0
    # dim overwrite invalidates the snapshot: the dim re-evaluates
    nd = spark.read.parquet(dim).where("n_regionkey <= 3")
    nd.localCheckpoint(eager=True).coalesce(1).write.mode(
        "overwrite"
    ).parquet(dim)
    eng.register("sdim", dim)
    eng.df(
        "SELECT n_name, COUNT(*) AS n2 FROM sfact JOIN sdim "
        "ON c_nationkey = n_nationkey WHERE n_regionkey = 1 "
        "GROUP BY n_name ORDER BY n_name"
    )
    assert eng.last_star_plan is not None
    assert SP.STAR_COUNTS["dim_evals"] == evals0 + 1
    _teardown(spark)


def test_star_group_null_keys_and_stale_manifest(spark, sf_dir, tmp_path):
    """NULL join keys never match (dropped on both sides); a raw
    append bypassing maintenance declines (stale manifest)."""
    eng, fact, dim = _setup(spark, sf_dir, tmp_path)
    # dim copy with a NULL key row and a NULL attr row
    nulldim = str(tmp_path / "star_dim_null")
    n = spark.read.parquet(dim)
    extra = spark.createDataFrame(
        [(None, "GHOST", 9), (7, None, 9)],
        "n_nationkey int, n_name string, n_regionkey int",
    ).select(
        F.col("n_nationkey").cast(n.schema["n_nationkey"].dataType),
        F.col("n_name"),
        F.col("n_regionkey").cast(n.schema["n_regionkey"].dataType),
    )
    n.unionByName(extra).coalesce(1).write.mode("overwrite").parquet(nulldim)
    eng.register("snull", nulldim)
    d = eng.df(
        "SELECT n_name, COUNT(*) AS n FROM sfact JOIN snull "
        "ON c_nationkey = n_nationkey GROUP BY n_name "
        "ORDER BY n_name NULLS FIRST"
    )
    tele = eng.last_star_plan
    assert tele is not None and tele["files_scanned"] == 0
    f = spark.read.parquet(fact)
    nn = spark.read.parquet(nulldim)
    want = [
        tuple(r)
        for r in f.join(nn, f["c_nationkey"] == nn["n_nationkey"])
        .groupBy("n_name").agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n_name").asc_nulls_first()).collect()
    ]
    assert [tuple(r) for r in d.collect()] == want

    # stale manifest: raw append -> decline, still exact
    load(spark, sf_dir, "customer").limit(20).write.mode("append").parquet(
        fact
    )
    eng.register("sfact", fact)
    d2 = eng.df(
        "SELECT n_name, COUNT(*) AS n FROM sfact JOIN sdim "
        "ON c_nationkey = n_nationkey GROUP BY n_name ORDER BY n_name"
    )
    assert eng.last_star_plan is None
    f2 = spark.read.parquet(fact)
    nd = spark.read.parquet(dim)
    want2 = [
        tuple(r)
        for r in f2.join(nd, f2["c_nationkey"] == nd["n_nationkey"])
        .groupBy("n_name").agg(F.count(F.lit(1)).alias("n"))
        .orderBy("n_name").collect()
    ]
    assert [tuple(r) for r in d2.collect()] == want2
    spark.catalog.dropTempView("snull")
    _teardown(spark)
