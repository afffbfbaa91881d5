"""Query result cache on the envelope surface (round 13): the
reference's benchmark "cached" mode (``benchmark.py:254-265``) with
real invalidation — identical ``(query, limit)`` over unchanged source
tables returns the stored records WITHOUT executing (zero Spark jobs),
and any source commit invalidates. Declines are half the contract:
nondeterministic expressions, commands, and un-tokenizable tables must
never cache."""

from __future__ import annotations

from quack_reduce_spark import engine as E
from quack_reduce_spark.engine import Engine
from quack_reduce_spark.inventory._util import load


def _eng(spark, sf_dir, tmp_path, name):
    src = str(tmp_path / name)
    load(spark, sf_dir, "orders").write.mode("overwrite").parquet(src)
    eng = Engine(spark=spark)
    eng.register("orders", src)
    return eng, src


def test_result_cache_hit_runs_zero_jobs(spark, sf_dir, tmp_path):
    eng, _src = _eng(spark, sf_dir, tmp_path, "rc1")
    q = (
        "SELECT o_orderstatus, COUNT(*) AS n FROM orders "
        "GROUP BY o_orderstatus ORDER BY o_orderstatus"
    )
    r1 = eng.sql(q)
    assert r1.metadata["result_cache"] == {"hit": False, "stored": True}
    tracker = spark.sparkContext.statusTracker()
    before = len(tracker.getJobIdsForGroup(None) or [])
    r2 = eng.sql(q)
    after = len(tracker.getJobIdsForGroup(None) or [])
    assert r2.metadata["result_cache"] == {"hit": True}
    assert after == before  # the hit scheduled NO Spark job
    assert r2.records == r1.records
    assert r2.metadata["warm"] is True
    # records are copies: mutating one envelope can't poison the cache
    r2.records[0]["n"] = -1
    assert eng.sql(q).records == r1.records
    spark.catalog.dropTempView("orders")


def test_result_cache_invalidates_on_commit(spark, sf_dir, tmp_path):
    eng, src = _eng(spark, sf_dir, tmp_path, "rc2")
    q = "SELECT COUNT(*) AS n FROM orders"
    n0 = eng.sql(q).records[0]["n"]
    load(spark, sf_dir, "orders").limit(5).write.mode("append").parquet(src)
    r = eng.sql(q)
    assert r.metadata["result_cache"]["hit"] is False
    # the re-registered live listing then caches + hits the new state
    eng.register("orders", src)
    n1 = eng.sql(q).records[0]["n"]
    assert n1 == n0 + 5
    assert eng.sql(q).metadata["result_cache"]["hit"] is True
    spark.catalog.dropTempView("orders")


def test_result_cache_declines(spark, sf_dir, tmp_path):
    """rand() re-draws, commands replay nothing, limits key
    separately, and result_cache=False disables wholesale."""
    eng, _src = _eng(spark, sf_dir, tmp_path, "rc3")
    r1 = eng.sql("SELECT rand() AS x FROM orders LIMIT 1")
    assert r1.metadata["result_cache"] == {"hit": False, "stored": False}
    assert eng.sql("SELECT rand() AS x FROM orders LIMIT 1").metadata[
        "result_cache"
    ]["hit"] is False
    eng.sql("CREATE OR REPLACE TEMP VIEW rc_vv AS SELECT 1 AS one")
    r2 = eng.sql("CREATE OR REPLACE TEMP VIEW rc_vv AS SELECT 1 AS one")
    assert r2.metadata["result_cache"]["hit"] is False
    q = "SELECT o_orderkey FROM orders ORDER BY o_orderkey"
    assert len(eng.sql(q, limit=2).records) == 2
    r3 = eng.sql(q, limit=3)
    assert r3.metadata["result_cache"]["hit"] is False
    assert len(eng.sql(q, limit=2).records) == 2  # hit, still capped at 2
    off = Engine(spark=spark, result_cache=False)
    off.register("orders", _src)
    assert "result_cache" not in off.sql(q).metadata
    assert "result_cache" not in off.sql(q).metadata
    spark.catalog.dropTempView("orders")


def test_result_cache_lru_bound(spark, sf_dir, tmp_path):
    eng, _src = _eng(spark, sf_dir, tmp_path, "rc4")
    old_max = E.RESULT_CACHE_MAX
    E.RESULT_CACHE_MAX = 2
    try:
        qa = "SELECT 1 AS a FROM orders LIMIT 1"
        qb = "SELECT 2 AS b FROM orders LIMIT 1"
        qc = "SELECT 3 AS c FROM orders LIMIT 1"
        eng.sql(qa)
        eng.sql(qb)
        assert eng.sql(qa).metadata["result_cache"]["hit"]  # LRU touch
        eng.sql(qc)  # evicts qb (least recently used)
        assert eng.sql(qa).metadata["result_cache"]["hit"]
        assert eng.sql(qb).metadata["result_cache"]["hit"] is False
    finally:
        E.RESULT_CACHE_MAX = old_max
    spark.catalog.dropTempView("orders")

def test_result_cache_row_cap(spark, sf_dir, tmp_path):
    """An uncapped (limit=None) result above RESULT_CACHE_MAX_ROWS is
    never stored — the cache must not pin large result sets."""
    eng, _src = _eng(spark, sf_dir, tmp_path, "rc5")
    old = E.RESULT_CACHE_MAX_ROWS
    E.RESULT_CACHE_MAX_ROWS = 10
    try:
        q = "SELECT o_orderkey FROM orders ORDER BY o_orderkey"
        r = eng.sql(q, limit=None)
        assert len(r.records) > 10
        assert r.metadata["result_cache"] == {"hit": False, "stored": False}
        assert eng.sql(q, limit=None).metadata["result_cache"]["hit"] is False
        # a capped variant still caches
        assert eng.sql(q, limit=5).metadata["result_cache"]["stored"]
        assert eng.sql(q, limit=5).metadata["result_cache"]["hit"]
    finally:
        E.RESULT_CACHE_MAX_ROWS = old
    spark.catalog.dropTempView("orders")


def test_result_cache_view_redefinition_invalidates(spark, sf_dir, tmp_path):
    """ADVICE r14: redefining a temp view (via create_view or DDL
    through sql()) between identical queries must NOT serve the old
    definition's records — every view/DDL change bumps the key epoch."""
    import pyspark.sql.functions as F

    eng, src = _eng(spark, sf_dir, tmp_path, "rc6")
    full = spark.read.parquet(src)

    def n_under(k):
        return full.filter(F.col("o_orderkey") <= k).count()

    eng.create_view("rc6_v", "SELECT o_orderkey FROM orders WHERE o_orderkey <= 50")
    q = "SELECT COUNT(*) AS n FROM rc6_v"
    assert eng.sql(q).records[0]["n"] == n_under(50)
    assert eng.sql(q).metadata["result_cache"]["hit"] is True
    eng.create_view("rc6_v", "SELECT o_orderkey FROM orders WHERE o_orderkey <= 999")
    r = eng.sql(q)
    assert r.metadata["result_cache"]["hit"] is False
    assert r.records[0]["n"] == n_under(999)
    # the DDL-through-sql surface bumps too
    eng.sql("CREATE OR REPLACE TEMP VIEW rc6_v AS "
            "SELECT o_orderkey FROM orders WHERE o_orderkey <= 7")
    r2 = eng.sql(q)
    assert r2.metadata["result_cache"]["hit"] is False
    assert r2.records[0]["n"] == n_under(7)
    spark.catalog.dropTempView("rc6_v")
    spark.catalog.dropTempView("orders")


def test_result_cache_declines_unregistered_relations(spark, sf_dir, tmp_path):
    """A query scanning a path OUTSIDE the registered tables (direct
    parquet.`path`, a view over an unregistered source) has no
    snapshot in the freshness token and must never be stored."""
    eng, src = _eng(spark, sf_dir, tmp_path, "rc7")
    other = str(tmp_path / "rc7_other")
    load(spark, sf_dir, "nation").write.mode("overwrite").parquet(other)
    r = eng.sql(f"SELECT COUNT(*) AS n FROM parquet.`{other}`")
    assert r.metadata["result_cache"]["stored"] is False
    # a view over an unregistered path: same decline
    spark.read.parquet(other).createOrReplaceTempView("rc7_un")
    r2 = eng.sql("SELECT COUNT(*) AS n FROM rc7_un")
    assert r2.metadata["result_cache"]["stored"] is False
    # registered-table queries still store (the guard is not global)
    assert eng.sql("SELECT COUNT(*) AS n FROM orders").metadata[
        "result_cache"
    ]["stored"] is True
    spark.catalog.dropTempView("rc7_un")
    spark.catalog.dropTempView("orders")


def test_result_cache_declines_clock_functions(spark, sf_dir, tmp_path):
    """ADVICE r14: current_timestamp()/now()/current_date() fold to
    deterministic literals BEFORE the optimized plan — a cached result
    would replay the first call's clock forever. The analyzed-plan
    walk declines them."""
    eng, _src = _eng(spark, sf_dir, tmp_path, "rc8")
    for q in (
        "SELECT current_timestamp() AS t FROM orders LIMIT 1",
        "SELECT now() AS t FROM orders LIMIT 1",
        "SELECT current_date() AS d FROM orders LIMIT 1",
        "SELECT COUNT(*) AS n FROM orders "
        "WHERE o_orderdate < current_timestamp()",
    ):
        assert eng.sql(q).metadata["result_cache"]["stored"] is False, q
        assert eng.sql(q).metadata["result_cache"]["hit"] is False, q
    spark.catalog.dropTempView("orders")


def test_result_cache_byte_budget(spark, sf_dir, tmp_path):
    """The LRU evicts by BYTE budget too, and a single result above
    the budget is never stored — 128 entries x 10k wide rows must not
    pin GBs of driver heap."""
    eng, _src = _eng(spark, sf_dir, tmp_path, "rc9")
    old = E.RESULT_CACHE_MAX_BYTES
    try:
        q_big = "SELECT o_orderkey, o_orderpriority FROM orders ORDER BY o_orderkey"
        r = eng.sql(q_big, limit=100)
        need = eng.last_result_cache["bytes"]
        assert r.metadata["result_cache"]["stored"] is True and need > 0
        # budget below one result: never stored
        E.RESULT_CACHE_MAX_BYTES = need - 1
        eng2 = Engine(spark=spark)
        eng2.register("orders", _src)
        r2 = eng2.sql(q_big, limit=100)
        assert r2.metadata["result_cache"]["stored"] is False
        # budget fitting ~1.5 results: storing a second evicts the first
        E.RESULT_CACHE_MAX_BYTES = int(need * 1.5)
        eng3 = Engine(spark=spark)
        eng3.register("orders", _src)
        qa = q_big
        qb = "SELECT o_orderkey, o_orderpriority FROM orders ORDER BY o_orderkey DESC"
        assert eng3.sql(qa, limit=100).metadata["result_cache"]["stored"]
        assert eng3.sql(qb, limit=100).metadata["result_cache"]["stored"]
        assert eng3.last_result_cache["cache_bytes"] <= E.RESULT_CACHE_MAX_BYTES
        assert eng3.sql(qa, limit=100).metadata["result_cache"]["hit"] is False
    finally:
        E.RESULT_CACHE_MAX_BYTES = old
    spark.catalog.dropTempView("orders")


def test_result_cache_declines_subquery_clock_and_rand(
    spark, sf_dir, tmp_path
):
    """r15 ADVICE (medium): clock / rand() INSIDE a subquery evaded
    the analyzed/optimized-plan walks (ScalarSubquery holds its plan
    out-of-band) — ComputeCurrentTime folds the subquery's clock to a
    literal and a cache hit would replay the first call's frozen
    clock. Both walks now descend into subquery plans."""
    eng, _src = _eng(spark, sf_dir, tmp_path, "rc10")
    r = eng.sql(
        "SELECT COUNT(*) AS n FROM orders "
        "WHERE o_orderdate < (SELECT CAST(current_timestamp() AS DATE))"
    )
    assert r.metadata["result_cache"] == {"hit": False, "stored": False}
    r2 = eng.sql(
        "SELECT COUNT(*) AS n FROM orders "
        "WHERE o_orderkey > (SELECT MIN(o_orderkey) + rand() FROM orders)"
    )
    assert r2.metadata["result_cache"] == {"hit": False, "stored": False}
    # a DETERMINISTIC subquery over the registered table still caches
    r3 = eng.sql(
        "SELECT COUNT(*) AS n FROM orders "
        "WHERE o_orderkey > (SELECT MIN(o_orderkey) FROM orders)"
    )
    assert r3.metadata["result_cache"] == {"hit": False, "stored": True}
    assert eng.sql(
        "SELECT COUNT(*) AS n FROM orders "
        "WHERE o_orderkey > (SELECT MIN(o_orderkey) FROM orders)"
    ).metadata["result_cache"] == {"hit": True}
    spark.catalog.dropTempView("orders")


def test_result_cache_in_subquery_still_caches(spark, sf_dir, tmp_path):
    """r16 (r15 ADVICE): Catalyst's InSubquery matches the 'Subquery'
    substring but exposes NO plan() of its own — calling it aborted the
    cacheability walk, so every deterministic ``WHERE col IN
    (SELECT …)`` silently declined caching. Its ListQuery child (in
    children()) carries the plan and is still descended, so a rand()
    inside the IN-subquery must STILL decline."""
    eng, _src = _eng(spark, sf_dir, tmp_path, "rc14")
    q = (
        "SELECT COUNT(*) AS n FROM orders WHERE o_orderkey IN "
        "(SELECT o_orderkey FROM orders WHERE o_totalprice > 1000)"
    )
    r = eng.sql(q)
    assert r.metadata["result_cache"] == {"hit": False, "stored": True}
    assert eng.sql(q).metadata["result_cache"] == {"hit": True}
    # nondeterminism INSIDE the IN-subquery still declines (the
    # ListQuery descent is intact)
    r2 = eng.sql(
        "SELECT COUNT(*) AS n FROM orders WHERE o_orderkey IN "
        "(SELECT CAST(o_orderkey + rand() AS BIGINT) FROM orders)"
    )
    assert r2.metadata["result_cache"] == {"hit": False, "stored": False}
    spark.catalog.dropTempView("orders")


def test_result_cache_token_scoped_to_referenced_tables(
    spark, sf_dir, tmp_path
):
    """r15: the freshness token is scoped to the tables the stored
    plan READ — committing to an UNRELATED registered table must not
    invalidate (and a probe hit re-walks only the referenced table)."""
    eng, _src = _eng(spark, sf_dir, tmp_path, "rc11")
    other = str(tmp_path / "rc11_other")
    load(spark, sf_dir, "nation").write.mode("overwrite").parquet(other)
    eng.register("nation_t", other)
    q = "SELECT COUNT(*) AS n FROM orders"
    assert eng.sql(q).metadata["result_cache"]["stored"] is True
    # touch the OTHER table: the orders entry must still hit
    load(spark, sf_dir, "nation").limit(1).write.mode("append").parquet(other)
    assert eng.sql(q).metadata["result_cache"] == {"hit": True}
    # a query over the touched table misses (its binding is stale
    # until re-register, and the disk moved): correctness unchanged
    eng.register("nation_t", other)
    qn = "SELECT COUNT(*) AS n FROM nation_t"
    assert eng.sql(qn).metadata["result_cache"]["hit"] is False
    assert eng.sql(qn).metadata["result_cache"] == {"hit": True}
    spark.catalog.dropTempView("orders")
    spark.catalog.dropTempView("nation_t")


def test_result_cache_literal_query_needs_no_tables(spark, sf_dir, tmp_path):
    """A pure-literal query reads nothing: it caches with an EMPTY
    scope and stays a hit across commits to any registered table."""
    eng, src = _eng(spark, sf_dir, tmp_path, "rc12")
    q = "SELECT 1 AS one, 'x' AS tag"
    assert eng.sql(q).metadata["result_cache"]["stored"] is True
    load(spark, sf_dir, "orders").limit(3).write.mode("append").parquet(src)
    assert eng.sql(q).metadata["result_cache"] == {"hit": True}
    spark.catalog.dropTempView("orders")


def test_result_cache_array_exists_still_caches(spark, sf_dir, tmp_path):
    """r15 review: ArrayExists (the exists() higher-order function)
    must not be mistaken for a subquery plan-holder — the query is
    deterministic and caches normally."""
    eng, _src = _eng(spark, sf_dir, tmp_path, "rc13")
    q = (
        "SELECT COUNT(*) AS n FROM orders "
        "WHERE exists(array(o_orderstatus), s -> s = 'F')"
    )
    r = eng.sql(q)
    assert r.metadata["result_cache"] == {"hit": False, "stored": True}
    assert eng.sql(q).metadata["result_cache"] == {"hit": True}
    spark.catalog.dropTempView("orders")


def test_plan_cache_scope_round_trip_budget(spark, sf_dir, tmp_path, monkeypatch):
    """The cacheability check is a handful of JVM-side tree queries per
    plan, not a py4j call per expression node: on a plan with a scalar
    subquery and an IN-subquery it stays under a small fixed number of
    gateway round trips."""
    eng, src = _eng(spark, sf_dir, tmp_path, "rc15")
    df = eng.df(
        "SELECT o_orderstatus, COUNT(*) AS n FROM orders "
        "WHERE o_orderkey > (SELECT MIN(o_orderkey) FROM orders) "
        "AND o_orderkey IN "
        "(SELECT o_orderkey FROM orders WHERE o_totalprice > 1000) "
        "GROUP BY o_orderstatus"
    )
    df.collect()
    E._plan_cache_scope(df, [src])  # resolves the tree patterns once
    client = spark.sparkContext._gateway._gateway_client
    calls = [0]
    send = client.send_command

    def counting(*args, **kwargs):
        calls[0] += 1
        return send(*args, **kwargs)

    monkeypatch.setattr(client, "send_command", counting)
    scope = E._plan_cache_scope(df, [src])
    monkeypatch.undo()
    assert scope == {E._norm_fs_path(src)}
    assert calls[0] <= 60, calls[0]
    spark.catalog.dropTempView("orders")
