from __future__ import annotations

import pytest
from pyspark.sql import SparkSession


def pytest_configure(config):
    config.addinivalue_line(
        "markers",
        "planner_fault: the test injects a planner fault on purpose, so "
        "a raised metadata rule does not fail it",
    )


@pytest.fixture(autouse=True)
def _strict_planners(request, monkeypatch):
    """Fail any test during which an Engine's metadata rule raised. A
    raise still falls back to the plain plan (the answer stays right),
    which is exactly how a planner bug would hide; tests that inject a
    planner fault on purpose carry the ``planner_fault`` marker."""
    from quack_reduce_spark.engine import Engine

    raised: list[tuple[str, dict]] = []
    orig = Engine._sql_planned_report

    def checked(self, query, snap_cache=None):
        out = orig(self, query, snap_cache)
        if any(v.startswith("raised:") for v in out[2].values()):
            raised.append((query, out[2]))
        return out

    monkeypatch.setattr(Engine, "_sql_planned_report", checked)
    yield
    if raised and request.node.get_closest_marker("planner_fault") is None:
        pytest.fail(f"a metadata rule raised: {raised}")


@pytest.fixture(scope="session")
def spark() -> SparkSession:
    from quack_reduce_spark.session import configure

    return (
        configure(
            SparkSession.builder.appName("tests").master("local[4]"),
            shuffle_partitions=4,
        )
        .getOrCreate()
    )


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return "/root/testdata/sf0.001"


@pytest.fixture(scope="module", autouse=True)
def _bound_jvm_heap_between_modules():
    """Keep cumulative driver-heap growth bounded across the single-JVM
    full-suite run: localCheckpoint blocks are only reclaimed when the
    driver GC collects their RDD references (ContextCleaner is weak-ref
    driven), so dozens of heavy modules back to back can accumulate
    hundreds of MBs of dead blocks and eventually abort a late task.
    After each module, drop cached relations and force one JVM GC so
    the cleaner runs — the late-suite py4j flake this prevents showed
    up ~25 min in while the same test passed isolated."""
    yield
    spark = SparkSession.getActiveSession()
    if spark is None:
        return
    try:
        spark.catalog.clearCache()
        spark.sparkContext._jvm.System.gc()
    except Exception:
        pass  # teardown hygiene is best-effort; never fail a module
