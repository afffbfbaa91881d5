"""SparkSession management.

Maps the reference's warm/cold module-global DuckDB connection
(``/root/reference/src/serverless/app.py:8,12-24,35-41``) to a single
long-lived SparkSession per process. ``get_spark()`` is idempotent:
the first call is the "cold start", subsequent calls reuse the warm
session (the ``warm`` flag the reference surfaces at ``app.py:80``).

Configuration notes (scale-oriented, see SURVEY.md §4):

- AQE on: runtime partition coalescing, skew-join splitting, dynamic
  join-strategy switching — required at 100 TB where static stats lie.
- ``spark.sql.session.timeZone=UTC``: DuckDB timestamps are naive; UTC
  pins Spark to the same wall-clock values for oracle parity.
- shuffle partitions default to the core count locally; on a real
  cluster this should be ~2-3x total cores (AQE coalesces the excess).
- Arrow enabled for any pandas exchange at the API edge.
- ``spark.sql.codegen.cache.maxEntries=1000`` (``CODEGEN_CACHE_ENTRIES``):
  a warm process must not pay again for code it already generated.
  Spark's default of 100 generated classes is below the working set:
  one round of the benchmark's 11 registry builders needs ~240, so
  each round recompiled ~235 (~9 ms each, ~2 s a round). Over a whole
  benchmark run an unbounded cache held 305 distinct classes for
  ``registry_batch`` and 153 for ``dashboard_rw``; 1000 covers their
  union twice over.
- ``spark.python.sql.dataFrameDebugging.enabled=false``: PySpark
  otherwise wraps every ``Column`` method and ``functions.*`` call to
  send its Python call site to the JVM (a JVM class lookup, a conf
  read, a stack walk, then ``set`` and ``clear``): ~7 py4j round trips
  per op against ~2, and ~57% of a registry builder's round trips.
  The one behaviour change: DataFrame-API analysis errors lose their
  "DataFrame query context" call-site block; SQL-string errors keep
  their SQL context.

Both of those are first-session-wins. Spark sizes the codegen cache
once per JVM, when its ``CodeGenerator`` is first used, and PySpark
memoizes the debugging flag once per Python process. A session built
outside ``configure`` (a caller's own session handed to
``__spark_entry__``) keeps Spark's defaults, and so does any later
session in a process whose first one did.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
CODEGEN_CACHE_ENTRIES = 1000


def default_master() -> str:
    return f"local[{os.environ.get('SPARK_GRAFT_CPUS', '*')}]"


def configure(builder: SparkSession.Builder, shuffle_partitions: int | None = None) -> SparkSession.Builder:
    """Apply the engine's standard config to a SparkSession builder."""
    return (
        builder.config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS))
        .config("spark.sql.adaptive.enabled", "true")
        # FAIR lets N concurrent client queries (Engine.sql_many — the
        # reference fires 20 parallel Lambda calls, benchmark.py:207)
        # share the cluster round-robin instead of convoying FIFO
        .config("spark.scheduler.mode", "FAIR")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.parquet.aggregatePushdown", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "12g"))
        .config("spark.ui.enabled", "false")
        # The app-status store tracks SQL executions (full plan-
        # description strings) even with the UI off; the 1000-entry
        # default pins hundreds of MBs of plan text over a long-lived
        # session (thousands of queries — a test suite, a dashboard
        # burst). The engine reads none of it back: keep a small
        # debugging window only.
        .config("spark.sql.ui.retainedExecutions", "50")
        .config("spark.ui.retainedJobs", "100")
        .config("spark.ui.retainedStages", "100")
        .config("spark.ui.retainedTasks", "1000")
        .config("spark.worker.ui.retainedExecutors", "10")
        .config("spark.worker.ui.retainedDrivers", "10")
        # Two per-process fixed costs, paid once (Configuration notes
        # above): a codegen cache that holds the warm working set, and
        # no Python call-site capture on every Column op. Both are
        # first-session-wins.
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )


def configure_s3a(builder: SparkSession.Builder) -> SparkSession.Builder:
    """Object-store (s3a) lake configuration — the Spark analog of the
    reference's ``LOAD httpfs; SET s3_region/...`` (app.py:18-21).

    Credentials come from the standard AWS provider chain (env vars /
    instance profile), mirroring the reference reading them from env.
    Not exercised in this container (no S3); kept config-only so a
    cluster deployment is a one-liner.
    """
    return (
        builder.config("spark.hadoop.fs.s3a.aws.credentials.provider",
                       "com.amazonaws.auth.DefaultAWSCredentialsProviderChain")
        # magic committer: direct multipart commit, no rename phase
        .config("spark.hadoop.fs.s3a.committer.magic.enabled", "true")
        .config("spark.sql.sources.commitProtocolClass",
                "org.apache.spark.internal.io.cloud.PathOutputCommitProtocol")
        .config("spark.sql.parquet.output.committer.class",
                "org.apache.hadoop.mapreduce.lib.output.BindingPathOutputCommitter")
        # read tuning: fewer, larger GETs for columnar scans
        .config("spark.hadoop.fs.s3a.experimental.input.fadvise", "random")
        .config("spark.hadoop.fs.s3a.connection.maximum", "96")
    )


def get_spark(app_name: str = "quack-reduce-spark", master: str | None = None) -> SparkSession:
    """Return the process-wide SparkSession, creating it on first call.

    Equivalent of the reference's ``return_duckdb_connection()``
    (``app.py:12-24``) + warm-reuse global (``app.py:35-41``).
    """
    active = SparkSession.getActiveSession()
    if active is not None:
        return active
    builder = SparkSession.builder.appName(app_name).master(master or default_master())
    return configure(builder).getOrCreate()


def is_warm() -> bool:
    """True if a SparkSession already exists (the reference's ``warm`` flag)."""
    return SparkSession.getActiveSession() is not None
