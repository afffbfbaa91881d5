"""Lake source readers (SURVEY §2 A1/A2 scans + format coverage).

``read_parquet_table`` is the canonical path-addressed scan. It also
absorbs a real-world lake wart: parquet files written with
TIMESTAMP(NANOS) (pandas/pyarrow default), which Spark's vectorized
reader rejects outright. Those columns are read as nanos-since-epoch
longs (legacy conf, runtime-settable) and truncated to microsecond
TimestampType — the same truncation DuckDB applies reading nanos into
its µs TIMESTAMP, so differential oracles see identical instants.
"""

from __future__ import annotations

import os

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.utils import AnalysisException


def _nanos_columns(path: str) -> list[str]:
    """Names of timestamp[ns] columns per the parquet footer."""
    import pyarrow.dataset as ds

    schema = ds.dataset(path, format="parquet").schema
    return [f.name for f in schema if str(f.type).startswith("timestamp[ns")]


# Session-level SCHEMA memo (r17): spark.read.parquet() re-infers the
# schema from footers on EVERY call — measured ~105-120 ms of driver
# work per call at sf0.1, the single largest component of the repo's
# ~0.2 s/query session floor (a query builder calls load() 1-3 times
# per invocation, bench reps re-invoke the builder). Passing the
# explicit schema cuts the read to ~20 ms. Guide §6's "file listing is
# cached per session" logic applied to schema inference:
# - ONLY the StructType is memoized — file LISTING happens fresh on
#   every call (each load builds a new DataFrame), so appends/
#   overwrites are always picked up and every action computes from the
#   parquet inputs as they are NOW; no data, no results, no plans are
#   cached.
# - the entry is valid while the path's SIGNATURE is unchanged: the
#   root's mtime plus (name, mtime, size) of every first-level entry
#   and of every entry inside a first-level directory. Replacing or
#   rewriting a root file or a file in a hive partition dir
#   (``part=1/x.parquet``) changes it and re-infers; a directory's own
#   mtime only moves when entries come or go, so the file stats are
#   what catch an in-place rewrite. Deeper nesting is covered only by
#   its directories' mtimes.
# - one entry per absolute path: a new signature REPLACES the old
#   entry, so the memo is bounded by the number of distinct tables.
# - nanos-bearing tables memoize the RAW (longs) read schema, whether
#   the first read needed nanosAsLong, and the nanos column list; a
#   hit replays the exact legacy-conf dance (set at creation, restore
#   after) + µs conversions. The conf flag is kept apart from the
#   column list: a first read that only succeeded through the
#   AnalysisException fallback (pyarrow could not probe the path)
#   converts no columns but still needed the conf. mergeSchema reads
#   never memoize (schema-evolution dirs must see real footers).
# value: (signature, raw_read_schema, needs_nanos_conf, nanos_column_names)
_SCHEMA_MEMO: dict[str, tuple] = {}


def _memo_sig(path: str) -> tuple:
    st = os.stat(path)
    if not os.path.isdir(path):
        return (st.st_mtime_ns, st.st_size)
    entries = []

    def scan(d: str, prefix: str, depth: int) -> None:
        with os.scandir(d) as it:
            for e in it:
                est = e.stat()
                entries.append((prefix + e.name, est.st_mtime_ns, est.st_size))
                if depth and e.is_dir():
                    scan(e.path, f"{prefix}{e.name}/", depth - 1)

    scan(path, "", 1)
    return (st.st_mtime_ns, tuple(sorted(entries)))


def read_parquet_table(spark: SparkSession, path: str, merge_schema: bool = False) -> DataFrame:
    """Parquet scan (file or hive-partitioned dir) with nanos fallback.

    The nanosAsLong conf is scoped to this call: the prior value is
    restored in a finally block, so other code paths doing plain
    ``spark.read`` keep real timestamp decoding. That is safe because
    Spark captures the conf at DataFrame-creation (schema inference)
    time — the returned (lazy) DataFrame still collects correctly
    after the restore (verified empirically on Spark 4).

    The footer is probed (pyarrow, driver-side, metadata-only) BEFORE
    the Spark read: setting the conf proactively avoids ever surfacing
    the executor-side PARQUET_TYPE_ILLEGAL task failure in logs. The
    catch block stays as a fallback for paths pyarrow can't enumerate
    the same way (e.g. glob patterns).
    """
    _NANOS_CONF = "spark.sql.legacy.parquet.nanosAsLong"
    # fast path: read with the memoized schema — skips the per-call
    # footer re-inference (the dominant component of the session
    # floor); file listing and data decoding stay per-call
    key = sig = None
    if not merge_schema:
        try:
            key, sig = os.path.abspath(path), _memo_sig(path)
        except Exception:
            key = None  # can't stat (glob?) — legacy path, no memo
        hit = _SCHEMA_MEMO.get(key) if key is not None else None
        if hit is not None and hit[0] == sig:
            _, schema, needs_conf, nanos = hit
            if not needs_conf:
                return spark.read.schema(schema).parquet(path)
            prior = spark.conf.get(_NANOS_CONF, None)
            try:
                spark.conf.set(_NANOS_CONF, "true")
                df = spark.read.schema(schema).parquet(path)
            finally:
                if prior is None:
                    spark.conf.unset(_NANOS_CONF)
                else:
                    spark.conf.set(_NANOS_CONF, prior)
            for name in nanos:
                df = df.withColumn(
                    name, F.timestamp_micros(F.expr(f"`{name}` div 1000"))
                )
            return df

    prior = spark.conf.get(_NANOS_CONF, None)
    try:
        try:
            if _nanos_columns(path):
                spark.conf.set(_NANOS_CONF, "true")
        except Exception:
            pass  # probe is best-effort; the read fallback below still works
        reader = spark.read.option("mergeSchema", "true") if merge_schema else spark.read
        try:
            df = reader.parquet(path)
        except AnalysisException as e:
            if "TIMESTAMP(NANOS" not in str(e):
                raise
            spark.conf.set(_NANOS_CONF, "true")
            df = reader.parquet(path)
        raw_schema = df.schema  # BEFORE conversions — what a reader needs
        converted: list[str] = []
        needs_conf = spark.conf.get(_NANOS_CONF, "false") == "true"
        if needs_conf:
            long_cols = {f.name for f in df.schema.fields if f.dataType.typeName() == "long"}
            try:
                nanos = _nanos_columns(path)
            except Exception:
                nanos = []  # pyarrow can't probe globs/exotic paths; no footer, no conversion
            for name in nanos:
                if name in long_cols:
                    df = df.withColumn(name, F.timestamp_micros(F.expr(f"`{name}` div 1000")))
                    converted.append(name)
        if key is not None:
            _SCHEMA_MEMO[key] = (sig, raw_schema, needs_conf, converted)
        return df
    finally:
        if prior is None:
            spark.conf.unset(_NANOS_CONF)
        else:
            spark.conf.set(_NANOS_CONF, prior)


def read_table(spark: SparkSession, path: str, fmt: str = "parquet", **options: str) -> DataFrame:
    """Format-dispatching lake read (parquet/csv/json/orc/text).

    Versioned table roots (quack_reduce_spark.lake layout, a _CURRENT
    pointer naming the live ``vNNNNNNNN/`` data dir) resolve to the
    version that is live AT READ TIME; the returned DataFrame stays
    bound to that snapshot's files. Engine keeps registered views
    current across later commits (``_refresh_versioned_views`` re-
    resolves the pointer before every sql()/df()); callers holding a
    raw DataFrame re-call read_table to see a newer snapshot."""
    from quack_reduce_spark import lake

    path = lake.resolve(path)
    if fmt == "parquet":
        return read_parquet_table(spark, path)
    reader = spark.read.options(**options)
    if fmt == "csv" and "header" not in options:
        reader = reader.option("header", "true").option("inferSchema", "true")
    return reader.format(fmt).load(path)
