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
# - the entry carries the path's SIGNATURE: (name, mtime, size, is_dir)
#   of every data entry Spark's file index sees (not ``_hidden``) and of
#   the ``_metadata`` / ``_common_metadata`` summaries, at the first
#   level and inside first-level directories. Hidden files
#   (``_SUCCESS``, ``.crc`` sidecars, ``_zonemap/``) never enter it.
# - an unchanged signature serves the entry. A changed one keeps it only
#   for a PURE APPEND (``_pure_append``): no old visible file changed or
#   went away (a first-level directory's own mtime may move, as adding
#   a file moves it), no directory was added, no ``_metadata`` /
#   ``_common_metadata`` summary changed, and every added ``.parquet``
#   file's Spark row metadata (its footer's
#   ``org.apache.spark.sql.parquet.row.metadata``) parses to the
#   memoized DATA schema (the table schema without its partition
#   columns). So a commit's ``register`` lists files but infers nothing.
#   Anything else re-infers: a new column, a file without Spark
#   metadata, a new partition directory, an in-place rewrite of
#   ``part=1/x.parquet`` (its mtime/size move although no directory
#   mtime does). Deeper nesting is covered by its directories' mtimes.
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
# value: (signature, raw_read_schema, needs_nanos_conf,
#         nanos_column_names, data_schema)
_SCHEMA_MEMO: dict[str, tuple] = {}
_NANOS_CONF = "spark.sql.legacy.parquet.nanosAsLong"
_ROW_METADATA = b"org.apache.spark.sql.parquet.row.metadata"
_SUMMARIES = ("_metadata", "_common_metadata")


def _hidden(name: str) -> bool:
    """Is ``name`` a directory entry Spark's file index never reads as
    data (``shouldFilterOutPathName`` / ``isDataPath``)? ``_``/``.``
    names are, except ``_k=v`` partition directories, and so are
    ``._COPYING_`` files. The one home of that rule: the schema memo's
    signature and the zone-map file listing both apply it."""
    return (
        (name.startswith("_") and "=" not in name)
        or name.startswith(".")
        or name.endswith("._COPYING_")
    )


def _memo_sig(path: str) -> tuple:
    if not os.path.isdir(path):
        st = os.stat(path)
        return (st.st_mtime_ns, st.st_size)
    entries = []

    def scan(d: str, prefix: str, depth: int) -> None:
        with os.scandir(d) as it:
            for e in it:
                if _hidden(e.name) and not e.name.startswith(_SUMMARIES):
                    continue  # summaries are not data, but feed inference
                est, is_dir = e.stat(), e.is_dir()
                entries.append((prefix + e.name, est.st_mtime_ns, est.st_size, is_dir))
                if depth and is_dir:
                    scan(e.path, f"{prefix}{e.name}/", depth - 1)

    scan(path, "", 1)
    return tuple(sorted(entries))


def _as_nullable(dt):
    """``dt`` with every field, element and value nullable — what a file
    source does to the schema it infers."""
    from pyspark.sql import types as T

    if isinstance(dt, T.StructType):
        return T.StructType(
            [T.StructField(f.name, _as_nullable(f.dataType), True, f.metadata) for f in dt.fields]
        )
    if isinstance(dt, T.ArrayType):
        return T.ArrayType(_as_nullable(dt.elementType), True)
    if isinstance(dt, T.MapType):
        return T.MapType(_as_nullable(dt.keyType), _as_nullable(dt.valueType), True)
    return dt


def _data_schema(schema, sig: tuple):
    """``schema`` without the partition columns the signature's
    ``k=v`` directories name."""
    from pyspark.sql import types as T

    parts = {
        seg.split("=", 1)[0]
        for e in sig
        if isinstance(e, tuple) and e[3]
        for seg in e[0].split("/")
        if "=" in seg
    }
    return _as_nullable(T.StructType([f for f in schema.fields if f.name not in parts]))


def _pure_append(path: str, old: tuple, new: tuple, data_schema) -> bool:
    """Does directory signature ``new`` only ADD data files of the
    memoized ``data_schema`` to ``old``? (See the memo comment above.)"""
    import json

    import pyarrow.parquet as pq
    from pyspark.sql import types as T

    if not all(isinstance(e, tuple) for e in (*old, *new)):
        return False  # a file path's signature, or a file/dir swap
    now = {e[0]: e[1:] for e in new}
    for name, mtime, size, is_dir in old:
        got = now.pop(name, None)
        if got is None or got[2] != is_dir:
            return False
        if got != (mtime, size, is_dir) and not (is_dir and "/" not in name):
            return False  # a changed file, or a nested dir's mtime moved
    for name, (_, _, is_dir) in now.items():
        base = name.rsplit("/", 1)[-1]
        if is_dir or base.startswith(_SUMMARIES) or not base.endswith(".parquet"):
            return False
        try:
            raw = (pq.read_metadata(os.path.join(path, name)).metadata or {}).get(_ROW_METADATA)
            if raw is None or _as_nullable(T.StructType.fromJson(json.loads(raw))) != data_schema:
                return False
        except (OSError, ValueError, KeyError, TypeError):
            return False  # unreadable or foreign footer: re-infer
    return True


def _read_with_schema(spark: SparkSession, path: str, schema, needs_conf: bool,
                      nanos: list[str], files: list[str] | None) -> DataFrame:
    """Read ``path`` (or only its data ``files``) with a known raw
    schema, under the nanosAsLong conf when the table needs it, and
    convert the nanos columns to µs timestamps."""
    reader = spark.read.schema(schema)
    if files is not None:
        # basePath keeps hive partition columns resolvable when files
        # are read by explicit path
        reader = reader.option("basePath", path)
    paths = [path] if files is None else files
    if not needs_conf:
        return reader.parquet(*paths)
    prior = spark.conf.get(_NANOS_CONF, None)
    try:
        spark.conf.set(_NANOS_CONF, "true")
        df = reader.parquet(*paths)
    finally:
        if prior is None:
            spark.conf.unset(_NANOS_CONF)
        else:
            spark.conf.set(_NANOS_CONF, prior)
    for name in nanos:
        df = df.withColumn(name, F.timestamp_micros(F.expr(f"`{name}` div 1000")))
    return df


def read_parquet_table(spark: SparkSession, path: str, merge_schema: bool = False,
                       files: list[str] | None = None) -> DataFrame:
    """Parquet scan (file or hive-partitioned dir) with nanos fallback.

    ``files``, when given, narrows the scan to those data files of the
    table at ``path`` (a pruned read): they are read with the table's
    schema and nanos handling, and ``path`` stays the partition base.

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
        if hit is not None and hit[0] != sig and _pure_append(path, hit[0], sig, hit[4]):
            hit = _SCHEMA_MEMO[key] = (sig, *hit[1:])
        if hit is not None and hit[0] == sig:
            _, schema, needs_conf, nanos, _ = hit
            return _read_with_schema(spark, path, schema, needs_conf, nanos, files)

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
            _SCHEMA_MEMO[key] = (
                sig, raw_schema, needs_conf, converted, _data_schema(raw_schema, sig)
            )
        if files is not None:
            return _read_with_schema(spark, path, raw_schema, needs_conf, converted, files)
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
