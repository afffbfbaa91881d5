"""Spark's own per-file zone-map stats: the reference the driver-side
manifest rows (``operators/zonemaps.py`` ``_delta_row``, used by both
``write_zonemap`` and ``append_zonemap``) are checked against.

One aggregate over the table grouped on ``_metadata.file_path``
(``_stats_select_cols`` + ``_stat_aggs``, the expressions the
group-stats slices aggregate with), Bloom words and HLL registers from
the Spark expressions of ``operators/sketches.py``, each joined on by
file, and a zero-row row for every listed file the scan saw no row of
(an empty part file: Spark's scan yields nothing for it)."""

from __future__ import annotations

import decimal

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from quack_reduce_spark.lake import _fs_for
from quack_reduce_spark.operators import zonemaps as Z


def _bloom_word_frame(df: DataFrame, c: str, m: int, k: int) -> DataFrame:
    """``(file, bloom_<c>)``: per-file dense Bloom bitset of ``c`` as
    ``array<long>`` of ``m/62`` words; NULLs set no bit. Decimals
    (p<=18) fingerprint their unscaled long, as their stats do."""
    from quack_reduce_spark.operators.sketches import BLOOM_WORD_BITS, _bit_of, bloom_positions

    s = Z._unscaled_decimal(Z._py_field_types(df).get(c))
    src = Z._unscaled_col(c, s) if s is not None else F.col(c)
    pos = (
        df.select(Z._file_col().alias("file"), src.cast("string").alias("__v"))
        .where(F.col("__v").isNotNull())
        .select("file", F.explode(F.array(*bloom_positions(F.col("__v"), m=m, k=k))).alias("p"))
    )
    sparse = pos.groupBy(
        "file", F.floor(F.col("p") / BLOOM_WORD_BITS).cast("long").alias("wi")
    ).agg(F.bit_or(_bit_of(F.col("p"))).alias("w"))
    dense = F.transform(
        F.sequence(F.lit(0), F.lit(m // BLOOM_WORD_BITS - 1)),
        lambda i: F.coalesce(F.element_at(F.col("__bm"), i.cast("long")), F.lit(0).cast("long")),
    )
    return sparse.groupBy("file").agg(
        F.map_from_entries(F.collect_list(F.struct("wi", "w"))).alias("__bm")
    ).select("file", dense.alias(f"bloom_{c}"))


def _hll_reg_frame(df: DataFrame, c: str) -> DataFrame:
    """``(file, hll_<c>)``: per-file dense ``array<int>`` of 256 HLL
    registers over ``md5_h32(cast(c as string))``."""
    from quack_reduce_spark.operators.sketches import HLL_M, HLL_W_BITS, hll_rho, md5_h32

    hashed = (
        df.select(Z._file_col().alias("file"), md5_h32(F.col(c).cast("string")).alias("h"))
        .where(F.col(c).isNotNull())
        .select(
            "file",
            F.shiftrightunsigned(F.col("h"), HLL_W_BITS).cast("long").alias("idx"),
            hll_rho(F.col("h").bitwiseAND(F.lit((1 << HLL_W_BITS) - 1))).alias("rho"),
        )
    )
    regs = hashed.groupBy("file", "idx").agg(F.max("rho").alias("M"))
    dense = F.transform(
        F.sequence(F.lit(0), F.lit(HLL_M - 1)),
        lambda i: F.coalesce(F.element_at(F.col("__hm"), i.cast("long")), F.lit(0)).cast("int"),
    )
    return regs.groupBy("file").agg(
        F.map_from_entries(F.collect_list(F.struct("idx", "M"))).alias("__hm")
    ).select("file", dense.alias(f"hll_{c}"))


def reference_rows(
    spark: SparkSession,
    path: str,
    cols: list[str],
    bloom: dict[str, dict] | None = None,
    ndv: list[str] = (),
) -> tuple[list[dict], object]:
    """``(rows, schema)`` of Spark's stats aggregate over the table at
    ``path``: one row per data file, Bloom bitsets at each column's
    ``bloom`` ``m``/``k`` and HLL registers for ``ndv``."""
    df = spark.read.parquet(path)
    types = Z._source_types(df, cols)
    stats = (
        df.select(
            Z._file_col().alias("file"),
            F.col("_metadata.file_size").alias("__fsize"),
            *Z._stats_select_cols(df, cols),
        )
        .groupBy("file")
        .agg(*Z._stat_aggs(cols, types))
    )
    for c, cfg in (bloom or {}).items():
        stats = stats.join(_bloom_word_frame(df, c, int(cfg["m"]), int(cfg["k"])), "file", "left")
    for c in ndv:
        stats = stats.join(_hll_reg_frame(df, c), "file", "left")
    schema = stats.schema
    rows = [r.asDict() for r in stats.collect()]
    seen = {Z._unq(Z._bare(r["file"])) for r in rows}
    for f in Z._data_files(path):
        if Z._unq(Z._bare(f)) not in seen:
            row = {name: None for name in schema.names}
            row.update(file=f, n_rows=0, file_bytes=_fs_for(f).size(f))
            row.update({name: 0 for name in schema.names if name.startswith("nulls_")})
            rows.append(row)
    return rows, schema


def running_sum_overflows(path: str, col: str) -> bool:
    """Does some running total of decimal column ``col`` of the data
    file ``path``, in file order, leave its sum type ``decimal(min(38,
    p + 10), s)``? Only then may a Spark aggregate NULL a wide-decimal
    sum whose file total fits."""
    import pyarrow.parquet as pq

    arr = pq.read_table(path, columns=[col]).column(col)
    digits = min(38, arr.type.precision + 10)
    total = 0
    for v in arr.to_pylist():
        if v is not None:
            total += int(v.scaleb(arr.type.scale, decimal.Context(prec=100)))
            if abs(total) >= 10 ** digits:
                return True
    return False
