"""Order-independent table checksums (cross-engine reconciliation).

"Did the migration copy every row?" at 100 TB cannot be answered with a
sort-and-diff; it can with a commutative fingerprint: per column, the
mod-2^32 SUMS of the two 32-bit md5-prefix chunks of every non-null
value's string rendering. Addition commutes, so the checksum is
independent of row order, partitioning, file layout, and engine — DuckDB,
Spark, or a successor cluster reproduce it bit-for-bit from the same
logical rows (this is exactly what the oracle gate attests). A single
dropped, duplicated, or altered value moves the sum with probability
~1-2^-64 across the chunk pair.

Scale shape: ONE scan -> ONE map-side-combined aggregate row (no shuffle
of values, no skew — the combine is O(columns) per partition); the mod
and unpivot are O(columns) driver math in exact Python ints (sums stay in
DECIMAL(38,0), far from overflow: 2^32 x 10^12 rows ~ 4e21 << 1e38).

No reference counterpart (single-process pandas never needs to prove two
copies equal); companion to reconcile_header_detail (value-level) and
val_regression_diff (violation-level).
"""

from __future__ import annotations

import typing

from pyspark.sql import DataFrame, functions as F, types as T

from ..frames import local_frame

OUT_SCHEMA = T.StructType(
    [
        T.StructField("column", T.StringType(), False),
        T.StructField("n_rows", T.LongType(), True),
        T.StructField("n_nulls", T.LongType(), True),
        T.StructField("sum_lo", T.LongType(), True),
        T.StructField("sum_hi", T.LongType(), True),
    ]
)

_MOD = 1 << 32


def table_checksum(df: DataFrame, cols: typing.Sequence[str]) -> DataFrame:
    """(column, n_rows, n_nulls, sum_lo, sum_hi) per requested column.

    ``sum_lo``/``sum_hi`` = mod-2^32 sums of md5-hex chunks [1:8] / [9:16]
    of the value's string rendering; nulls contribute to ``n_nulls`` only
    (md5(NULL) is NULL and drops out of SUM in both engines). Two tables
    with equal rows produce equal output regardless of ordering,
    partitioning, or which engine computed them.
    """
    if not cols:
        raise ValueError("cols must be non-empty")
    aggs = [F.count(F.lit(1)).alias("__n")]
    for i, c in enumerate(cols):
        h = F.md5(F.col(c).cast("string").cast("binary"))
        lo = F.conv(F.substring(h, 1, 8), 16, 10).cast("decimal(38,0)")
        hi = F.conv(F.substring(h, 9, 8), 16, 10).cast("decimal(38,0)")
        aggs.append(F.sum(lo).alias("__cs{}_lo".format(i)))
        aggs.append(F.sum(hi).alias("__cs{}_hi".format(i)))
        aggs.append(F.sum(F.when(F.col(c).isNull(), 1).otherwise(0)).alias("__cs{}_nn".format(i)))
    row = df.agg(*aggs).collect()[0]
    out = []
    for i, c in enumerate(cols):
        lo, hi = row["__cs{}_lo".format(i)], row["__cs{}_hi".format(i)]
        out.append(
            (
                c,
                int(row["__n"]),
                int(row["__cs{}_nn".format(i)] or 0),
                int(lo) % _MOD if lo is not None else 0,
                int(hi) % _MOD if hi is not None else 0,
            )
        )
    return local_frame(df.sparkSession, out, OUT_SCHEMA)


def table_checksum_by(
    df: DataFrame,
    key_col: str,
    cols: typing.Sequence[str],
    buckets: int = 64,
) -> DataFrame:
    """Bucketed fingerprint: (bucket, column, n_rows, n_nulls, sum_lo,
    sum_hi) grouped by the md5 hash-bucket of ``key_col`` — when two
    copies of a table disagree, comparing bucketed checksums bisects the
    divergence to 1/``buckets`` of the keyspace per round-trip instead of
    re-scanning everything (raise ``buckets``, filter to the dirty bucket,
    recurse). Same chunk-sum rule as :func:`table_checksum`, so bucket
    sums roll up to the table sums.

    Fully in-plan (no driver collect): one scan -> one map-side-combined
    groupBy(bucket) agg over ``buckets`` keys (uniform by construction —
    md5 bucketing cannot skew) -> a row-local struct explode to long form.
    The mod-2^32 fold uses pmod on DECIMAL(38,0), exact in both engines.
    """
    if not cols:
        raise ValueError("cols must be non-empty")
    if buckets < 1:
        raise ValueError("buckets must be >= 1")
    from .sampling import hash_bucket_expr

    bucket = hash_bucket_expr(F.col(key_col), buckets)
    aggs = [F.count(F.lit(1)).alias("__n")]
    for i, c in enumerate(cols):
        h = F.md5(F.col(c).cast("string").cast("binary"))
        lo = F.conv(F.substring(h, 1, 8), 16, 10).cast("decimal(38,0)")
        hi = F.conv(F.substring(h, 9, 8), 16, 10).cast("decimal(38,0)")
        aggs.append(F.sum(lo).alias("__cs{}_lo".format(i)))
        aggs.append(F.sum(hi).alias("__cs{}_hi".format(i)))
        aggs.append(F.sum(F.when(F.col(c).isNull(), 1).otherwise(0)).alias("__cs{}_nn".format(i)))
    g = df.groupBy(bucket.alias("bucket")).agg(*aggs)
    mod = F.lit(_MOD).cast("decimal(38,0)")
    structs = []
    for i, c in enumerate(cols):
        structs.append(
            F.struct(
                F.lit(c).alias("column"),
                F.col("__n").cast("long").alias("n_rows"),
                F.col("__cs{}_nn".format(i)).cast("long").alias("n_nulls"),
                F.pmod(F.coalesce(F.col("__cs{}_lo".format(i)), F.lit(0)), mod)
                .cast("long")
                .alias("sum_lo"),
                F.pmod(F.coalesce(F.col("__cs{}_hi".format(i)), F.lit(0)), mod)
                .cast("long")
                .alias("sum_hi"),
            )
        )
    return g.select(F.col("bucket"), F.explode(F.array(*structs)).alias("v")).select(
        "bucket", "v.column", "v.n_rows", "v.n_nulls", "v.sum_lo", "v.sum_hi"
    )
