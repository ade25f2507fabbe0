"""Data-layout audit: per-file value ranges and clustering overlap.

Engine extension (no reference analog — SURVEY.md §2.5). Partition
pruning and min/max file skipping only work if files hold DISJOINT value
ranges of the filter column; a table that was appended out of order
degrades silently — every file's [min,max] overlaps every other's, scans
stop skipping, and nobody notices until the bill. The audit names the
problem: per file, the value range of a column plus HOW MANY other files
that range intersects (0 everywhere = perfectly clustered; ~n_files =
randomly laid out; the delta is the re-cluster/compact decision).

Scale shape: ONE scan -> ONE map-side-combined groupBy(file) agg ->
O(files) rows to the driver -> an O(F log F) bisect sweep (never the
O(F^2) pairwise join) -> a local result frame. At 10^6 files that is a
few MB of driver state. On table formats that keep footer statistics in
a metadata table (Iceberg/Delta), swap the scan for the metadata table
and the audit becomes metadata-priced; the scan path here is the
engine-portable fallback that needs nothing but the files.
"""

from __future__ import annotations

import bisect
import typing

from pyspark.sql import Column as SparkColumn, DataFrame, functions as F, types as T

from ..frames import local_frame


def layout_audit(
    df: DataFrame,
    col: str,
    *,
    file_col: typing.Optional[str] = None,
    basename_only: bool = True,
) -> DataFrame:
    """(source_file, n_rows, min_v, max_v, n_overlaps) per source file.

    ``n_overlaps`` counts OTHER files whose [min_v, max_v] intersects
    this file's. Files whose ``col`` is entirely NULL carry NULL
    min/max and n_overlaps=0 (they cannot block pruning — a min/max
    filter never selects them). NaN values are EXCLUDED from the
    min/max ranges (Spark orders NaN above every double, so one NaN
    would read as max_v=NaN, and Python's sorted/bisect sweep is
    undefined over NaN — negative overlap counts); a file that is all
    NaN/NULL reads as range-less like the all-NULL case. Provenance
    from ``file_col`` if given, else ``input_file_name()``.

    ``basename_only=True`` groups by the path's last segment — two
    DISTINCT paths sharing a basename (part-0.csv under two partition
    dirs) would merge into one bogus audit row, so that case raises
    loudly; pass basename_only=False for partition-layout tables.
    """
    full = F.col(file_col) if file_col else F.input_file_name()
    src = F.element_at(F.split(full, "/"), -1) if basename_only else full
    v = F.col(col)
    if isinstance(df.schema[col].dataType, (T.FloatType, T.DoubleType)):
        v = F.when(~F.isnan(v), v)  # NaN contributes no range info
    per_file = (
        df.groupBy(src.alias("source_file"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.min(v).alias("min_v"),
            F.max(v).alias("max_v"),
            F.countDistinct(full).alias("__np__"),
        )
        .collect()  # O(files) — the audit's working set, not data rows
    )
    clash = [r["source_file"] for r in per_file if r["__np__"] > 1]
    if clash:
        raise ValueError(
            "layout_audit: basename collision across directories for {} — "
            "distinct files would merge into one audit row; pass "
            "basename_only=False".format(sorted(clash)[:5]))
    ranged = [r for r in per_file if r["min_v"] is not None]
    mins = sorted(r["min_v"] for r in ranged)
    maxs = sorted(r["max_v"] for r in ranged)
    out = []
    for r in per_file:
        if r["min_v"] is None:
            n_ov = 0
        else:
            # j overlaps i  <=>  min_j <= max_i  AND  max_j >= min_i
            le_max = bisect.bisect_right(mins, r["max_v"])
            lt_min = bisect.bisect_left(maxs, r["min_v"])
            n_ov = le_max - lt_min - 1  # minus self
        out.append((r["source_file"], r["n_rows"], r["min_v"], r["max_v"], n_ov))
    vtype = df.schema[col].dataType
    schema = T.StructType(
        [
            T.StructField("source_file", T.StringType(), False),
            T.StructField("n_rows", T.LongType(), False),
            T.StructField("min_v", vtype, True),
            T.StructField("max_v", vtype, True),
            T.StructField("n_overlaps", T.LongType(), False),
        ]
    )
    return local_frame(df.sparkSession, out, schema)
