"""Deterministic global ordinals by sort key — without the one-task sort.

Spark's idiomatic global rank, ``row_number() OVER (ORDER BY ...)`` with no
PARTITION BY, plans a SinglePartition exchange: every row of the table
funnels through ONE task, the canonical anti-scale shape (fine at 10^5
rows, dead at 10^12). ``global_ordinal`` produces the identical 1-based
ordinal with a range repartition instead:

1. ``repartitionByRange`` on the order key — one shuffle, partition ``p``
   holds keys strictly below partition ``p+1`` (ascending pid = ascending
   key range), each partition 1/P of the data;
2. ``sortWithinPartitions`` + ``monotonically_increasing_id`` — the mid
   encodes ``(pid << 33) + intra-partition counter`` with the counter
   contiguous from 0 in sorted order (same machinery as
   plans/rowindex.py:28-58);
3. one O(P) driver aggregation of per-partition counts -> exact global
   offsets, inlined as a literal CASE chain;
4. ``ordinal = offset[pid] + counter + start`` — a row-local codegen
   projection.

So the whole job is ONE data shuffle (the range exchange) + one O(P)
driver row set, vs the window form's all-rows-to-one-task sort. The
repartitioned/sorted frame is persisted so the counts job and the
output job see one consistent set of range boundaries.

Determinism contract: ``order_cols`` must form a TOTAL order (include a
unique tiebreak column, e.g. the primary key). Under that contract the
ordinal is a pure function of the data — retry-safe (a recomputed
partition re-sorts to the identical row order, unlike sample- or
mid-seeded assignments) and identical at any partition count or
parallelism. With duplicate full keys the ordinals among ties follow
shuffle-fetch order: still a valid ranking, but not reproducible —
the caller owns supplying the tiebreak.

Null keys sort FIRST (Spark ``asc_nulls_first``); SQL oracles must say
``ORDER BY c ASC NULLS FIRST`` (DuckDB defaults nulls LAST).
"""

from __future__ import annotations

import typing

from pyspark.sql import DataFrame, functions as F
from pyspark.storagelevel import StorageLevel

from ..resources import hold

_PART_SHIFT = 8589934592  # 2^33, monotonically_increasing_id's stride


def global_ordinal(
    df: DataFrame,
    order_cols: typing.Sequence[str],
    *,
    name: str = "ordinal",
    partitions: typing.Optional[int] = None,
    start: int = 1,
) -> DataFrame:
    """Append a ``start``-based global ordinal by ``order_cols`` (ascending,
    nulls first) — equal to ``row_number() OVER (ORDER BY ...)`` when the
    key is a total order, at one range-shuffle of cost."""
    if not order_cols:
        raise ValueError("order_cols must name at least one column")
    if partitions is None:
        partitions = int(df.sparkSession.conf.get(
            "spark.sql.shuffle.partitions", "200"))
    sort_keys = [F.col(c).asc_nulls_first() for c in order_cols]
    rb = hold(df.repartitionByRange(partitions, *sort_keys)
              .sortWithinPartitions(*sort_keys)
              .withColumn("__mid__", F.monotonically_increasing_id())
              .persist(StorageLevel.MEMORY_AND_DISK))
    pid = F.shiftright(F.col("__mid__"), 33)
    counts = (rb.groupBy(pid.alias("__pid__"))
                .agg(F.count(F.lit(1)).alias("__cnt__"))
                .collect())
    if not counts:
        return rb.withColumn(name, F.lit(start).cast("long")).drop("__mid__")
    # ascending pid == ascending key range under repartitionByRange, so a
    # pid-ordered running sum IS the global offset table. The shared
    # helpers add the two fail-loud guards rowindex established: a
    # >=2^33-row partition (hot key under range partitioning — the id
    # counter would overflow into the next pid's space) and a pid
    # appearing only after the counting pass.
    from ..plans.rowindex import offset_case_expr, offsets_from_counts

    offsets = offsets_from_counts(counts, overflow_ctx="global_ordinal")
    expr = offset_case_expr(offsets, pid, ctx="global_ordinal")
    intra = F.col("__mid__") % F.lit(_PART_SHIFT)
    return (rb.withColumn(name, (expr + intra + F.lit(start)).cast("long"))
              .drop("__mid__"))
