"""Bounded violations digest: per-check totals + k exemplar cells.

At 10^12 rows the violations frame is itself warehouse-sized (O(rows x
checks) in the worst case); what an operator dashboard or a CI gate
actually consumes is "how many rows failed each check, and show me a few".
This reduces the full frame to exactly that — without ever shuffling the
violations themselves.

The reference has no counterpart (it materializes every warning in a
Python list, /root/reference/pandas_schema/validation.py:101-108); this is
the Spark-scale replacement for eyeballing that list.
"""

from __future__ import annotations

import typing

import pandas as pd

from pyspark.sql import DataFrame, Window, functions as F, types as T

from ..resources import hold

_MAP_SCHEMA = T.StructType(
    [
        T.StructField("kind", T.IntegerType()),  # 0 = exemplar candidate, 1 = partial count
        T.StructField("check_id", T.StringType()),
        T.StructField("column", T.StringType()),
        T.StructField("value", T.StringType()),
        T.StructField("message", T.StringType()),
        T.StructField("row", T.LongType()),
        T.StructField("cnt", T.LongType()),
    ]
)


def violations_digest(violations: DataFrame, k: int = 5) -> DataFrame:
    """Per-check digest: (check_id, column, message, total_fails, rn, row,
    value) — the ``rn``-th lowest-row exemplar of each check, 1..k, with
    the check's exact total fail count on every exemplar row.

    Scale shape: ONE pass over the violations. A per-PARTITION
    pre-reduce (folded across Arrow batches, the _bottomk_reduce
    convention) keeps at most k lowest-row candidates per (partition,
    check) plus a partial count per (partition, check) as a tagged
    union, so the only exchange carries O(partitions x checks x k) rows
    — never the violations.
    Exactness: the global k smallest rows of a check are a subset of the
    union of per-partition k smallest (any row outside a partition's
    top-k has k smaller rows in that partition alone), and partial
    counts sum to the exact
    total. The reduced union is persisted: it feeds both the rank window
    and the totals agg.

    The rank window partitions by check_id over the REDUCED set: at most
    batches x k rows per check land in one task, bounded regardless of how
    many rows fail (a check that fails every row of 10^12 still digests).
    ``row`` must be unique per check (true for Schema.validate output —
    one struct per failing cell), making the exemplar set deterministic.
    """
    if k < 1:
        raise ValueError("k must be >= 1")

    def _reduce(batches: typing.Iterator[pd.DataFrame]) -> typing.Iterator[pd.DataFrame]:
        # fold ACROSS Arrow batches, yield once per partition (the
        # _bottomk_reduce convention): per-batch yields made the
        # exchange carry O(batches x checks x k) rows — at 10^12 rows
        # that is ~1e8 rows per check through the single rank task
        cand = None
        counts = None
        agg_first = dict(column=("column", "first"), message=("message", "first"))
        for pdf in batches:
            if pdf.empty:
                continue
            c = pdf.sort_values("row", kind="mergesort").groupby("check_id", sort=False).head(k)
            cand = c if cand is None else pd.concat([cand, c], ignore_index=True)
            cand = (cand.sort_values("row", kind="mergesort")
                    .groupby("check_id", sort=False).head(k))
            sz = (pdf.groupby("check_id", sort=False)
                  .agg(cnt=("row", "size"), **agg_first).reset_index())
            if counts is None:
                counts = sz
            else:
                counts = (pd.concat([counts, sz], ignore_index=True)
                          .groupby("check_id", sort=False)
                          .agg(cnt=("cnt", "sum"), **agg_first).reset_index())
        if cand is None:
            return
        cand = cand.assign(kind=0, cnt=0)
        counts = counts.assign(kind=1, value=None, row=0)
        cols = [f.name for f in _MAP_SCHEMA.fields]
        yield pd.concat([cand[cols], counts[cols]], ignore_index=True)

    reduced = hold(
        violations.select("row", "column", "value", "message", "check_id")
        .mapInPandas(_reduce, schema=_MAP_SCHEMA)
        .persist()
    )
    totals = (
        reduced.where(F.col("kind") == 1)
        .groupBy("check_id")
        .agg(F.sum("cnt").cast("long").alias("total_fails"))
    )
    w = Window.partitionBy("check_id").orderBy("row")
    exemplars = (
        reduced.where(F.col("kind") == 0)
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= k)
    )
    return exemplars.join(F.broadcast(totals), "check_id").select(
        "check_id",
        "column",
        "message",
        "total_fails",
        F.col("rn").cast("long").alias("rn"),
        "row",
        "value",
    )
