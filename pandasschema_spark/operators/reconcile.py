"""Header-detail aggregate reconciliation.

Engine extension (no reference analog — SURVEY.md §2.5): the
cross-table consistency check warehouses actually run — does each
header row's stored total equal the aggregate of its detail rows
(order total vs sum of line amounts, manifest clip count vs stored
clips, invoice vs items)? PandasSchema can only validate within one
frame; at warehouse scale this is a first-class constraint between a
10^9-row header table and a 10^12-row detail table.

Scale shape: the detail side collapses to O(header keys) with a
map-side-combined hash agg BEFORE any join — detail rows never meet
the header table directly. Both O(keys) sides then join on the key
(AQE picks broadcast when the reconciled key space is small, sort-merge
otherwise). All arithmetic is integer units (cents), so partial-agg
reassociation is exact and the mismatch set is deterministic across
engines — the DuckDB oracle reproduces it bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F


def reconcile_header_detail(
    header: DataFrame,
    header_key: str,
    header_amount: Column,
    detail: DataFrame,
    detail_key: str,
    detail_amount: Column,
    *,
    tol: int = 0,
) -> DataFrame:
    """(key, header_amt, detail_amt, diff) for every header row whose
    stored amount differs from the sum of its detail rows by more than
    ``tol`` (same integer units on both sides — pass cents, not floats:
    integer sums are order-independent, float sums are not). Headers
    with NO detail rows reconcile against 0 (a header total over zero
    lines is itself the violation). A NULL stored amount is ALSO a
    violation (diff NULL): a header without a total cannot reconcile —
    silently passing it would hide exactly the broken rows this check
    exists to find. Detail rows with no header are a referential
    violation, not a reconciliation one — check them with
    InTableValidation.
    """
    derived = (
        detail.groupBy(F.col(detail_key).alias("key"))
        .agg(F.sum(detail_amount).cast("long").alias("detail_amt"))
    )
    h = header.select(
        F.col(header_key).alias("key"),
        header_amount.cast("long").alias("header_amt"),
    )
    joined = h.join(derived, "key", "left").select(
        "key",
        "header_amt",
        F.coalesce(F.col("detail_amt"), F.lit(0)).alias("detail_amt"),
    )
    diff = F.col("header_amt") - F.col("detail_amt")
    return (
        joined.withColumn("diff", diff)
        .where((F.abs(F.col("diff")) > tol)
               | F.col("header_amt").isNull())
    )
