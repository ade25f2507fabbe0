"""Validation-rule mining: bootstrap a Schema spec from the data.

Engine extension (no reference analog — SURVEY.md §2.5). PandasSchema
users hand-write every Column's checks; over a 400-column warehouse
table nobody does, so most columns ship unvalidated. This operator
proposes the spec: for each requested column, the checks the data
already satisfies — a closed value list when cardinality is small, an
exact observed range for numerics, a date-format or integer-shape check
when every non-null value matches, a not-null check when no value is
missing. The output is a REVIEW QUEUE (column, check, param), not an
auto-applied schema: suggested rules describe today's data and must be
human-promoted before they gate tomorrow's.

Scale shape: string-shaped evidence comes from ONE posexplode ->
map-side-combined (column, value) histogram (the contract_audit shuffle:
O(sum distinct), never O(rows x columns)); numeric ranges come from ONE
pruned min/max agg row. Candidate InList values reach the driver only
for columns whose distinct count already passed the ``max_inlist`` cap —
O(cols x max_inlist) rows, never a value dump.
"""

from __future__ import annotations

import typing

from pyspark.sql import DataFrame, functions as F, types as T

from ..frames import local_frame
from .profile import COERCION_PATTERNS as SHAPES

_NUMERIC = (
    T.ByteType, T.ShortType, T.IntegerType, T.LongType,
    T.FloatType, T.DoubleType, T.DecimalType,
)

OUT_SCHEMA = "column string, check string, param string"


def suggest_rules(
    df: DataFrame,
    cols: typing.Sequence[str],
    *,
    max_inlist: int = 20,
) -> DataFrame:
    """(column, check, param) — suggested checks per column:

    - ``notnull`` (param ``''``) when the column has no NULLs;
    - ``inlist`` (param = comma-joined sorted values) for string columns
      with 1..``max_inlist`` distinct non-null values;
    - ``matches_int`` / ``dateformat`` (param ``'%Y-%m-%d'``) for string
      columns where EVERY non-null value matches the shape (the
      coercion-profile regexes, shared literally with the oracle);
    - ``inrange`` (param ``'[min, max]'``, observed closed bounds) for
      numeric columns with at least one non-null value.

    Suggestions are independent — a 3-value integer-shaped column gets
    both ``inlist`` and ``matches_int``; the reviewer picks.
    """
    if not cols:
        raise ValueError("cols must be non-empty")
    missing = [c for c in cols if c not in df.columns]
    if missing:
        raise ValueError("columns absent from frame: {}".format(missing))

    str_cols = [c for c in cols if isinstance(df.schema[c].dataType, T.StringType)]
    num_cols = [c for c in cols if isinstance(df.schema[c].dataType, _NUMERIC)]
    spark = df.sparkSession
    out: typing.List[typing.Tuple[str, str, str]] = []

    # one histogram pass covers null-ness AND shape evidence for all
    # requested columns (values compare as strings; shape predicates
    # weight by count, so they run over DISTINCT values, not rows)
    arr = F.array(*[F.col(c).cast("string") for c in cols])
    pairs = df.select(F.posexplode(arr).alias("__i__", "__v__"))
    per_val = pairs.groupBy("__i__", "__v__").agg(F.count(F.lit(1)).alias("__c__"))
    # per_val feeds the stats collect AND the inlist value fetch — the
    # posexplode + full-table groupBy must not run twice
    per_val = per_val.persist()
    # semantic date check rides the SAME histogram: the shape regex
    # accepts '2024-99-99' but DateFormatValidation is strptime-semantic
    # — a suggested rule must never fail on today's data
    date_ok = F.try_to_timestamp(F.col("__v__"), F.lit("yyyy-MM-dd"))
    stats = per_val.groupBy("__i__").agg(
        F.coalesce(F.sum(F.when(F.col("__v__").isNull(), F.col("__c__"))), F.lit(0))
        .cast("long").alias("n_null"),
        F.sum(F.when(F.col("__v__").isNotNull(), 1).otherwise(0))
        .cast("long").alias("n_distinct"),
        F.coalesce(F.sum(F.when(F.col("__v__").isNotNull(), F.col("__c__"))), F.lit(0))
        .cast("long").alias("n_nonnull"),
        F.coalesce(
            F.sum(F.when(F.col("__v__").rlike(SHAPES["int_like"]), F.col("__c__"))),
            F.lit(0)).cast("long").alias("n_int"),
        F.coalesce(
            F.sum(F.when(F.col("__v__").rlike(SHAPES["date_like"])
                         & date_ok.isNotNull(), F.col("__c__"))),
            F.lit(0)).cast("long").alias("n_date"),
    ).collect()
    by_i = {r["__i__"]: r for r in stats}

    inlist_idx = [
        i for i, c in enumerate(cols)
        if c in str_cols and i in by_i and 1 <= by_i[i]["n_distinct"] <= max_inlist
    ]
    inlist_vals: typing.Dict[int, typing.List[str]] = {}
    if inlist_idx:
        rows = (
            per_val.where(F.col("__i__").isin(inlist_idx) & F.col("__v__").isNotNull())
            .select("__i__", "__v__").collect()
        )
        for r in rows:
            inlist_vals.setdefault(r["__i__"], []).append(r["__v__"])

    ranges = {}
    n_nan = {}
    if num_cols:
        aggs = []
        for c in num_cols:
            col = F.col(c)
            if isinstance(df.schema[c].dataType, (T.FloatType, T.DoubleType)):
                # Spark orders NaN ABOVE every double: a bare max() on a
                # NaN-bearing column suggests inrange '[mn, nan]' — a
                # rule the NaN row itself immediately fails. Range
                # evidence comes from the finite values; NaN presence
                # disqualifies the suggestion below.
                col = F.when(~F.isnan(col), col)
                aggs.append(F.sum(F.isnan(F.col(c)).cast("long"))
                            .alias("__nan_" + c))
            aggs.append(F.min(col).alias("__mn_" + c))
            aggs.append(F.max(col).alias("__mx_" + c))
        row = df.agg(*aggs).collect()[0]
        ranges = {c: (row["__mn_" + c], row["__mx_" + c]) for c in num_cols}
        n_nan = {c: row["__nan_" + c] for c in num_cols
                 if "__nan_" + c in row.asDict()}

    for i, c in enumerate(cols):
        st = by_i.get(i)
        if st is None:  # empty frame: nothing is evidenced
            continue
        if st["n_null"] == 0 and st["n_nonnull"] > 0:
            out.append((c, "notnull", ""))
        if c in str_cols and st["n_nonnull"] > 0:
            if i in inlist_vals:
                out.append((c, "inlist", ", ".join(sorted(inlist_vals[i]))))
            if st["n_int"] == st["n_nonnull"]:
                out.append((c, "matches_int", SHAPES["int_like"]))
            if st["n_date"] == st["n_nonnull"]:
                out.append((c, "dateformat", "%Y-%m-%d"))
        if c in num_cols and st["n_nonnull"] > 0 and not n_nan.get(c):
            mn, mx = ranges[c]
            if mn is not None:
                out.append((c, "inrange", "[{}, {}]".format(mn, mx)))
    per_val.unpersist()
    return local_frame(spark, out, OUT_SCHEMA)
