"""Check compiler: schema pairs -> ONE Spark select -> violations DataFrame.

Architectural divergence from the reference (by design): the reference runs
each check eagerly, one full Series scan per check
(/root/reference/pandas_schema/column.py:27, validation.py:85) and
materializes warnings in a per-row Python loop (validation.py:101-108). We
compile every row-local check of every column into a single ``select`` — one
scan, whole-stage-codegen'd by Catalyst, with common subexpressions (e.g.
the string cast shared by several checks on one column) deduplicated by
codegen CSE — and emit violations via an array-of-structs ``explode``:
one output row per (failing cell x failed check).

Violations schema: (row long, column string, value string, message string,
check_id string, seq int). ``seq`` is the (column-position, check-position)
global ordinal so collected warnings can reproduce the reference's stable
``sorted(errors, key=row)`` ordering (schema.py:88).
"""

from __future__ import annotations

import dataclasses
import functools
import operator
import typing

from pyspark.sql import Column, DataFrame, functions as F, types as T

from ..errors import PanSchArgumentError
from ..frames import local_frame
from ..validation import (
    InTableValidation,
    IsDistinctValidation,
    _CombinedValidation,
    _InverseValidation,
    _SeriesValidation,
    is_numeric_spark_type,
)

VIOLATION_FIELDS = [
    ("row", T.LongType()),
    ("column", T.StringType()),
    ("value", T.StringType()),
    ("message", T.StringType()),
    ("check_id", T.StringType()),
    ("seq", T.IntegerType()),
]

VIOLATION_SCHEMA = T.StructType([T.StructField(n, t, True) for n, t in VIOLATION_FIELDS])
VIOLATION_NAMES = [n for n, _ in VIOLATION_FIELDS]

#: rendering of a null failing value — mirrors pandas CSV semantics where a
#: missing cell is NaN and str(nan) == 'nan' (reference validation.py:103)
NULL_VALUE_REPR = "nan"


@dataclasses.dataclass
class Check:
    """One compiled check bound to a concrete df column: row-local
    (build_row_violations) or global (build_global_violations)."""

    seq: int
    check_id: str
    df_col: str          # data-frame column the check reads
    warn_col: str        # name carried in the warning (schema vs df name differ when ordered=True)
    message: str
    validation: _SeriesValidation
    allow_empty: bool


def empty_violations(spark) -> DataFrame:
    return local_frame(spark, [], VIOLATION_SCHEMA)


def _empty_exemption(col, spark_type: T.DataType):
    """allow_empty semantics (reference validation.py:86-95): numeric /
    boolean columns exempt nulls; other columns exempt nulls AND
    zero-length strings (pandas .str.len() is NaN for null -> also exempt).
    Returns the NOT-exempt predicate to AND with the fail mask."""
    if is_numeric_spark_type(spark_type):
        return col.isNotNull()
    return col.isNotNull() & (F.length(col.cast("string")) > 0)


def value_repr(col, spark_type: T.DataType):
    """String rendering of the failing cell, matching str(value) in the
    reference's warning loop for the common dtypes (ints '270', floats
    '270.0', strings verbatim, nulls 'nan'). Binary payloads (audio bytes)
    render as a length summary instead of megabytes of mojibake."""
    if isinstance(spark_type, T.BinaryType):
        return F.concat(
            F.lit("<binary "), F.coalesce(F.length(col).cast("string"), F.lit("0")), F.lit(" bytes>")
        )
    return F.coalesce(col.cast("string"), F.lit(NULL_VALUE_REPR))


class _ColumnExprs:
    """The per-column expressions of a check projection (the column, its
    rendered ``value_repr`` and its ``allow_empty`` exemption), each built
    on first use and shared by every check on that column: the pyspark
    Column calls behind them cost about 11 py4j round trips each, which
    a second check on a column would otherwise pay again. The plan is
    the same either way."""

    def __init__(self, df: DataFrame):
        self.types = {f.name: f.dataType for f in df.schema.fields}
        self.col = functools.cache(lambda name: df[name])
        self.value = functools.cache(
            lambda name: value_repr(self.col(name), self.types[name]))
        self.not_empty = functools.cache(
            lambda name: _empty_exemption(self.col(name), self.types[name]))


def violation_columns(row, value, *, warn_col, message, check_id, seq) -> typing.List[Column]:
    """The violation columns in VIOLATION_FIELDS order, unnamed: ``row``
    (a bigint) and the rendered ``value`` are expressions, the rest are
    the check's constants as plain literals. A caller names them once,
    with ``toDF(*VIOLATION_NAMES, ...)``, instead of a cast and an alias
    per field: each pyspark Column call costs about 11 py4j round trips
    of call-site bookkeeping, which made those 12 calls most of a
    check's plan-build cost."""
    return [row, F.lit(warn_col), value, F.lit(message), F.lit(check_id), F.lit(seq)]


def build_row_violations(df: DataFrame, checks: typing.List[Check], row_col: str,
                         carry: typing.Sequence[str] = ()) -> DataFrame:
    """Compile all row-local checks (at least one) into one select + explode.

    The produced plan is a narrow map: scan -> project(array of
    conditional structs) -> filter(non-empty) -> explode. No shuffle.
    Each violation also keeps the ``carry`` columns of the row that
    produced it (the runner carries ``bucket``). Every check's struct
    shares one bigint cast of the row key, and the checks of one column
    share its rendered value and empty exemption; the fields keep
    Spark's default names until the one ``toDF`` after the explode.
    """
    exprs = _ColumnExprs(df)
    row = F.col(row_col).cast("bigint")
    structs = [
        F.when(
            _fail_predicate(df, exprs, ck),
            F.struct(*violation_columns(
                row, exprs.value(ck.df_col),
                warn_col=ck.warn_col, message=ck.message, check_id=ck.check_id, seq=ck.seq)),
        )
        for ck in checks
    ]

    # Explode ALL k struct slots (nulls included) and filter afterwards:
    # the tempting F.filter(array, isNotNull) higher-order function is
    # CodegenFallback and forces the WHOLE projection - every check
    # expression - into interpreted mode (measured 4x slower than
    # Generate + null filter, which stays on the codegen path).
    return (
        df.select(F.explode(F.array(*structs)).alias("v"), *carry)
        .where(F.col("v").isNotNull())
        .select("v.*", *carry)
        .toDF(*VIOLATION_NAMES, *carry)
    )


# ---------------------------------------------------------------------------
# global checks: whole-table fail sets -> one emitter
# ---------------------------------------------------------------------------

def fail_base(df: DataFrame, df_col: str, row_col: str,
              carry: typing.Sequence[str] = ()) -> DataFrame:
    """The (__r__ long, __v__, *carry) projection every global fail set
    is cut from: ``__r__`` is the bigint row that emit_violations emits
    as is."""
    return df.select(F.col(row_col).cast("long").alias("__r__"), F.col(df_col).alias("__v__"),
                     *carry)


def global_fail_rows(df: DataFrame, row_col: str, df_col: str, v,
                     carry: typing.Sequence[str] = ()) -> DataFrame:
    """(__r__, __v__, *carry) rows failing ``v`` over the WHOLE table — one frame
    for any global check, standalone or composed. Reference semantics are
    series-wide, so a combinator wrapping a global check composes fail-row
    sets instead of per-batch masks. Set algebra mirrors the reference's
    element-wise boolean series (a check fails where its mask is False):

    - ``~v``      fails where v passes  -> complement (left_anti)
    - ``a | b``   fails where BOTH fail -> intersection (left_semi)
    - ``a & b``   fails where EITHER    -> union, one row per __r__

    ``__v__`` and the ``carry`` columns ride through every step, so the
    source is never joined back in. Leaves: duplicates
    (operators/distinct.py), dimension misses (operators/referential.py),
    and a row-local check as a filter on its compiled predicate."""
    if isinstance(v, _InverseValidation):
        inner = global_fail_rows(df, row_col, df_col, v.negated)
        return fail_base(df, df_col, row_col, carry).join(
            inner.select("__r__"), "__r__", "left_anti")
    if isinstance(v, _CombinedValidation):
        a = global_fail_rows(df, row_col, df_col, v.v_a, carry)
        b = global_fail_rows(df, row_col, df_col, v.v_b, carry)
        if v.operator is operator.or_:
            return a.join(b.select("__r__"), "__r__", "left_semi")
        return a.unionByName(b).dropDuplicates(["__r__"])
    base = fail_base(df, df_col, row_col, carry)
    if isinstance(v, IsDistinctValidation):
        from ..operators.distinct import duplicate_rows

        return duplicate_rows(base)
    if isinstance(v, InTableValidation):
        from ..operators.referential import missing_rows

        return missing_rows(base, v.dim_df, v.dim_col)
    if isinstance(v, _SeriesValidation) and not getattr(v, "is_global", False):
        # WHERE keeps only TRUE: a NULL pass-predicate is NOT a fail,
        # exactly like build_row_violations' F.when(~pred) shape
        pred = v.compile_predicate(F.col("__v__"), df.schema[df_col].dataType)
        return base.where(~pred)
    raise PanSchArgumentError(
        "Unsupported validation in a global check: {!r}".format(type(v).__name__))


def emit_violations(
    fail: DataFrame,
    spark_type: T.DataType,
    *,
    warn_col: str,
    message: str,
    check_id: str,
    seq: int,
    allow_empty: bool,
    carry: typing.Sequence[str] = (),
) -> DataFrame:
    """Violation rows (VIOLATION_SCHEMA, then ``carry``) from a
    (__r__, __v__, *carry) fail set.
    The allow_empty exemption applies here, ONCE, to the whole (possibly
    composed) check — the reference's get_errors shape
    (validation.py:79-110)."""
    v = F.col("__v__")
    if allow_empty:
        fail = fail.where(_empty_exemption(v, spark_type))
    return fail.select(*violation_columns(
        F.col("__r__"), value_repr(v, spark_type),
        warn_col=warn_col, message=message, check_id=check_id, seq=seq), *carry
    ).toDF(*VIOLATION_NAMES, *carry)


def build_global_violations(df: DataFrame, checks: typing.List[Check], row_col: str,
                            carry: typing.Sequence[str] = ()) -> DataFrame:
    """Compile global checks (at least one) into the union of their
    emitted whole-table fail sets — the twin of build_row_violations,
    ``carry`` included."""
    return functools.reduce(DataFrame.unionByName, [
        emit_violations(
            global_fail_rows(df, row_col, ck.df_col, ck.validation, carry),
            df.schema[ck.df_col].dataType,
            warn_col=ck.warn_col, message=ck.message, check_id=ck.check_id, seq=ck.seq,
            allow_empty=ck.allow_empty, carry=carry)
        for ck in checks
    ])


def _fail_predicate(df, exprs: _ColumnExprs, ck: Check):
    """The compiled FAIL predicate for one row check (shared by the
    violations explode and the bitmap projection)."""
    if getattr(ck.validation, "is_multi_column", False):
        pass_pred = ck.validation.compile_row_predicate(df)
    else:
        pass_pred = ck.validation.compile_predicate(
            exprs.col(ck.df_col), exprs.types[ck.df_col])
    fail = ~pass_pred
    if ck.allow_empty:
        fail = fail & exprs.not_empty(ck.df_col)
    return fail


def build_violation_bitmap(
    df: DataFrame,
    checks: typing.List[Check],
    row_col: str,
    keep_clean: bool = False,
) -> DataFrame:
    """Compile all row-local checks into ONE per-row reason-code bitmap.

    Output: (row long, bitmap long, n_fail int) where bit i of ``bitmap``
    is set iff ``checks[i]`` fails on that row (bit order = schema check
    order, the same ordinal ``build_row_violations`` emits as ``seq``).
    ``n_fail`` is the population count. Rows that pass every check are
    dropped unless ``keep_clean=True`` (the unfiltered form feeds the
    failure-combination histogram: groupBy(bitmap).count()).

    Scale shape: a single narrow projection — scan -> project(int64) ->
    optional filter — zero shuffle, fully whole-stage-codegen'd. Each bit
    is a disjoint power-of-two literal so a plain SUM is a bitwise OR;
    no higher-order array functions (CodegenFallback) are used. This is
    the triage fast path for 10^12-row runs: 12 bytes/row out instead of
    one exploded struct per failing cell, and co-failure patterns fall
    out of one map-side-combined histogram.
    """
    if not checks:
        raise ValueError("violation bitmap needs at least one row-local check")
    if len(checks) > 63:
        raise ValueError(
            "violation bitmap supports at most 63 row-local checks (got {}); "
            "split the schema or use build_row_violations".format(len(checks))
        )
    exprs = _ColumnExprs(df)
    bitmap = None
    for i, ck in enumerate(checks):
        bit = F.when(_fail_predicate(df, exprs, ck), F.lit(1 << i).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
        bitmap = bit if bitmap is None else bitmap + bit
    out = df.select(
        F.col(row_col).cast("long").alias("row"),
        bitmap.alias("bitmap"),
        F.bit_count(bitmap).cast("int").alias("n_fail"),
    )
    if not keep_clean:
        out = out.where(F.col("bitmap") != 0)
    return out
