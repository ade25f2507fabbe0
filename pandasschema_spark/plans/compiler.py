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

The projection is built as Spark SQL text: each check's pass predicate
(``pass_sql``), its ``allow_empty`` exemption, the rendered value, the
violation struct and the bitmap are strings, and a builder makes one
``selectExpr`` of them. A pyspark Column call costs about 11 py4j round
trips of call-site bookkeeping and JVM class lookups, so building the
same expressions from Column calls cost the driver about 120 round trips
per check; a string costs none. A leaf that exists only as a Column (an
Arrow-fallback UDF, a user lambda) is selected once under a generated
name (``_Leaves``) ahead of the projection, which refers to it by name.

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

from pyspark.sql import Column, DataFrame, types as T

from ..errors import PanSchArgumentError
from ..frames import local_frame
from ..validation import (
    InTableValidation,
    IsDistinctValidation,
    _CombinedValidation,
    _InverseValidation,
    _SeriesValidation,
    is_numeric_spark_type,
    quote_ident,
    sql_literal,
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


def _empty_exemption(col: str, spark_type: T.DataType) -> str:
    """allow_empty semantics (reference validation.py:86-95): numeric /
    boolean columns exempt nulls; other columns exempt nulls AND
    zero-length strings (pandas .str.len() is NaN for null -> also exempt).
    Returns the NOT-exempt predicate (SQL over the column expression
    ``col``) to AND with the fail mask."""
    if is_numeric_spark_type(spark_type):
        return "({} IS NOT NULL)".format(col)
    return "({0} IS NOT NULL AND (length(CAST({0} AS STRING)) > 0))".format(col)


def value_repr(col: str, spark_type: T.DataType) -> str:
    """String rendering of the failing cell (SQL over the column
    expression ``col``), matching str(value) in the reference's warning
    loop for the common dtypes (ints '270', floats '270.0', strings
    verbatim, nulls 'nan'). Binary payloads (audio bytes) render as a
    length summary instead of megabytes of mojibake."""
    if isinstance(spark_type, T.BinaryType):
        return "concat('<binary ', coalesce(CAST(length({}) AS STRING), '0'), ' bytes>')".format(col)
    return "coalesce(CAST({} AS STRING), {})".format(col, sql_literal(NULL_VALUE_REPR))


def violation_columns(row: str, value: str, *, warn_col, message, check_id, seq) -> typing.List[str]:
    """The violation expressions in VIOLATION_FIELDS order, as SQL:
    ``row`` (a bigint) and the rendered ``value`` are expressions, the
    rest are the check's constants as plain literals."""
    return [row, sql_literal(warn_col), value, sql_literal(message), sql_literal(check_id),
            sql_literal(seq)]


def aliased(exprs: typing.Sequence[str], names: typing.Sequence[str]) -> typing.List[str]:
    """``expr AS name`` select items for selectExpr."""
    return ["{} AS {}".format(e, quote_ident(n)) for e, n in zip(exprs, names)]


class _Leaves:
    """The Column-only leaves of one projection over ``df`` (an Arrow
    fallback, a user lambda's Column). Calling it with a Column names
    the column (a name ``df`` does not have) and returns the SQL that
    refers to it; ``frame()`` is ``df`` with every leaf selected ahead of
    the projection, or ``df`` itself when there is none."""

    def __init__(self, df: DataFrame):
        self.df = df
        self.columns: typing.List[Column] = []

    def __call__(self, column: Column) -> str:
        taken = set(self.df.columns)
        name = "__leaf{}__".format(len(self.columns))
        while name in taken:
            name = "_" + name
        self.columns.append(column.alias(name))
        return quote_ident(name)

    def frame(self) -> DataFrame:
        return self.df.select("*", *self.columns) if self.columns else self.df


def _fail_sql(leaves: _Leaves, types, ck: Check) -> str:
    """The FAIL predicate of one row check as SQL (shared by the
    violations explode and the bitmap projection)."""
    v = ck.validation
    if getattr(v, "is_multi_column", False):
        pass_pred = v.row_sql(leaves.df, leaves)
    else:
        pass_pred = v.pass_sql(quote_ident(ck.df_col), types[ck.df_col], leaves)
    fail = "(NOT {})".format(pass_pred)
    if ck.allow_empty:
        fail = "({} AND {})".format(fail, _empty_exemption(quote_ident(ck.df_col), types[ck.df_col]))
    return fail


def _types(df: DataFrame):
    return {f.name: f.dataType for f in df.schema.fields}


def build_row_violations(df: DataFrame, checks: typing.List[Check], row_col: str,
                         carry: typing.Sequence[str] = ()) -> DataFrame:
    """Compile all row-local checks (at least one) into one select + explode.

    The produced plan is a narrow map: scan -> project(array of
    conditional structs) -> filter(non-empty) -> explode. No shuffle.
    Each violation also keeps the ``carry`` columns of the row that
    produced it (the runner carries ``bucket``). The whole projection is
    one SQL expression; only Column-only leaves cost Column calls.
    """
    leaves, types = _Leaves(df), _types(df)
    row = "CAST({} AS BIGINT)".format(quote_ident(row_col))
    structs = [
        "CASE WHEN {} THEN struct({}) END".format(
            _fail_sql(leaves, types, ck),
            ", ".join(violation_columns(
                row, value_repr(quote_ident(ck.df_col), types[ck.df_col]),
                warn_col=ck.warn_col, message=ck.message, check_id=ck.check_id, seq=ck.seq)))
        for ck in checks
    ]
    carried = [quote_ident(c) for c in carry]

    # Explode ALL k struct slots (nulls included) and filter afterwards:
    # the tempting filter(array, isNotNull) higher-order function is
    # CodegenFallback and forces the WHOLE projection - every check
    # expression - into interpreted mode (measured 4x slower than
    # Generate + null filter, which stays on the codegen path).
    return (
        leaves.frame()
        .selectExpr("explode(array({})) AS v".format(", ".join(structs)), *carried)
        .where("v IS NOT NULL")
        .selectExpr("v.*", *carried)
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
    return df.selectExpr("CAST({} AS BIGINT) AS __r__".format(quote_ident(row_col)),
                         "{} AS __v__".format(quote_ident(df_col)),
                         *[quote_ident(c) for c in carry])


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
        # exactly like build_row_violations' CASE WHEN NOT shape
        leaves = _Leaves(base)
        pred = v.pass_sql("__v__", df.schema[df_col].dataType, leaves)
        fail = leaves.frame().where("NOT {}".format(pred))
        return fail.select(*base.columns) if leaves.columns else fail
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
    if allow_empty:
        fail = fail.where(_empty_exemption("__v__", spark_type))
    return fail.selectExpr(*aliased(violation_columns(
        "__r__", value_repr("__v__", spark_type),
        warn_col=warn_col, message=message, check_id=check_id, seq=seq), VIOLATION_NAMES),
        *[quote_ident(c) for c in carry])


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
    leaves, types = _Leaves(df), _types(df)
    bitmap = " + ".join(
        "CASE WHEN {} THEN {}L ELSE 0L END".format(_fail_sql(leaves, types, ck), 1 << i)
        for i, ck in enumerate(checks))
    out = leaves.frame().selectExpr(
        "CAST({} AS BIGINT) AS `row`".format(quote_ident(row_col)),
        "{} AS bitmap".format(bitmap),
        "CAST(bit_count({}) AS INT) AS n_fail".format(bitmap),
    )
    if not keep_clean:
        out = out.where("bitmap <> 0")
    return out
