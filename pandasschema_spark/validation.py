"""Validation check library — the engine's operator set.

Semantics-parity targets (reference = /root/reference/pandas_schema):
every class here reproduces the element-wise pass/fail semantics of the
same-named reference class (validation.py:149-419) but compiles to a Spark
boolean expression — native Spark SQL when provably equivalent for the
input Spark type, else a vectorized Arrow ``pandas_udf`` that runs the
pandas formula on whole batches (never per-row Python at the Spark
layer).

Compilation contract
--------------------
``pass_sql(col_sql, spark_type, leaf) -> str`` renders the *pass*
predicate as Spark SQL text over the column expression ``col_sql``,
null-free at each native leaf (nulls coalesced to false, mirroring pandas
masks which are NA-free after coercion); ``~``/``&``/``|`` compose the strings.
There is one compile rule and no per-check override: a check gives its
Catalyst expression as ``sql_predicate(col_sql, spark_type)`` when that
expression is provably identical to its pandas formula for the input
type, and None otherwise; on None, ``pass_sql`` runs the formula itself
through the Arrow fallback. A leaf that exists only as a Column (the
Arrow fallback, a user lambda) goes through ``leaf(column)``, which
selects it under a generated name and returns the SQL that names it.
The schema compiler inverts the text, applies the ``allow_empty``
exemption (reference validation.py:86-95) and emits violation structs,
all as SQL: a pyspark Column call costs about 11 py4j round trips, a SQL
string none.

``pandas_validate(series) -> bool Series`` is the same check expressed as
the reference's pandas formula — used inside the Arrow fallback and as the
local oracle in parity tests.
"""

from __future__ import annotations

import datetime
import decimal
import functools
import math
import operator
import re
import typing

import numpy as np
import pandas as pd
from pyspark.sql import Column as SparkColumn
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .errors import PanSchArgumentError
from .validation_warning import ValidationWarning

# ---------------------------------------------------------------------------
# helpers
# ---------------------------------------------------------------------------

_NUMERIC_SPARK_TYPES = (
    T.ByteType, T.ShortType, T.IntegerType, T.LongType,
    T.FloatType, T.DoubleType, T.DecimalType,
)


def is_numeric_spark_type(dt: T.DataType) -> bool:
    """Mirrors pandas.api.types.is_numeric_dtype for the allow_empty branch
    (reference validation.py:89): numeric + boolean dtypes take the
    null-based emptiness test; everything else the string-length test."""
    return isinstance(dt, _NUMERIC_SPARK_TYPES + (T.BooleanType,))


def _leaf(pred: str) -> str:
    """Null-coalesce a leaf pass-predicate to false.

    pandas leaf masks are NA-free (coercions yield False, reference
    validation.py:214, 388); Spark three-valued logic would propagate null
    through combinators, so normalize at each leaf before ~ & | compose.
    """
    return "coalesce({}, false)".format(pred)


def quote_ident(name: str) -> str:
    """``name`` as a back-quoted SQL identifier: any column name, dots,
    spaces and backticks included, names exactly that column. Spark
    substitutes ``${...}`` anywhere in SQL text before it parses it
    (``spark.sql.variable.substitute``), identifiers included, so a name
    holding ``${`` has no SQL form and is refused."""
    if "${" in name:
        raise PanSchArgumentError(
            "column name {!r} holds '${{', which Spark SQL substitutes".format(name))
    return "`{}`".format(name.replace("`", "``"))


_INT_MIN, _INT_MAX = -(1 << 31), (1 << 31) - 1
_LONG_MIN, _LONG_MAX = -(1 << 63), (1 << 63) - 1


def sql_literal(value) -> typing.Optional[str]:
    """``value`` as a typed Spark SQL literal, the type ``F.lit`` would
    give it, or None when it has none here (a Python int beyond a long, a
    timestamp, bytes). The text parses to the same value under any session conf:
    an int that fits 32 bits is written as is and a long with ``L``; a
    float is a ``D`` double, NaN and the infinities a cast of their name;
    a string holding a quote, a backslash or ``${`` is a cast of its
    UTF-8 bytes, because ``spark.sql.parser.escapedStringLiterals``
    changes what a backslash in a quoted literal means, no escape reads
    the same both ways, and Spark substitutes ``${...}`` even inside a
    quoted literal."""
    if isinstance(value, np.generic):
        value = value.item()
    if value is None:
        return "NULL"
    if isinstance(value, bool):
        return "true" if value else "false"
    if isinstance(value, int):
        if _INT_MIN <= value <= _INT_MAX:
            return str(value)
        return "{}L".format(value) if _LONG_MIN <= value <= _LONG_MAX else None
    if isinstance(value, float):
        if math.isnan(value):
            return "CAST('NaN' AS DOUBLE)"
        if math.isinf(value):
            return "CAST('{}Infinity' AS DOUBLE)".format("-" if value < 0 else "")
        return repr(value).upper() + "D"
    if isinstance(value, str):
        if "'" in value or "\\" in value or "${" in value:
            return "CAST(X'{}' AS STRING)".format(value.encode("utf-8").hex().upper())
        return "'{}'".format(value)
    if isinstance(value, decimal.Decimal) and value.is_finite():
        return "{}BD".format(value)
    if isinstance(value, datetime.date) and not isinstance(value, datetime.datetime):
        return "DATE'{}'".format(value.isoformat())
    return None


def sql_in(col_sql: str, values) -> typing.Optional[str]:
    """``col_sql IN (values)`` as SQL, ``false`` for no values (what an
    empty IN list means under the leaf coalesce), or None when a value
    has no SQL literal."""
    items = [sql_literal(v) for v in values]
    if any(i is None for i in items):
        return None
    return "({} IN ({}))".format(col_sql, ", ".join(items)) if items else "false"


_JAVA_UNSAFE_RE = re.compile(
    r"\(\?P|\(\?#|\(\?\(|\\A|\\Z|\\G"   # named groups / comments / conditionals / divergent anchors
    r"|\\[wWbB]"                         # \w,\b: Python=unicode-alnum, Java even with (?U) includes
                                         # combining marks Python excludes — fuzz-caught divergence
    r"|\[\[:"                            # POSIX classes: Java syntax, Python parses as nested literals
)

#: Java flag making \d \s \p classes unicode-aware like Python's re
JAVA_UNICODE_FLAG = "(?U)"


def _null_as_nan_rlike(col_sql: str, pattern: str) -> str:
    """``col RLIKE pattern`` over ``astype(str)`` of the column: a NULL
    reads as the string 'nan', as it does in pandas."""
    return "(coalesce({}, 'nan') RLIKE {})".format(col_sql, sql_literal(pattern))


def _user_predicate(sql, fn, df, leaf) -> str:
    """A user's boolean predicate as SQL: its source text when it was
    built from SQL (serialize's spec forms), else the Column ``fn(df)``
    selected through ``leaf``. The newline ends any ``--`` comment the
    text ends with."""
    return "({}\n)".format(sql) if sql else leaf(fn(df))


def _java_regex_safe(pattern: str) -> bool:
    """Conservative gate: True only for patterns whose Python-re and
    (?U)-flagged Java-regex semantics coincide (no named groups, comments,
    conditionals, divergent anchors, word-boundary/word-class shorthands,
    or POSIX classes). Anything else takes the pandas fallback path.
    Equivalence is stress-tested in tests/test_regex_equivalence.py."""
    return not _JAVA_UNSAFE_RE.search(pattern)


def _pandas_udf(fn):
    """Wrap a Series->bool-Series pandas function as an Arrow-vectorized UDF
    pass predicate. One UDF invocation per Arrow batch — no per-row Python
    at the Spark layer (input_hint requirement)."""

    def _wrapped(s: pd.Series) -> pd.Series:
        if s.dtype == object:
            # Arrow surfaces SQL NULL as None; the reference's pandas world
            # (CSV-loaded frames) holds np.nan, whose str() is 'nan'
            # (validation.py:316 astype(str) semantics). Normalize so the
            # reference formulas see exactly what they'd see in pandas.
            na = s.isna()
            if na.any():
                s = s.copy()
                s[na] = np.nan
        out = fn(s)
        # normalize to nullable boolean for Arrow; NA -> null
        return out.astype("boolean")

    return F.pandas_udf(_wrapped, T.BooleanType())


# ---------------------------------------------------------------------------
# base classes
# ---------------------------------------------------------------------------

class _BaseValidation:
    """Anything that can produce ValidationWarnings for a column.

    Reference: validation.py:15-28. Frame-level checks (IsDtypeValidation)
    subclass this directly and run driver-side with zero Spark jobs.
    """

    #: True when the check needs global state (a shuffle) rather than a
    #: row-local predicate — routed to pandasschema_spark.operators.*
    is_global: bool = False


class _SeriesValidation(_BaseValidation):
    """A check defined by an element-wise boolean mask.

    Reference: validation.py:31-110. The check compiles to its native
    ``sql_predicate`` where one exists for the input type (it exists only
    where it is provably identical to ``pandas_validate``), else to an
    Arrow pandas_udf running ``pandas_validate`` itself.
    """

    def __init__(self, message: str = None):
        self._custom_message = message

    # -- messages ----------------------------------------------------------
    @property
    def message(self) -> str:
        return self._custom_message or self.default_message

    @property
    def default_message(self) -> str:
        raise NotImplementedError

    # -- semantics ---------------------------------------------------------
    def pandas_validate(self, series: pd.Series) -> pd.Series:
        """Reference pandas formula; element True == pass."""
        raise NotImplementedError

    # alias matching the reference API (validation.py:54) so ported tests read naturally
    def validate(self, series: pd.Series) -> pd.Series:
        return self.pandas_validate(series)

    def sql_predicate(self, col_sql: str, spark_type: T.DataType) -> typing.Optional[str]:
        """Native pass-predicate as SQL over ``col_sql``, or None when no
        provably-equivalent Catalyst expression exists for this input
        type."""
        return None

    def pass_sql(self, col_sql: str, spark_type: T.DataType, leaf) -> str:
        """The null-free pass predicate as SQL (see the module contract):
        the native leaf, coalesced, else the Arrow fallback over
        ``col_sql`` selected through ``leaf``."""
        native = self.sql_predicate(col_sql, spark_type)
        if native is not None:
            return _leaf(native)
        return leaf(self._udf_leaf(lambda: _pandas_udf(self.pandas_validate))(F.expr(col_sql)))

    def _udf_leaf(self, build):
        """This check's pandas UDF, built by ``build()`` on first use and
        kept: the UDF is pure code, and re-registering it costs py4j round
        trips on every compile (runner batches, stream micro-batches)."""
        udf = self.__dict__.get("_udf")
        if udf is None:
            udf = self._udf = build()
        return udf

    def __getstate__(self):
        # the fallback UDF pickles this check (it calls pandas_validate);
        # the cached UDF holds a JVM handle and is rebuilt where needed
        state = dict(self.__dict__)
        state.pop("_udf", None)
        return state

    # -- boolean algebra (reference validation.py:61-77) -------------------
    def __invert__(self):
        return _InverseValidation(self)

    def __or__(self, other: "_SeriesValidation"):
        return _CombinedValidation(self, other, operator.or_)

    def __and__(self, other: "_SeriesValidation"):
        return _CombinedValidation(self, other, operator.and_)

    # -- local (driver-side pandas) warning materialization ----------------
    def get_errors(self, series: pd.Series, column=None) -> typing.List[ValidationWarning]:
        """Eager pandas-side materialization, byte-compatible with reference
        validation.py:79-110. Used for parity tests and tiny frames; the
        Spark path goes through schema.Schema.validate instead."""
        from pandas.api.types import is_numeric_dtype

        simple = ~self.pandas_validate(series)
        allow_empty = bool(getattr(column, "allow_empty", False))
        if allow_empty:
            if isinstance(series.dtype, pd.CategoricalDtype) or is_numeric_dtype(series):
                mask = ~series.isnull() & simple
            else:
                mask = (series.str.len() > 0) & simple
        else:
            mask = simple
        mask = mask.fillna(False) if mask.dtype == object else mask
        errors = []
        for i in series.index[mask.astype(bool)]:
            errors.append(ValidationWarning(
                message=self.message, value=series[i], row=i, column=series.name))
        return errors


# ---------------------------------------------------------------------------
# combinators (reference validation.py:113-146)
# ---------------------------------------------------------------------------

class _InverseValidation(_SeriesValidation):
    """Element-wise NOT; message = wrapped message + ' <negated>'
    (reference validation.py:113-127)."""

    def __init__(self, validation: _SeriesValidation):
        self.negated = validation
        super().__init__()

    @property
    def is_global(self):
        # a wrapped global check (IsDistinct/InTable) stays global: the
        # schema compiler must route the whole combinator through the
        # whole-table plan — evaluating it per Arrow batch would make
        # answers depend on batch boundaries
        return getattr(self.negated, "is_global", False)

    @property
    def default_message(self):
        return self.negated.message + " <negated>"

    def pandas_validate(self, series):
        return ~self.negated.pandas_validate(series)

    def pass_sql(self, col_sql, spark_type, leaf):
        return "(NOT {})".format(self.negated.pass_sql(col_sql, spark_type, leaf))


class _CombinedValidation(_SeriesValidation):
    """Element-wise AND/OR of two checks; the combined pair emits ONE
    warning per failing row. Message interpolates the operator function's
    repr — a reference byte-compat quirk (validation.py:144-146)."""

    def __init__(self, validation_a, validation_b, op):
        self.operator = op
        self.v_a = validation_a
        self.v_b = validation_b
        super().__init__()

    @property
    def is_global(self):
        # global if EITHER side is (see _InverseValidation.is_global)
        return (getattr(self.v_a, "is_global", False)
                or getattr(self.v_b, "is_global", False))

    @property
    def default_message(self):
        return "({}) {} ({})".format(self.v_a.message, self.operator, self.v_b.message)

    def pandas_validate(self, series):
        return self.operator(self.v_a.pandas_validate(series), self.v_b.pandas_validate(series))

    def pass_sql(self, col_sql, spark_type, leaf):
        a = self.v_a.pass_sql(col_sql, spark_type, leaf)
        b = self.v_b.pass_sql(col_sql, spark_type, leaf)
        return "({} {} {})".format(a, "OR" if self.operator is operator.or_ else "AND", b)


# ---------------------------------------------------------------------------
# user-function checks (reference validation.py:149-191, 240-293)
# ---------------------------------------------------------------------------

class CustomSeriesValidation(_SeriesValidation):
    """User fn: pd.Series -> bool Series. The reference's Series contract
    (validation.py:149-169) IS the pandas-UDF contract: the same fn runs
    unchanged on Arrow batches."""

    def __init__(self, validation: typing.Callable[[pd.Series], pd.Series], message: str, **kw):
        self._validation = validation
        super().__init__(message=message, **kw)

    @property
    def default_message(self):
        return self._custom_message

    def pandas_validate(self, series):
        return self._validation(series)


class CustomElementValidation(_SeriesValidation):
    """User fn: scalar -> truthy; applied via series.apply *inside* the
    Arrow batch (reference validation.py:172-191)."""

    def __init__(self, validation: typing.Callable, message: str, **kw):
        self._validation = validation
        super().__init__(message=message, **kw)

    @property
    def default_message(self):
        return self._custom_message

    def pandas_validate(self, series):
        return series.apply(self._validation)


class CanCallValidation(_SeriesValidation):
    """Pass iff func(x) does not raise (reference validation.py:240-268)."""

    def __init__(self, func: typing.Callable, **kw):
        if not callable(func):
            raise PanSchArgumentError(
                'The object "{}" passed to CanCallValidation is not callable!'.format(func))
        self.callable = func
        super().__init__(**kw)

    @property
    def default_message(self):
        return "raised an exception when the callable {} was called on it".format(self.callable)

    def can_call(self, var) -> bool:
        try:
            self.callable(var)
            return True
        except Exception:
            return False

    def pandas_validate(self, series):
        return series.apply(self.can_call)


class CanConvertValidation(CanCallValidation):
    """Pass iff type_(x) succeeds (reference validation.py:271-293).
    e.g. int('1.0') fails, int('10') passes."""

    def __init__(self, _type: type, **kw):
        if not isinstance(_type, type):
            raise PanSchArgumentError("{} is not a valid type".format(_type))
        super().__init__(_type, **kw)

    @property
    def default_message(self):
        return "cannot be converted to type {}".format(self.callable)

    def sql_predicate(self, col, spark_type):
        # SURVEY V4's exact forms. str() never raises, NULL included (it
        # reads 'nan'). int() of a number or a bool raises only on a NULL
        # (NaN in the Arrow batch), NaN or an infinity. int() of a string
        # has no regex twin: CPython reads unicode digits (int('１２') == 12).
        if self.callable is str:
            return "true"
        if self.callable is not int or not is_numeric_spark_type(spark_type):
            return None
        if isinstance(spark_type, (T.FloatType, T.DoubleType)):
            return "((({0} IS NOT NULL AND (NOT isnan({0}))) AND ({0} <> {1})) AND ({0} <> {2}))".format(
                col, sql_literal(math.inf), sql_literal(-math.inf))
        return "({} IS NOT NULL)".format(col)


class DateFormatValidation(_SeriesValidation):
    """Pass iff datetime.strptime(str(x), fmt) succeeds — *semantic* date
    validity, not shape (reference validation.py:393-419; '11112233' fails
    '%Y%m%d' because month 22 is invalid). It always runs as the Arrow
    UDF: no Spark datetime pattern parses exactly what strptime parses,
    not even for '%Y%m%d' ('2024111' is 2024-11-01 to strptime)."""

    def __init__(self, date_format: str, **kw):
        self.date_format = date_format
        super().__init__(**kw)

    @property
    def default_message(self):
        return 'does not match the date format string "{}"'.format(self.date_format)

    def valid_date(self, val) -> bool:
        try:
            datetime.datetime.strptime(val, self.date_format)
            return True
        except Exception:
            return False

    def pandas_validate(self, series):
        return series.astype(str).apply(self.valid_date)


# ---------------------------------------------------------------------------
# expression checks (reference validation.py:194-214, 296-390)
# ---------------------------------------------------------------------------

class InRangeValidation(_SeriesValidation):
    """pd.to_numeric(series, errors='coerce') then (s >= min) & (s < max):
    min inclusive, max exclusive; non-numeric text coerces to NaN -> fails
    (reference validation.py:194-214). Numeric Spark types compile to an
    exactly equivalent native predicate (null -> fail); string input runs
    the pandas formula on Arrow batches, because pd.to_numeric's grammar
    differs from Spark's cast ('0x1f', '1_0', locale corner cases)."""

    def __init__(self, min: float = -math.inf, max: float = math.inf, **kw):
        self.min = min
        self.max = max
        super().__init__(**kw)

    @property
    def default_message(self):
        return "was not in the range [{}, {})".format(self.min, self.max)

    def pandas_validate(self, series):
        s = pd.to_numeric(series, errors="coerce")
        return (s >= self.min) & (s < self.max)

    def sql_predicate(self, col, spark_type):
        lo, hi = sql_literal(self.min), sql_literal(self.max)
        if lo is None or hi is None:
            return None
        # pandas compares the float it coerced to against an exact
        # Decimal bound (-0.01 >= Decimal('-0.01') is False), while Spark
        # compares doubles; only a bound that is an exact double agrees
        if any(isinstance(b, decimal.Decimal) and b != decimal.Decimal(float(b))
               for b in (self.min, self.max)):
            return None
        # The pandas formula fails NaN on BOTH sides (NaN >= m and
        # NaN < M are both False), but Spark orders NaN GREATER than
        # every double. Pin it explicitly: NULL fails (the _leaf
        # coalesce needs the column to appear in the predicate) and NaN
        # fails on float-family inputs; a NaN bound fails every row, and
        # an infinite max still fails +inf on float-family inputs.
        if is_numeric_spark_type(spark_type) and not isinstance(spark_type, T.BooleanType):
            if self.min != self.min or self.max != self.max:
                return "false"
            floats = isinstance(spark_type, (T.FloatType, T.DoubleType))
            c = "CAST({} AS DOUBLE)".format(col) if isinstance(spark_type, T.DecimalType) else col
            ok = []
            if self.min != -math.inf:
                ok.append("({} >= {})".format(c, lo))
            if self.max != math.inf or floats:
                ok.append("({} < {})".format(c, hi))
            ok.append("({} IS NOT NULL)".format(col))
            if floats or isinstance(spark_type, T.DecimalType):
                ok.append("(NOT isnan({}))".format(c))
            return functools.reduce("({} AND {})".format, ok)
        return None


class InListValidation(_SeriesValidation):
    """series.isin(options); case-insensitive variant lowercases both sides
    (reference validation.py:367-390). pandas isin matches by value AND
    type ('1' not in [1]); the native path is therefore gated on the option
    types matching the Spark column type family, avoiding Spark's implicit
    cross-type casts in IN."""

    def __init__(self, options: typing.Iterable, case_sensitive: bool = True, **kw):
        self.case_sensitive = case_sensitive
        self.options = list(options)
        super().__init__(**kw)

    @property
    def default_message(self):
        values = ", ".join(str(v) for v in self.options)
        return "is not in the list of legal options ({})".format(values)

    def pandas_validate(self, series):
        if self.case_sensitive:
            return series.isin(self.options)
        return series.str.lower().isin([s.lower() for s in self.options])

    def sql_predicate(self, col, spark_type):
        opts = self.options
        str_col = isinstance(spark_type, T.StringType)
        num_col = is_numeric_spark_type(spark_type) and not isinstance(spark_type, T.BooleanType)
        if not self.case_sensitive:
            if str_col and all(isinstance(o, str) for o in opts):
                return sql_in("lower({})".format(col), [o.lower() for o in opts])
            return None
        if str_col and all(isinstance(o, str) for o in opts):
            return sql_in(col, opts)
        if num_col and all(isinstance(o, (int, float)) and not isinstance(o, bool) for o in opts):
            return sql_in(col, opts)
        return None


def _edit_distance(a: str, b: str) -> int:
    """Classic Levenshtein DP — the pandas-path twin of Spark's JVM
    levenshtein, for FuzzyInListValidation's reference formula."""
    m, n = len(a), len(b)
    prev = list(range(n + 1))
    for i in range(1, m + 1):
        cur = [i] + [0] * n
        for j in range(1, n + 1):
            cur[j] = min(prev[j] + 1, cur[j - 1] + 1,
                         prev[j - 1] + (a[i - 1] != b[j - 1]))
        prev = cur
    return prev[n]


class FuzzyInListValidation(_SeriesValidation):
    """Typo-tolerant membership: passes when the value sits within
    ``max_dist`` edits of ANY allowed option — the real-world InList
    for human-keyed fields (engine extension, no reference analog;
    SURVEY.md §2.5). Null values fail, like InListValidation.

    Native path (string columns, string options): an OR-chain of
    Spark's BOUNDED ``levenshtein(col, lit(option), max_dist) >= 0`` —
    row-local, whole-stage codegen, zero shuffle, O(len(options)) per
    row. The options list is a small human dictionary by contract; for
    matching against a LARGE dictionary use operators/entity.py
    (blocking + the same bounded verify) instead of a validation.
    """

    def __init__(self, options: typing.Iterable, max_dist: int = 1,
                 case_sensitive: bool = True, **kw):
        self.options = list(options)
        self.max_dist = int(max_dist)
        self.case_sensitive = case_sensitive
        if not self.options:
            raise PanSchArgumentError("FuzzyInListValidation needs at least one option")
        if self.max_dist < 0:
            raise PanSchArgumentError("max_dist must be >= 0")
        super().__init__(**kw)

    @property
    def default_message(self):
        values = ", ".join(str(v) for v in self.options)
        return "is not within {} edits of the list of legal options ({})".format(
            self.max_dist, values)

    def _norm(self, s: str) -> str:
        return s if self.case_sensitive else s.lower()

    def pandas_validate(self, series):
        opts = [self._norm(str(o)) for o in self.options]

        def ok(v):
            if pd.isna(v):
                return False
            s = self._norm(str(v))
            return any(abs(len(s) - len(o)) <= self.max_dist
                       and _edit_distance(s, o) <= self.max_dist for o in opts)

        return series.map(ok)

    def sql_predicate(self, col, spark_type):
        if not (isinstance(spark_type, T.StringType)
                and all(isinstance(o, str) for o in self.options)):
            return None
        c = col if self.case_sensitive else "lower({})".format(col)
        any_hit = functools.reduce("({} OR {})".format, [
            "(levenshtein({}, {}, {}) >= 0)".format(c, sql_literal(self._norm(o)), self.max_dist)
            for o in self.options])
        # NULL never matches (levenshtein(NULL, x) is NULL): pin to False
        return "CASE WHEN ({} IS NULL) THEN false ELSE {} END".format(col, any_hit)


class MatchesPatternValidation(_SeriesValidation):
    """series.astype(str).str.contains(pattern, **options) — substring
    regex *search*, not fullmatch (reference validation.py:296-316).
    astype(str) first: nulls become the literal 'nan' (preserved via
    coalesce in the native path). Native path only for string columns,
    plain string patterns with Java-compatible syntax and no options;
    everything else (compiled patterns with flags, case=/regex= options,
    non-string columns) runs the pandas formula on Arrow batches."""

    def __init__(self, pattern, options={}, **kw):
        self.pattern = pattern
        self.options = options
        super().__init__(**kw)

    @property
    def default_message(self):
        return 'does not match the pattern "{}"'.format(self.pattern)

    def pandas_validate(self, series):
        return series.astype(str).str.contains(self.pattern, **self.options)

    def sql_predicate(self, col, spark_type):
        if (isinstance(spark_type, T.StringType) and isinstance(self.pattern, str)
                and not self.options and _java_regex_safe(self.pattern)):
            # (?U): Java's \d \s are ASCII-only by default; Python's are
            # unicode-aware. UNICODE_CHARACTER_CLASS aligns them.
            return _null_as_nan_rlike(col, JAVA_UNICODE_FLAG + self.pattern)
        return None


class TrailingWhitespaceValidation(_SeriesValidation):
    """~astype(str).str.contains(r'\\s+$') (reference validation.py:319-332)."""

    @property
    def default_message(self):
        return "contains trailing whitespace"

    def pandas_validate(self, series):
        return ~series.astype(str).str.contains(r"\s+$")

    def sql_predicate(self, col, spark_type):
        if isinstance(spark_type, T.StringType):
            return "(NOT {})".format(_null_as_nan_rlike(col, r"(?U)\s+$"))
        return None


class LeadingWhitespaceValidation(_SeriesValidation):
    """~astype(str).str.contains(r'^\\s+') (reference validation.py:335-348)."""

    @property
    def default_message(self):
        return "contains leading whitespace"

    def pandas_validate(self, series):
        return ~series.astype(str).str.contains(r"^\s+")

    def sql_predicate(self, col, spark_type):
        if isinstance(spark_type, T.StringType):
            return "(NOT {})".format(_null_as_nan_rlike(col, r"(?U)^\s+"))
        return None


class NotNullValidation(_SeriesValidation):
    """Engine extension: explicit non-null check (north star: "transcript
    regex/non-null checks"). Needed because MatchesPatternValidation
    inherits the reference's astype(str) quirk where null becomes 'nan' and
    can *pass* a pattern; this check catches nulls directly. Pure native
    predicate — codegen, no UDF."""

    @property
    def default_message(self):
        return "is null"

    def pandas_validate(self, series):
        return series.notna()

    def sql_predicate(self, col, spark_type):
        return "({} IS NOT NULL)".format(col)


class CrossColumnExprValidation(_SeriesValidation):
    """Engine extension: cross-column check expressed as a NATIVE Catalyst
    boolean expression — the codegen fast path for multi-column invariants
    that need no Python at all (e.g. ``length(bytes) == 2*(sr_hz*dur_ms
    div 1000)`` for PCM byte-length consistency, or ``ship <= receipt``
    date ordering). Unlike CustomRowValidation there is no Arrow transfer:
    the predicate fuses into the same whole-stage-codegen'd projection as
    every other row-local check, so adding one costs ~nothing at 10^12
    rows.

    ``expr_fn(df) -> Column`` builds the pass predicate from the live
    DataFrame (so implementations can reference several columns);
    ``pandas_fn`` (optional) is the same invariant as a pandas
    frame -> bool Series formula, used by parity tests as the local
    oracle.
    """

    is_multi_column = True

    def __init__(self, input_columns: typing.List[str],
                 expr_fn: typing.Callable[[typing.Any], SparkColumn],
                 message: str,
                 pandas_fn: typing.Optional[
                     typing.Callable[[pd.DataFrame], pd.Series]] = None,
                 **kw):
        self.input_columns = list(input_columns)
        self._expr_fn = expr_fn
        self._pandas_fn = pandas_fn
        super().__init__(message=message, **kw)

    @property
    def default_message(self):
        return self._custom_message

    def pandas_validate(self, series):
        raise PanSchArgumentError(
            "CrossColumnExprValidation needs multiple columns; use row_sql")

    def pandas_validate_frame(self, frame: pd.DataFrame) -> pd.Series:
        if self._pandas_fn is None:
            raise PanSchArgumentError(
                "no pandas_fn supplied for CrossColumnExprValidation")
        return self._pandas_fn(frame)

    def row_sql(self, df, leaf) -> str:
        return _leaf(_user_predicate(getattr(self, "source_sql", None), self._expr_fn, df, leaf))


class ConditionalValidation(_SeriesValidation):
    """Engine extension: an if-then rule — rows satisfying ``when_fn``
    must pass ``then_validation`` on ``then_column``; all other rows
    (including rows where the condition is NULL) pass vacuously. The
    config-language form every real rulebook needs ("if codec='flac'
    then sr_hz >= 16000") without forking a filtered frame per rule:
    the compiled predicate is ``NOT when OR then`` fused into the same
    row-local codegen projection as every other check — one scan total
    no matter how many conditional rules the schema carries.

    ``when_fn(df) -> Column`` builds the condition from the live frame
    (any columns); ``then_validation`` is any single-column validation
    (it compiles as it does alone: native SQL or the Arrow formula).
    ``when_pandas_fn`` (optional) is the condition as a pandas
    frame -> bool Series formula for parity tests. Serializable via the
    ``conditional`` spec form (serialize.conditional_check) when built
    from SQL text."""

    is_multi_column = True

    def __init__(self, input_columns: typing.List[str],
                 when_fn: typing.Callable[[typing.Any], SparkColumn],
                 then_validation: "_SeriesValidation",
                 then_column: str,
                 message: str = None,
                 when_pandas_fn: typing.Optional[
                     typing.Callable[[pd.DataFrame], pd.Series]] = None,
                 **kw):
        if not isinstance(then_validation, _SeriesValidation):
            raise PanSchArgumentError(
                "then_validation must be a series validation, got {!r}"
                .format(type(then_validation).__name__))
        if getattr(then_validation, "is_multi_column", False):
            raise PanSchArgumentError(
                "then_validation must be a single-column check; nest the "
                "condition into a CrossColumnExprValidation instead")
        if getattr(then_validation, "is_global", False):
            # a global then-branch (IsDistinct/InTable, possibly wrapped)
            # cannot ride the fused row-local projection; silently
            # compiling it per Arrow batch would give batch-dependent
            # answers — refuse loudly
            raise PanSchArgumentError(
                "then_validation must be row-local; {} needs whole-table "
                "state — filter the frame and run it as a separate "
                "schema column instead".format(
                    type(then_validation).__name__))
        if then_column not in input_columns:
            raise PanSchArgumentError(
                "then_column {!r} must appear in input_columns".format(
                    then_column))
        self.input_columns = list(input_columns)
        self._when_fn = when_fn
        self.then_validation = then_validation
        self.then_column = then_column
        self._when_pandas_fn = when_pandas_fn
        super().__init__(message=message, **kw)

    @property
    def default_message(self):
        return "{} (conditional)".format(self.then_validation.message)

    def pandas_validate(self, series):
        raise PanSchArgumentError(
            "ConditionalValidation needs multiple columns; use row_sql")

    def pandas_validate_frame(self, frame: pd.DataFrame) -> pd.Series:
        if self._when_pandas_fn is None:
            raise PanSchArgumentError(
                "no when_pandas_fn supplied for ConditionalValidation")
        cond = self._when_pandas_fn(frame).fillna(False).astype(bool)
        inner = self.then_validation.pandas_validate(
            frame[self.then_column]).astype(bool)
        return ~cond | inner

    def row_sql(self, df, leaf) -> str:
        cond = _leaf(_user_predicate(             # NULL condition -> pass
            getattr(self, "source_when_sql", None), self._when_fn, df, leaf))
        inner = self.then_validation.pass_sql(    # already _leaf-coalesced
            quote_ident(self.then_column), df.schema[self.then_column].dataType, leaf)
        return "((NOT {}) OR {})".format(cond, inner)


class CustomRowValidation(_SeriesValidation):
    """Engine extension: cross-column check (north star "cross-column
    checks"). ``fn`` receives a pd.DataFrame batch holding
    ``input_columns`` (Arrow-transferred struct) and returns a boolean
    Series; anchored on one column for warning attribution. Compiled as a
    single vectorized pandas_udf over a struct — still one scan, no join.
    """

    is_multi_column = True

    def __init__(self, input_columns: typing.List[str],
                 fn: typing.Callable[[pd.DataFrame], pd.Series],
                 message: str, **kw):
        self.input_columns = list(input_columns)
        self._fn = fn
        super().__init__(message=message, **kw)

    @property
    def default_message(self):
        return self._custom_message

    def pandas_validate(self, series):
        raise PanSchArgumentError("CustomRowValidation needs multiple columns; use row_sql")

    def pandas_validate_frame(self, frame: pd.DataFrame) -> pd.Series:
        return self._fn(frame)

    def row_sql(self, df, leaf) -> str:
        fn = self._fn

        def build():
            def _wrapped(batch: pd.DataFrame) -> pd.Series:
                return fn(batch).astype("boolean")

            return F.pandas_udf(_wrapped, T.BooleanType())

        struct = "struct({})".format(", ".join(quote_ident(c) for c in self.input_columns))
        return _leaf(leaf(self._udf_leaf(build)(F.expr(struct))))


# ---------------------------------------------------------------------------
# global (shuffle-requiring) checks
# ---------------------------------------------------------------------------

class IsDistinctValidation(_SeriesValidation):
    """~series.duplicated(keep='first'): first occurrence (in row order)
    passes, later duplicates fail (reference validation.py:351-364).

    Row-order-sensitive => needs a stable row ordinal and global state, so
    the Spark plan is NOT a row-local predicate: the schema compiler routes
    this to operators.distinct.duplicate_rows — ONE map-side-combined
    hash aggregation per value (count + min row ordinal; Spark's partial
    aggregation pre-collapses hot keys per map task, see
    operators/distinct.py) followed by a broadcast join-back of the (rare)
    duplicate keys. Limit: the duplicate KEY set must fit Spark's
    per-relation broadcast limit (8 GB); a larger one fails the job
    with Spark's broadcast error — there is no shuffle fallback.
    """

    is_global = True

    @property
    def default_message(self):
        return "contains values that are not unique"

    def pandas_validate(self, series):
        return ~series.duplicated(keep="first")


_NAN = object()  # the one dedupe key of every NaN


def _distinct(values) -> list:
    """``values`` without repeats, in first-seen order, equal as Spark's
    ``distinct`` sees them: every NaN is one value."""
    seen = {}
    for v in values:
        seen.setdefault(_NAN if v != v else v, v)
    return list(seen.values())


#: the most distinct non-NULL values a local InTableValidation dimension
#: may hold and still be inlined as an IN list
INLINE_MAX_VALUES = 64


class InTableValidation(_SeriesValidation):
    """Engine extension (no reference analog — SURVEY.md §2.4): referential
    integrity against a dimension table. Pass iff the value exists in
    ``dim_df[dim_col]``. Planned as a broadcast LEFT ANTI join emitting
    violations (the north star's codec-dimension check).

    A dimension planned as a local relation (``dim_df.isLocal()``: a
    ``local_frame`` enum such as the codec table) with at most
    ``INLINE_MAX_VALUES`` distinct non-NULL values is inlined instead:
    the driver dedupes its rows at construction, which runs no job, and
    the check compiles to a row-local IN predicate that fuses into the
    single-scan violations projection, removing the whole anti-join
    branch (its pruned re-scan, the dim distinct agg and the
    broadcast-build stage). A dim holding a value with no SQL literal (a
    timestamp) keeps the anti join. Semantics are identical bit-for-bit:
    a NULL value fails either way (never equal to any dim value), NULL
    dim values match nothing, and an empty dim fails every row. Any
    other dimension (a parquet read, a registry or serialized
    ``in_table`` dim) keeps the anti join, with no job at construction
    and no snapshot of the dim taken before the validation runs."""

    is_global = True

    def __init__(self, dim_df, dim_col: str, **kw):
        self.dim_df = dim_df
        self.dim_col = dim_col
        self._inline_values = None
        super().__init__(**kw)
        if dim_df.isLocal():
            # the rows live in the plan: a collect runs no job, and the
            # driver dedupes them as distinct() would; NULL dim values
            # can never equal anything, so IN keeps two-valued semantics
            values = [v for v in _distinct(r[0] for r in dim_df.select(dim_col).collect())
                      if v is not None]
            if len(values) <= INLINE_MAX_VALUES and sql_in("v", values) is not None:
                self._inline_values = values
                self.is_global = False  # instance shadows the class attr

    def sql_predicate(self, col, spark_type):
        if self._inline_values is None:
            return None  # global anti-join plan (the default route)
        # an empty dim is ``false``: nothing can match — every row is a
        # violation, exactly like the LEFT ANTI against an empty build side
        return sql_in(col, self._inline_values)

    @property
    def default_message(self):
        return "is not present in the reference table column {}".format(self.dim_col)

    #: pandas-fallback ceiling: above this many distinct dimension values
    #: the driver-side collect would OOM; the default broadcast-anti-join
    #: plan has no such limit (the dim stays distributed/broadcast).
    PANDAS_FALLBACK_MAX_DISTINCT = 1_000_000

    def pandas_validate(self, series):
        cap = self.PANDAS_FALLBACK_MAX_DISTINCT
        rows = (self.dim_df.select(self.dim_col).distinct()
                .limit(cap + 1).collect())
        if len(rows) > cap:
            raise PanSchArgumentError(
                "InTableValidation pandas fallback refused: dimension column "
                "{!r} has more than {:,} distinct values — collecting it to "
                "the driver would OOM. Validate through Schema.validate, whose "
                "broadcast LEFT ANTI join never collects the dimension."
                .format(self.dim_col, cap))
        return series.isin([r[self.dim_col] for r in rows])


# ---------------------------------------------------------------------------
# frame-level check (reference validation.py:217-237)
# ---------------------------------------------------------------------------

_SPARK_TO_NUMPY = {
    T.ByteType: np.int8, T.ShortType: np.int16, T.IntegerType: np.int32,
    T.LongType: np.int64, T.FloatType: np.float32, T.DoubleType: np.float64,
    T.BooleanType: np.bool_, T.StringType: np.object_,
    T.TimestampType: np.datetime64, T.DateType: np.datetime64,
    T.BinaryType: np.object_,
}


def spark_type_to_numpy(dt: T.DataType):
    for k, v in _SPARK_TO_NUMPY.items():
        if isinstance(dt, k):
            return np.dtype(v)
    return np.dtype(np.object_)


class IsDtypeValidation(_BaseValidation):
    """Frame-level dtype check: <=1 warning, no row/value, evaluated on the
    driver against the Spark schema with zero jobs (reference
    validation.py:217-237 checks np.issubdtype(series.dtype, expected); we
    map the Spark type to its numpy equivalent and run the same
    issubdtype lattice, so int32 passes a required np.number etc.)."""

    def __init__(self, dtype: np.dtype, message: str = None):
        # engine extension: the reference ctor rejects message= (its
        # _BaseValidation has no kwargs), but the serializer's round-trip
        # guarantee needs somewhere to carry one
        self.dtype = dtype
        self._custom_message = message

    @property
    def message(self):
        # default-message fallback like every other check (the column-
        # specific wording still comes from get_errors_for_type)
        return self._custom_message or (
            "has a dtype which is not a subclass of the required type "
            "{}".format(self.dtype))

    def get_errors_for_type(self, name: str, spark_type: T.DataType):
        actual = spark_type_to_numpy(spark_type)
        if not np.issubdtype(actual, self.dtype):
            return [ValidationWarning(
                self._custom_message or
                "The column {} has a dtype of {} which is not a subclass of the required type {}".format(
                    name, actual, self.dtype))]
        return []

    # pandas-side parity path (reference signature)
    def get_errors(self, series: pd.Series, column=None):
        if not np.issubdtype(series.dtype, self.dtype):
            return [ValidationWarning(
                self._custom_message or
                "The column {} has a dtype of {} which is not a subclass of the required type {}".format(
                    column.name if column else "", series.dtype, self.dtype))]
        return []
