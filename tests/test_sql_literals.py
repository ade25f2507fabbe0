"""The check compiler renders every option, pattern and bound as Spark
SQL text. Each native pass mask here must equal the check's own pandas
formula (``pandas_validate``) on values chosen to break a naive
rendering, under both settings of
``spark.sql.parser.escapedStringLiterals``: quotes, backslashes,
newlines, tabs, ``$``, ``${...}`` (which Spark substitutes in SQL text)
and non-BMP characters in options, patterns and messages;
int and long boundary options; Decimal columns; NaN, infinite and
negative-zero range bounds; column names holding a backtick or a space
(a name holding ``${`` is refused)."""

import decimal
import math

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import types as T

from pandasschema_spark import Column, Schema
from pandasschema_spark.errors import PanSchArgumentError
from pandasschema_spark.frames import local_frame
from pandasschema_spark.plans.compiler import _Leaves
from pandasschema_spark.validation import (
    CanConvertValidation,
    FuzzyInListValidation,
    InListValidation,
    InRangeValidation,
    InTableValidation,
    IsDistinctValidation,
    LeadingWhitespaceValidation,
    MatchesPatternValidation,
    NotNullValidation,
    TrailingWhitespaceValidation,
    quote_ident,
    sql_literal,
)

D = decimal.Decimal

TRICKY = ["it's", "a\\b", "O'Neil\\", "line\nbreak", "tab\there", "cost $5",
          "${env:HOME}", "${spark.app.name}", "${nope}", "$x{y}",
          "emoji \U0001F642", "\U0001F600", "\\n", "''", "plain", " lead", "trail ", None]


@pytest.fixture(params=["false", "true"])
def escaped(spark, request):
    """The session with escapedStringLiterals set for the test, restored
    afterwards."""
    key = "spark.sql.parser.escapedStringLiterals"
    before = spark.conf.get(key)
    spark.conf.set(key, request.param)
    yield spark
    spark.conf.set(key, before)


def _native_mask(spark, v, values, spark_type, name="v"):
    schema = T.StructType([T.StructField("i", T.LongType()), T.StructField(name, spark_type)])
    df = spark.createDataFrame(list(enumerate(values)), schema)
    leaves = _Leaves(df)
    pred = v.pass_sql(quote_ident(name), spark_type, leaves)
    assert not leaves.columns, "took the Arrow fallback: {}".format(pred)
    return [bool(r["p"]) for r in leaves.frame().selectExpr("i", pred + " AS p").orderBy("i").collect()]


def _pandas_mask(v, series):
    return [bool(x) for x in v.pandas_validate(series).fillna(False)]


def _strings(values):
    # Arrow hands SQL NULL to the pandas formulas as NaN (the reference's
    # CSV-loaded frames), never None
    return pd.Series([np.nan if x is None else x for x in values], dtype=object)


STRING_CHECKS = [
    InListValidation(TRICKY[:-1]),
    InListValidation(["IT'S", "A\\B", "LINE\nBREAK", "EMOJI \U0001F642"], case_sensitive=False),
    FuzzyInListValidation(["it's", "a\\b", "cost $6", "\U0001F600x", "${nope}x"], max_dist=1),
    MatchesPatternValidation(r"it's"),
    MatchesPatternValidation(r"\\"),
    MatchesPatternValidation(r"\\$"),
    MatchesPatternValidation(r"^line\nbreak$"),
    MatchesPatternValidation("\t"),
    MatchesPatternValidation(r"\$5"),
    MatchesPatternValidation("\U0001F642"),
    MatchesPatternValidation(r"^''$"),
    LeadingWhitespaceValidation(),
    TrailingWhitespaceValidation(),
    NotNullValidation(),
]


@pytest.mark.parametrize("v", STRING_CHECKS, ids=lambda v: type(v).__name__)
def test_string_options_and_patterns(escaped, v):
    assert _native_mask(escaped, v, TRICKY, T.StringType()) == _pandas_mask(v, _strings(TRICKY))


def test_inline_dimension_with_quotes_and_backslashes(escaped):
    dim = local_frame(escaped, [(x,) for x in TRICKY], "codec string")
    v = InTableValidation(dim, "codec")
    assert not v.is_global
    values = TRICKY + ["it", "a\\\\b"]
    expected = [x is not None for x in values[:len(TRICKY)]] + [False, False]
    assert _native_mask(escaped, v, values, T.StringType()) == expected


INT_BOUNDS = [2147483647, -2147483648, 9223372036854775807, -9223372036854775808]


@pytest.mark.parametrize("spark_type,values", [
    (T.IntegerType(), [2147483647, -2147483648, 0, -2147483647, None]),
    (T.LongType(), INT_BOUNDS + [2147483648, -2147483649, 0, None]),
])
def test_int_and_long_boundary_options(escaped, spark_type, values):
    v = InListValidation(INT_BOUNDS)
    got = _native_mask(escaped, v, values, spark_type)
    assert got == _pandas_mask(v, pd.Series(values, dtype="Int64"))


def test_option_beyond_long_takes_the_arrow_fallback():
    assert sql_literal(1 << 63) is None
    assert InListValidation([1 << 63]).sql_predicate("`v`", T.LongType()) is None


DECIMALS = [D("0.00"), D("10.49"), D("10.50"), D("-0.01"), D("2.50"), D("1.00"), None]


@pytest.mark.parametrize("v,values", [
    (InRangeValidation(0, 10.5), DECIMALS),
    # pandas cannot order a NaN against a Decimal bound, so no NULL here;
    # the bounds are exact doubles, because pandas compares the float it
    # coerced to against the exact Decimal, and Spark compares doubles
    (InRangeValidation(D("-0.5"), D("10.50")), DECIMALS[:-1] + [D("-0.50"), D("-0.51")]),
    (InRangeValidation(), DECIMALS),
    (InListValidation([1, 2.5]), DECIMALS),
], ids=["float_bounds", "decimal_bounds", "unbounded", "in_list"])
def test_decimal_columns(escaped, v, values):
    got = _native_mask(escaped, v, values, T.DecimalType(10, 2))
    assert got == _pandas_mask(v, pd.Series(values, dtype=object))


@pytest.mark.parametrize("spark_type", [T.DecimalType(10, 2), T.DoubleType(), T.LongType()])
def test_inexact_decimal_bound_runs_the_pandas_formula(spark, spark_type):
    """A Decimal bound that is not an exact double has no native
    predicate: pandas compares the float it coerced to against the exact
    Decimal (float(-0.01) >= Decimal('-0.01') is False), Spark would
    compare doubles. Row 0 sits on the bound and fails, as in pandas."""
    v = InRangeValidation(min=D("-0.01"))
    assert v.sql_predicate("`v`", spark_type) is None
    assert InRangeValidation(min=D("-0.5")).sql_predicate("`v`", spark_type) is not None
    values = [D("-0.01"), D("0.50"), D("-0.02")]
    if not isinstance(spark_type, T.DecimalType):
        values = [float(x) if isinstance(spark_type, T.DoubleType) else int(x) for x in values]
    df = spark.createDataFrame(list(enumerate(values)),
                               T.StructType([T.StructField("i", T.LongType()),
                                             T.StructField("v", spark_type)]))
    out = Schema([Column("v", [v])]).validate(df, columns=["v"], row_key="i").violations
    want = [i for i, ok in enumerate(_pandas_mask(v, df.toPandas()["v"])) if not ok]
    assert sorted(r["row"] for r in out.collect()) == want
    if isinstance(spark_type, T.DecimalType):
        assert want == [0, 2]


DOUBLES = [math.nan, math.inf, -math.inf, 0.0, -0.0, 1.0, -1.0, None]


@pytest.mark.parametrize("lo,hi", [
    (math.nan, math.inf), (-math.inf, math.nan), (-math.inf, math.inf),
    (math.inf, math.inf), (-0.0, 0.0), (0.0, 1.5), (-math.inf, -0.0), (-0.0, math.inf),
])
def test_range_bounds_nan_inf_negative_zero(escaped, lo, hi):
    v = InRangeValidation(lo, hi)
    pandas_values = pd.Series([math.nan if x is None else x for x in DOUBLES], dtype=float)
    for spark_type in (T.DoubleType(), T.FloatType()):
        assert _native_mask(escaped, v, DOUBLES, spark_type) == _pandas_mask(v, pandas_values), \
            spark_type
    ints = [0, 5, -5, None]
    assert (_native_mask(escaped, v, ints, T.LongType())
            == _pandas_mask(v, pd.Series(ints, dtype="Int64").astype(float)))


def test_can_convert_int_on_doubles(escaped):
    v = CanConvertValidation(int)
    values = [1.5, math.nan, math.inf, -math.inf, -0.0, None]
    got = _native_mask(escaped, v, values, T.DoubleType())
    assert got == _pandas_mask(v, pd.Series([math.nan if x is None else x for x in values]))


@pytest.mark.parametrize("name", ["we`ird", "my col", "a.b"])
def test_column_names_with_backtick_space_or_dot(escaped, name):
    v = InListValidation(["x", "it's"])
    assert _native_mask(escaped, v, ["x", "y", "it's", None], T.StringType(), name) \
        == [True, False, True, False]

    df = escaped.createDataFrame(
        [(0, "x", 1), (1, "y", 9), (2, "y", 2), (3, None, 3)],
        T.StructType([T.StructField("k", T.LongType()), T.StructField(name, T.StringType()),
                      T.StructField("n`2 x", T.LongType())]))
    schema = Schema([Column(name, [InListValidation(["x"]), IsDistinctValidation()],
                            allow_empty=True),
                     Column("n`2 x", [InRangeValidation(0, 5)])])
    rows = schema.validate(df, columns=[name, "n`2 x"], row_key="k").violations.collect()
    got = sorted((r["row"], r["column"], r["value"], r["check_id"].split(":")[1]) for r in rows)
    assert got == sorted([(1, "n`2 x", "9", "InRangeValidation"),
                          (1, name, "y", "InListValidation"),
                          (2, name, "y", "InListValidation"),
                          (2, name, "y", "IsDistinctValidation")])
    bits = schema.validate_bitmap(df, columns=["n`2 x"], row_key="k").collect()
    assert [(r["row"], r["bitmap"]) for r in bits] == [(1, 1)]


def test_message_with_substitution_syntax_renders_verbatim(escaped):
    message = "${env:HOME} and ${spark.app.name} and ${nope}"
    df = escaped.createDataFrame([(0, "x"), (1, "y")], "k long, v string")
    schema = Schema([Column("v", [InListValidation(["x"], message=message)])])
    rows = schema.validate(df, columns=["v"], row_key="k").violations.collect()
    assert [(r["row"], r["message"]) for r in rows] == [(1, message)]


def test_column_name_with_substitution_syntax_is_refused(spark):
    df = spark.createDataFrame([(0, "x")], T.StructType([
        T.StructField("k", T.LongType()), T.StructField("a${nope}b", T.StringType())]))
    schema = Schema([Column("a${nope}b", [InListValidation(["x"])])])
    with pytest.raises(PanSchArgumentError, match="substitutes"):
        schema.validate(df, columns=["a${nope}b"], row_key="k")
