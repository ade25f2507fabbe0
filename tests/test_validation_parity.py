"""Per-operator parity suite.

Ports every ``validate_and_compare`` case from the reference's test suite
(/root/reference/test/test_validation.py:13-40 harness, :43-690 cases) and
evaluates each check over a 1-column DataFrame twice:

- the compiled leg: ``pass_sql``, the SQL the schema compiler emits (the
  native predicate where the check has one for the input type, else the
  Arrow fallback);
- the fallback leg: ``_pandas_udf(v.pandas_validate)`` over the column,
  the expression ``pass_sql`` builds when ``sql_predicate`` is None — the
  reference pandas formula run on Arrow batches.

Both must reproduce the reference's expected element-wise booleans.
"""

import decimal
import json
import math
import re

import pytest
from pyspark.sql import functions as F, types as T

from pandasschema_spark.plans.compiler import _Leaves
from pandasschema_spark.validation import (
    CanCallValidation,
    CanConvertValidation,
    CustomElementValidation,
    CustomSeriesValidation,
    DateFormatValidation,
    InListValidation,
    InRangeValidation,
    IsDistinctValidation,
    LeadingWhitespaceValidation,
    MatchesPatternValidation,
    TrailingWhitespaceValidation,
    _pandas_udf,
)


def spark_masks(spark, validator, values, spark_type=T.StringType()):
    """(compiled, fallback) pass masks of ``validator`` over ``values``."""
    schema = T.StructType(
        [T.StructField("row_idx", T.LongType()), T.StructField("v", spark_type)]
    )
    df = spark.createDataFrame([(i, v) for i, v in enumerate(values)], schema)
    # built as the compiler builds it: the pass SQL over the frame that
    # selects the check's Column-only leaves (an Arrow fallback)
    leaves = _Leaves(df)
    compiled = validator.pass_sql("`v`", spark_type, leaves)
    fallback = leaves(_pandas_udf(validator.pandas_validate)(F.col("v")))
    rows = (leaves.frame().selectExpr("row_idx", compiled + " AS c", fallback + " AS f")
            .orderBy("row_idx").collect())
    return [bool(r["c"]) for r in rows], [bool(r["f"]) for r in rows]


def check(spark, validator, values, expected, spark_type=T.StringType()):
    """expected: single bool applied to all, or a list per element."""
    exp = expected if isinstance(expected, list) else [expected] * len(values)
    compiled, fallback = spark_masks(spark, validator, values, spark_type)
    assert compiled == exp, "compiled got={} expected={}".format(compiled, exp)
    assert fallback == exp, "fallback got={} expected={}".format(fallback, exp)


# -- CustomSeriesValidation (ref :43-55) ------------------------------------

def test_custom_series(spark):
    v = CustomSeriesValidation(lambda s: ~s.str.contains("fail"), "contained the word fail")
    check(spark, v, ["good", "success"], True)
    check(spark, v, ["fail", "failure"], False)


# -- CustomElementValidation (ref :58-70) -----------------------------------

def test_custom_element(spark):
    v = CustomElementValidation(
        lambda s: s.startswith("_start_"), "Didn't begin with '_start_'")
    check(spark, v, ["_start_sdiyhsd", "_start_234fpwunxc\n"], True)
    check(spark, v, ["fail", "324wfp9ni"], False)


# -- whitespace (ref :73-161) -----------------------------------------------

WS_TRAILING = ["trailing space   ", "trailing tabs  ", "trailing newline\n                "]
WS_LEADING = ["   leading spaces", "   leading tabs", "\n                leading newline"]
WS_MIDDLE = ["middle spaces", "middle tabs", "middle\n                newline"]


def test_leading_whitespace(spark):
    v = LeadingWhitespaceValidation()
    check(spark, v, WS_TRAILING, True)
    check(spark, v, WS_LEADING, False)
    check(spark, v, WS_MIDDLE, True)


def test_trailing_whitespace(spark):
    v = TrailingWhitespaceValidation()
    check(spark, v, WS_TRAILING, False)
    check(spark, v, WS_LEADING, True)
    check(spark, v, WS_MIDDLE, True)


# -- CanCallValidation (ref :164-224) ---------------------------------------

def test_can_call_json(spark):
    v = CanCallValidation(json.loads)
    check(spark, v, ['[1, 2, 3]', '{"a": 1.1, "b": 2.2, "c": 3.3}', '"string"'], True)
    check(spark, v, ['[1, 2, 3', '{a: 1.1, b: 2.2, c: 3.3}', 'string'], False)


def test_can_call_lambda(spark):
    v = CanCallValidation(lambda x: False if x % 2 == 0 else 1 / 0)
    check(spark, v, [2, 4, 6], True, T.LongType())
    check(spark, v, [1, 3, 5], False, T.LongType())


# -- CanConvertValidation (ref :227-257) ------------------------------------

def test_can_convert_int(spark):
    v = CanConvertValidation(int)
    check(spark, v, ["1", "10", "999", "99999"], True)
    check(spark, v, ["1.0", "9.5", "abc", "1e-6"], False)
    # CPython's int() reads unicode digits and whitespace: a string column
    # has no native twin, and the Arrow formula gets these right
    check(spark, v, ["\uff11\uff12", " 7\n", "1_000", "\u0663"], True)


D = decimal.Decimal


@pytest.mark.parametrize("spark_type,values,int_ok", [
    (T.LongType(), [1, -5, (1 << 63) - 1, None], [True, True, True, False]),
    (T.DoubleType(), [1.5, math.nan, math.inf, -math.inf, -0.0, None],
     [True, False, False, False, True, False]),
    (T.BooleanType(), [True, False, None], [True, True, False]),
    (T.DecimalType(10, 2), [D("1.50"), D("-0.01"), None], [True, True, False]),
], ids=["long", "double", "boolean", "decimal"])
def test_can_convert_int_and_str_on_typed_columns(spark, spark_type, values, int_ok):
    """int() of a number or a bool fails only on NULL (NaN in pandas),
    NaN and the infinities; str() never fails. Both compile natively on
    these types, and the native masks equal the Arrow formula's."""
    check(spark, CanConvertValidation(int), values, int_ok, spark_type)
    check(spark, CanConvertValidation(str), values, True, spark_type)


# -- InListValidation (ref :260-317) ----------------------------------------

def test_in_list_case_sensitive(spark):
    v = InListValidation(["a", "b", "c"])
    check(spark, v, ["a", "b", "c"], True)
    check(spark, v, ["aa", "bb", "d", "A", "B", "C"], False)


def test_in_list_case_insensitive(spark):
    v = InListValidation(["a", "b", "c"], case_sensitive=False)
    check(spark, v, ["a", "b", "c", "A", "B", "C"], True)
    check(spark, v, ["aa", "bb", "d"], False)


def test_in_list_numeric(spark):
    v = InListValidation([8000, 16000, 44100, 48000])
    check(spark, v, [8000, 44100], True, T.IntegerType())
    check(spark, v, [11025, None], False, T.IntegerType())


# -- DateFormatValidation (ref :320-343) ------------------------------------

def test_date_format(spark):
    v = DateFormatValidation("%Y%m%d")
    check(spark, v, ["20160404", "00011212"], True)
    # '11112233' is shape-valid but month 22 is semantically invalid
    check(spark, v, ["1/2/3456", "yyyymmdd", "11112233"], False)


# -- MatchesPatternValidation (ref :346-370, 405-433) -----------------------

def test_string_regex(spark):
    v = MatchesPatternValidation(r"^.+\.txt$")
    check(spark, v, ["pass.txt", "a.txt", "lots of words.txt"], True)
    check(spark, v, ["pass.TXT", ".txt", "lots of words.tx"], False)


def test_compiled_regex(spark):
    v = MatchesPatternValidation(re.compile(r"^.+\.txt$", re.IGNORECASE))
    check(spark, v, ["pass.txt", "a.TXT", "lots of words.tXt"], True)
    check(spark, v, ["pass.txtt", ".txt", "lots of words.tx"], False)


def test_pattern_null_becomes_nan_string(spark):
    # astype(str) maps null to the literal 'nan' (ref validation.py:316)
    v = MatchesPatternValidation("nan")
    check(spark, v, [None, "nanometer"], True)
    check(spark, v, ["xyz"], False)


# -- InRangeValidation (ref :436-485) ---------------------------------------

def test_in_range_ints(spark):
    v = InRangeValidation(7, 9)
    check(spark, v, [7, 8, 7], True, T.LongType())
    check(spark, v, [1, 2, 3], False, T.LongType())
    # max is exclusive
    check(spark, v, [9], False, T.LongType())


def test_in_range_text_coercion(spark):
    v = InRangeValidation(7, 9)
    check(spark, v, ["7", "8"], True)
    check(spark, v, ["seven", "eight"], False)


def test_in_range_null_fails(spark):
    v = InRangeValidation(min=4)
    check(spark, v, [1.0, None, 3.0], False, T.DoubleType())
    v0 = InRangeValidation(min=0)
    check(spark, v0, [1.0, 3.0], True, T.DoubleType())
    check(spark, v0, [None], False, T.DoubleType())


# -- combinators (ref :546-606) ---------------------------------------------

def test_negate(spark):
    v = ~MatchesPatternValidation("fail")
    check(spark, v, ["Pass", "1", "True"], True)
    check(spark, v, ["fail", "thisfails", "failure"], False)


def test_or(spark):
    v = MatchesPatternValidation("yes") | MatchesPatternValidation("pass")
    check(spark, v, ["pass", "yes", "passyes", "345yes345"], True)
    check(spark, v, ["fail", "YES", "YPESS"], False)


def test_and(spark):
    v = MatchesPatternValidation("a") & MatchesPatternValidation("b")
    check(spark, v, ["ab", "ba"], True)
    check(spark, v, ["a", "b", "c"], False)


def test_mixed_mode_combinator(spark):
    # one native child + one Arrow-UDF child combine into a single plan
    v = (MatchesPatternValidation("yes")
         | CustomSeriesValidation(lambda s: s.str.len() > 4, "too short"))
    check(spark, v, ["yes", "longer", "no"], [True, True, False])


# -- messages (ref :609-637 + combinator message quirks) --------------------

def test_messages():
    import operator as op

    assert InRangeValidation(0, 120).message == "was not in the range [0, 120)"
    assert InRangeValidation(min=4).message == "was not in the range [4, inf)"
    assert InRangeValidation(min=4, message="custom!").message == "custom!"
    assert (~MatchesPatternValidation("x")).message == 'does not match the pattern "x" <negated>'
    combined = MatchesPatternValidation("a") | MatchesPatternValidation("b")
    assert combined.message == '(does not match the pattern "a") {} (does not match the pattern "b")'.format(op.or_)
    assert InListValidation(["a", "b"]).message == "is not in the list of legal options (a, b)"
    assert TrailingWhitespaceValidation().message == "contains trailing whitespace"
    assert LeadingWhitespaceValidation().message == "contains leading whitespace"
    assert IsDistinctValidation().message == "contains values that are not unique"
    assert DateFormatValidation("%Y%m%d").message == 'does not match the date format string "%Y%m%d"'
    assert CanConvertValidation(int).message == "cannot be converted to type {}".format(int)


def test_pandas_local_oracle_matches():
    """The pandas_validate formulas equal the reference's own outputs on
    the reference's inputs (driver-side, no Spark)."""
    import pandas as pd

    assert list(IsDistinctValidation().pandas_validate(pd.Series(["1", "1", "3", "4"]))) == [True, False, True, True]
    assert list(InRangeValidation(7, 9).pandas_validate(pd.Series(["seven", "8"]))) == [False, True]
    assert list(DateFormatValidation("%Y%m%d").pandas_validate(pd.Series(["20160404", "11112233"]))) == [True, False]
