"""Per-operator parity suite.

Ports every ``validate_and_compare`` case from the reference's test suite
(/root/reference/test/test_validation.py:13-40 harness, :43-690 cases) and
evaluates our *Spark-compiled* predicate over a 1-column DataFrame, in both
compile modes:

- ``auto``   — native Catalyst expression where we claim equivalence
- ``pandas`` — Arrow pandas_udf running the reference pandas formula

Both must reproduce the reference's expected element-wise booleans.
"""

import json
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
)

MODES = ["auto", "pandas"]


def spark_mask(spark, validator, values, spark_type=T.StringType()):
    schema = T.StructType(
        [T.StructField("row_idx", T.LongType()), T.StructField("v", spark_type)]
    )
    df = spark.createDataFrame([(i, v) for i, v in enumerate(values)], schema)
    # built as the compiler builds it: the pass SQL over the frame that
    # selects the check's Column-only leaves (an Arrow fallback)
    leaves = _Leaves(df)
    pred = validator.pass_sql("`v`", spark_type, leaves)
    rows = leaves.frame().selectExpr("row_idx", pred + " AS p").orderBy("row_idx").collect()
    return [bool(r["p"]) for r in rows]


def check(spark, make_validator, values, expected, spark_type=T.StringType()):
    """expected: single bool applied to all, or a list per element."""
    exp = expected if isinstance(expected, list) else [expected] * len(values)
    for mode in MODES:
        got = spark_mask(spark, make_validator(mode=mode), values, spark_type)
        assert got == exp, "mode={} got={} expected={}".format(mode, got, exp)


# -- CustomSeriesValidation (ref :43-55) ------------------------------------

def test_custom_series(spark):
    mk = lambda mode: CustomSeriesValidation(
        lambda s: ~s.str.contains("fail"), "contained the word fail", mode=mode)
    check(spark, mk, ["good", "success"], True)
    check(spark, mk, ["fail", "failure"], False)


# -- CustomElementValidation (ref :58-70) -----------------------------------

def test_custom_element(spark):
    mk = lambda mode: CustomElementValidation(
        lambda s: s.startswith("_start_"), "Didn't begin with '_start_'", mode=mode)
    check(spark, mk, ["_start_sdiyhsd", "_start_234fpwunxc\n"], True)
    check(spark, mk, ["fail", "324wfp9ni"], False)


# -- whitespace (ref :73-161) -----------------------------------------------

WS_TRAILING = ["trailing space   ", "trailing tabs  ", "trailing newline\n                "]
WS_LEADING = ["   leading spaces", "   leading tabs", "\n                leading newline"]
WS_MIDDLE = ["middle spaces", "middle tabs", "middle\n                newline"]


def test_leading_whitespace(spark):
    mk = lambda mode: LeadingWhitespaceValidation(mode=mode)
    check(spark, mk, WS_TRAILING, True)
    check(spark, mk, WS_LEADING, False)
    check(spark, mk, WS_MIDDLE, True)


def test_trailing_whitespace(spark):
    mk = lambda mode: TrailingWhitespaceValidation(mode=mode)
    check(spark, mk, WS_TRAILING, False)
    check(spark, mk, WS_LEADING, True)
    check(spark, mk, WS_MIDDLE, True)


# -- CanCallValidation (ref :164-224) ---------------------------------------

def test_can_call_json(spark):
    mk = lambda mode: CanCallValidation(json.loads, mode=mode)
    check(spark, mk, ['[1, 2, 3]', '{"a": 1.1, "b": 2.2, "c": 3.3}', '"string"'], True)
    check(spark, mk, ['[1, 2, 3', '{a: 1.1, b: 2.2, c: 3.3}', 'string'], False)


def test_can_call_lambda(spark):
    mk = lambda mode: CanCallValidation(
        lambda x: False if x % 2 == 0 else 1 / 0, mode=mode)
    check(spark, mk, [2, 4, 6], True, T.LongType())
    check(spark, mk, [1, 3, 5], False, T.LongType())


# -- CanConvertValidation (ref :227-257) ------------------------------------

def test_can_convert_int(spark):
    mk = lambda mode: CanConvertValidation(int, mode=mode)
    check(spark, mk, ["1", "10", "999", "99999"], True)
    check(spark, mk, ["1.0", "9.5", "abc", "1e-6"], False)
    # native fast path agrees on these fixtures too
    native = CanConvertValidation(int, mode="native")
    assert spark_mask(spark, native, ["1", "10", "999", "99999"], T.StringType()) == [True] * 4
    assert spark_mask(spark, native, ["1.0", "9.5", "abc", "1e-6"], T.StringType()) == [False] * 4


# -- InListValidation (ref :260-317) ----------------------------------------

def test_in_list_case_sensitive(spark):
    mk = lambda mode: InListValidation(["a", "b", "c"], mode=mode)
    check(spark, mk, ["a", "b", "c"], True)
    check(spark, mk, ["aa", "bb", "d", "A", "B", "C"], False)


def test_in_list_case_insensitive(spark):
    mk = lambda mode: InListValidation(["a", "b", "c"], case_sensitive=False, mode=mode)
    check(spark, mk, ["a", "b", "c", "A", "B", "C"], True)
    check(spark, mk, ["aa", "bb", "d"], False)


def test_in_list_numeric(spark):
    mk = lambda mode: InListValidation([8000, 16000, 44100, 48000], mode=mode)
    check(spark, mk, [8000, 44100], True, T.IntegerType())
    check(spark, mk, [11025, None], False, T.IntegerType())


# -- DateFormatValidation (ref :320-343) ------------------------------------

def test_date_format(spark):
    mk = lambda mode: DateFormatValidation("%Y%m%d", mode=mode)
    check(spark, mk, ["20160404", "00011212"], True)
    # '11112233' is shape-valid but month 22 is semantically invalid
    check(spark, mk, ["1/2/3456", "yyyymmdd", "11112233"], False)


# -- MatchesPatternValidation (ref :346-370, 405-433) -----------------------

def test_string_regex(spark):
    mk = lambda mode: MatchesPatternValidation(r"^.+\.txt$", mode=mode)
    check(spark, mk, ["pass.txt", "a.txt", "lots of words.txt"], True)
    check(spark, mk, ["pass.TXT", ".txt", "lots of words.tx"], False)


def test_compiled_regex(spark):
    mk = lambda mode: MatchesPatternValidation(
        re.compile(r"^.+\.txt$", re.IGNORECASE), mode=mode)
    check(spark, mk, ["pass.txt", "a.TXT", "lots of words.tXt"], True)
    check(spark, mk, ["pass.txtt", ".txt", "lots of words.tx"], False)


def test_pattern_null_becomes_nan_string(spark):
    # astype(str) maps null to the literal 'nan' (ref validation.py:316)
    mk = lambda mode: MatchesPatternValidation("nan", mode=mode)
    check(spark, mk, [None, "nanometer"], True)
    check(spark, mk, ["xyz"], False)


# -- InRangeValidation (ref :436-485) ---------------------------------------

def test_in_range_ints(spark):
    mk = lambda mode: InRangeValidation(7, 9, mode=mode)
    check(spark, mk, [7, 8, 7], True, T.LongType())
    check(spark, mk, [1, 2, 3], False, T.LongType())
    # max is exclusive
    check(spark, mk, [9], False, T.LongType())


def test_in_range_text_coercion(spark):
    mk = lambda mode: InRangeValidation(7, 9, mode=mode)
    check(spark, mk, ["7", "8"], True)
    check(spark, mk, ["seven", "eight"], False)


def test_in_range_null_fails(spark):
    mk = lambda mode: InRangeValidation(min=4, mode=mode)
    check(spark, mk, [1.0, None, 3.0], False, T.DoubleType())
    mk0 = lambda mode: InRangeValidation(min=0, mode=mode)
    check(spark, mk0, [1.0, 3.0], True, T.DoubleType())
    check(spark, mk0, [None], False, T.DoubleType())


# -- combinators (ref :546-606) ---------------------------------------------

def test_negate(spark):
    mk = lambda mode: ~MatchesPatternValidation("fail", mode=mode)
    check(spark, mk, ["Pass", "1", "True"], True)
    check(spark, mk, ["fail", "thisfails", "failure"], False)


def test_or(spark):
    mk = lambda mode: (MatchesPatternValidation("yes", mode=mode)
                       | MatchesPatternValidation("pass", mode=mode))
    check(spark, mk, ["pass", "yes", "passyes", "345yes345"], True)
    check(spark, mk, ["fail", "YES", "YPESS"], False)


def test_and(spark):
    mk = lambda mode: (MatchesPatternValidation("a", mode=mode)
                       & MatchesPatternValidation("b", mode=mode))
    check(spark, mk, ["ab", "ba"], True)
    check(spark, mk, ["a", "b", "c"], False)


def test_mixed_mode_combinator(spark):
    # one native child + one Arrow-UDF child combine into a single plan
    v = (MatchesPatternValidation("yes", mode="auto")
         | CustomSeriesValidation(lambda s: s.str.len() > 4, "too short", mode="pandas"))
    assert spark_mask(spark, v, ["yes", "longer", "no"], T.StringType()) == [True, True, False]


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
