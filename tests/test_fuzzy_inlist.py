"""FuzzyInListValidation: typo-tolerant membership (native + pandas paths)."""

import pytest
from pyspark.sql import functions as F

from pandasschema_spark import Column, Schema
from pandasschema_spark.errors import PanSchArgumentError
from pandasschema_spark.validation import (CustomSeriesValidation, FuzzyInListValidation,
                                           _edit_distance)

OPTS = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]


def _mk(spark):
    rows = [
        (1, "1-URGENT"),    # exact -> pass
        (2, "1URGENT"),     # one deletion -> pass at max_dist=1
        (3, "2-HIGX"),      # one substitution -> pass
        (4, "zz-5-LOW"),    # 3 inserts -> fail
        (5, "URGENT"),      # 2 deletions -> fail at 1
        (6, None),          # null -> fail (InList semantics)
    ]
    return spark.createDataFrame(rows, "k long, pr string")


@pytest.mark.parametrize("path", ["native", "pandas"])
def test_fuzzy_membership_both_paths(spark, path):
    # "pandas" runs the same check's formula as an Arrow UDF, the route
    # pass_sql takes where a check has no native predicate
    v = FuzzyInListValidation(OPTS, max_dist=1)
    if path == "pandas":
        v = CustomSeriesValidation(v.pandas_validate, v.message)
    df = _mk(spark)
    schema = Schema([Column("pr", [v])])
    res = schema.validate(df, columns=["pr"], row_key="k")
    bad = sorted(r["row"] for r in res.violations.collect())
    assert bad == [4, 5, 6]


def test_case_insensitive(spark):
    df = spark.createDataFrame([(1, "1-urgent"), (2, "1-URGENX"), (3, "junk")],
                               "k long, pr string")
    v = FuzzyInListValidation(OPTS, max_dist=1, case_sensitive=False)
    res = Schema([Column("pr", [v])]).validate(df, columns=["pr"], row_key="k")
    assert sorted(r["row"] for r in res.violations.collect()) == [3]


def test_max_dist_zero_is_exact_inlist(spark):
    df = spark.createDataFrame([(1, "5-LOW"), (2, "5-LOX")], "k long, pr string")
    v = FuzzyInListValidation(OPTS, max_dist=0)
    res = Schema([Column("pr", [v])]).validate(df, columns=["pr"], row_key="k")
    assert sorted(r["row"] for r in res.violations.collect()) == [2]


def test_message_and_args():
    v = FuzzyInListValidation(["a", "b"], max_dist=2)
    assert v.message == "is not within 2 edits of the list of legal options (a, b)"
    with pytest.raises(PanSchArgumentError):
        FuzzyInListValidation([])
    with pytest.raises(PanSchArgumentError):
        FuzzyInListValidation(["a"], max_dist=-1)


def test_edit_distance_reference():
    assert _edit_distance("kitten", "sitting") == 3
    assert _edit_distance("", "ab") == 2
    assert _edit_distance("same", "same") == 0


def test_serializer_roundtrip(spark):
    from pandasschema_spark.serialize import check_to_spec, spec_to_check

    v = FuzzyInListValidation(OPTS, max_dist=1, case_sensitive=False,
                              message="custom msg")
    spec = check_to_spec(v)
    v2 = spec_to_check(spec, spark)
    assert isinstance(v2, FuzzyInListValidation)
    assert v2.options == OPTS and v2.max_dist == 1
    assert v2.case_sensitive is False and v2.message == "custom msg"
