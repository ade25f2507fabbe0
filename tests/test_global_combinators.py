"""Combinators over global checks (~IsDistinct, IsDistinct | row-local):
reference semantics are series-WIDE, so the schema compiler must route the
whole combinator through the whole-table plan — a per-Arrow-batch pandas
UDF would give batch-boundary-dependent answers. Set algebra under test:
fail(~v) = complement, fail(a|b) = intersection, fail(a&b) = union."""

import pandas as pd
import pytest
from pyspark.sql import functions as F

from pandasschema_spark.column import Column
from pandasschema_spark.errors import PanSchArgumentError
from pandasschema_spark.schema import Schema
from pandasschema_spark.validation import (
    ConditionalValidation,
    InRangeValidation,
    InTableValidation,
    IsDistinctValidation,
)


def _df(spark):
    rows = [(0, "a", 5), (1, "a", 50), (2, "b", 5), (3, "c", 50), (4, "a", 5)]
    return spark.createDataFrame(rows, "row_ord long, k string, v long")


def _rows(schema, df):
    res = schema.validate(df, columns=[c.name for c in schema.columns],
                          row_key="row_ord")
    return sorted(r["row"] for r in res.violations.collect())


def test_is_global_propagates():
    d = IsDistinctValidation()
    assert (~d).is_global
    assert (d | InRangeValidation(0, 10)).is_global
    assert (InRangeValidation(0, 10) & d).is_global
    assert not (~InRangeValidation(0, 10)).is_global


def test_inverse_of_distinct_is_complement(spark):
    df = _df(spark)
    # fail(IsDistinct) = non-first duplicates of k = rows 1, 4
    assert _rows(Schema([Column("k", [IsDistinctValidation()])]), df) == [1, 4]
    # fail(~IsDistinct) = everything else (firsts + uniques)
    assert _rows(Schema([Column("k", [~IsDistinctValidation()])]), df) == [0, 2, 3]
    # pandas-reference parity of the same composition
    s = pd.Series(["a", "a", "b", "c", "a"])
    ref_fail = sorted((~(~IsDistinctValidation()).pandas_validate(s))
                      .pipe(lambda m: list(m[m].index)))
    assert ref_fail == [0, 2, 3]


def test_or_is_intersection_and_is_union(spark):
    df = _df(spark)
    dist = IsDistinctValidation()          # fails rows 1, 4 (on k)
    # a row-local leaf on the SAME column: k must be 'a' -> fails 2, 3
    from pandasschema_spark.validation import InListValidation

    in_a = InListValidation(["a"])
    # OR: fail where BOTH fail -> {1,4} & {2,3} = {}
    assert _rows(Schema([Column("k", [dist | in_a])]), df) == []
    # AND: fail where EITHER fails -> union {1,2,3,4}
    assert _rows(Schema([Column("k", [IsDistinctValidation() & InListValidation(["a"])])]),
                 df) == [1, 2, 3, 4]
    # message/metadata shape: one warning per failing row, combined message
    res = Schema([Column("k", [IsDistinctValidation() & InListValidation(["a"])])]).validate(
        df, columns=["k"], row_key="row_ord")
    r0 = res.violations.orderBy("row").first()
    assert "not unique" in r0["message"] and "legal options" in r0["message"]


def test_inverse_of_intable(spark):
    df = _df(spark)
    dim = spark.createDataFrame([("a",), ("b",)], "code string")
    # fail(InTable) = k not in dim = row 3 ('c')
    assert _rows(Schema([Column("k", [InTableValidation(dim, "code")])]), df) == [3]
    # fail(~InTable) = rows present in dim
    assert _rows(Schema([Column("k", [~InTableValidation(dim, "code")])]), df) == [0, 1, 2, 4]


def test_conditional_refuses_global_then(spark):
    with pytest.raises(PanSchArgumentError, match="row-local"):
        ConditionalValidation(
            ["k", "v"], lambda d: F.col("v") > 0,
            IsDistinctValidation(), "k")
    with pytest.raises(PanSchArgumentError, match="row-local"):
        ConditionalValidation(
            ["k", "v"], lambda d: F.col("v") > 0,
            ~IsDistinctValidation(), "k")


def test_intable_inside_and_or_with_row_local_leaf(spark):
    from pandasschema_spark.validation import InListValidation

    df = _df(spark)
    dim = spark.createDataFrame([("a",), ("b",)], "code string")
    s = pd.Series(["a", "a", "b", "c", "a"])
    # fail(InTable) = {3} ('c'), fail(InList(['a'])) = {2, 3}
    for v, want in ((InTableValidation(dim, "code") | InListValidation(["a"]), [3]),
                    (InTableValidation(dim, "code") & InListValidation(["a"]), [2, 3])):
        assert _rows(Schema([Column("k", [v])]), df) == want
        mask = v.pandas_validate(s)
        assert list(mask[~mask].index) == want


def _empties(spark):
    rows = [(0, None), (1, ""), (2, ""), (3, None), (4, "x"), (5, "x"), (6, "y")]
    return (spark.createDataFrame(rows, "row_ord long, k string"),
            pd.Series([k for _, k in rows], dtype=object, name="k"))


def test_allow_empty_applies_once_to_the_composed_check(spark):
    from pandasschema_spark.validation import InListValidation

    df, s = _empties(spark)
    cases = [
        # fail(~IsDistinct) = first occurrences {0, 1, 4, 6}; exempting the
        # empties of the INNER check instead would fail rows 2 and 3 too
        (lambda: ~IsDistinctValidation(), [0, 1, 4, 6], [4, 6]),
        # fail = dupes {2, 3, 5} | not 'x' {0, 1, 2, 3, 6}
        (lambda: IsDistinctValidation() & InListValidation(["x"]), [0, 1, 2, 3, 5, 6], [5, 6]),
    ]
    for make, strict, exempt in cases:
        for allow_empty, want in ((False, strict), (True, exempt)):
            col = Column("k", [make()], allow_empty=allow_empty)
            assert _rows(Schema([col]), df) == want
            assert sorted(w.row for w in make().get_errors(s, column=col)) == want


def test_null_renders_nan_in_combinator_output(spark):
    df, _ = _empties(spark)
    res = Schema([Column("k", [~IsDistinctValidation()])]).validate(
        df, columns=["k"], row_key="row_ord")
    got = {r["row"]: r["value"] for r in res.violations.collect()}
    assert got == {0: "nan", 1: "", 4: "x", 6: "y"}
    nums = spark.createDataFrame([(0, None), (1, 7), (2, None)], "row_ord long, v long")
    res = Schema([Column("v", [IsDistinctValidation() | InRangeValidation(0, 5)])]).validate(
        nums, columns=["v"], row_key="row_ord")
    assert [(r["row"], r["value"]) for r in res.violations.collect()] == [(2, "nan")]


def test_runner_violations_carry_their_row_bucket_through_combinators(spark, tmp_path):
    from pandasschema_spark.runner import ValidationRunner
    from pandasschema_spark.sources.warehouse import Warehouse
    from pandasschema_spark.validation import InListValidation

    rows = [(i, "abcab"[i % 5], "xyzq"[i % 4], "pqr"[i % 3], i % 3) for i in range(12)]
    wh = Warehouse(str(tmp_path))
    (spark.createDataFrame(rows, "row_ord long, k string, m string, n string, bucket int")
     .write.partitionBy("bucket").parquet(wh.path("t")))
    dim = spark.createDataFrame([("p",), ("q",)], "code string")
    schema = Schema([
        Column("k", [~IsDistinctValidation()]),
        Column("m", [IsDistinctValidation() & InListValidation(["x", "y"])]),
        Column("n", [InTableValidation(dim, "code") | InListValidation(["p"])]),
    ])
    runner = ValidationRunner(wh, "carry", input_table="t", batch_buckets=2)
    runner.run(spark, schema, validate_columns=["k", "m", "n"])

    cols = ["row", "column", "value", "message", "check_id", "seq"]
    got = runner.violations(spark).where(F.col("phase") == "global")
    want = schema.validate(wh.read(spark, "t"), columns=["k", "m", "n"],
                           row_key="row_ord").violations
    assert sorted(map(tuple, got.select(*cols).collect())) == \
        sorted(map(tuple, want.select(*cols).collect()))
    assert {r["column"] for r in got.collect()} == {"k", "m", "n"}
    bucket_of = {r[0]: r[-1] for r in rows}
    assert all(r["bucket"] == bucket_of[r["row"]] for r in got.collect())
