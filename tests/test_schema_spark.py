"""Schema dispatch + end-to-end golden parity.

Ports the reference's schema/column tests
(/root/reference/test/test_schema.py, test_column.py) and both golden
end-to-end examples (example/example.py -> example.txt,
example/boolean.py -> boolean.txt, compared byte-for-byte like
test/test_example.py does on stdout).
"""

import numpy as np
import pytest
from pyspark.sql import types as T

from pandasschema_spark import Column, PanSchArgumentError, PanSchInvalidSchemaError, Schema
from pandasschema_spark.validation import (
    CanConvertValidation,
    CustomSeriesValidation,
    InListValidation,
    InRangeValidation,
    IsDistinctValidation,
    IsDtypeValidation,
    LeadingWhitespaceValidation,
    MatchesPatternValidation,
    TrailingWhitespaceValidation,
)


def str_df(spark, cols, rows):
    schema = T.StructType([T.StructField(c, T.StringType()) for c in cols])
    return spark.createDataFrame(rows, schema)


# -- constructor checks (ref schema.py:14-30) -------------------------------

def test_constructor_checks():
    with pytest.raises(PanSchInvalidSchemaError):
        Schema([])
    with pytest.raises(PanSchInvalidSchemaError):
        Schema(None)
    with pytest.raises(PanSchInvalidSchemaError):
        Schema((Column("a"),))
    with pytest.raises(PanSchInvalidSchemaError):
        Schema([Column("a")], ordered="yes")
    s = Schema([Column("a"), Column("b")])
    assert s.get_column_names() == ["a", "b"]


# -- unordered pairing (ref test_schema.py:11-180) --------------------------

UNORDERED = Schema([Column("a"), Column("b", [LeadingWhitespaceValidation()])], ordered=False)


def test_validate_valid(spark):
    df = str_df(spark, ["a", "b"], [("1", "1"), ("2", "2"), ("3", "3")])
    assert UNORDERED.validate(df).collect_warnings() == []


def test_validate_invalid(spark):
    df = str_df(spark, ["a", "b"], [(" 1", " 1"), ("2", "2"), ("3", "3")])
    ws = UNORDERED.validate(df).collect_warnings()
    assert len(ws) == 1  # only column b has a validation


def test_mixed_columns_by_name(spark):
    # df order [b, a], error in df column b -> bound by NAME
    df = str_df(spark, ["b", "a"], [(" 1", "1"), ("2", "3"), ("3", "3")])
    ws = UNORDERED.validate(df).collect_warnings()
    assert len(ws) == 1
    assert ws[0].row == 0
    assert ws[0].column == "b"


def test_column_subset(spark):
    df = str_df(spark, ["b", "a"], [(" 1", "1"), ("2", "3"), ("3", "3")])
    ws = UNORDERED.validate(df, columns=["b"]).collect_warnings()
    assert len(ws) == 1 and ws[0].column == "b"
    assert UNORDERED.validate(df, columns=["a"]).collect_warnings() == []
    with pytest.raises(PanSchArgumentError):
        UNORDERED.validate(df, columns=["c"])


def test_missing_columns_warn_and_continue(spark):
    # schema columns a,b vs df columns c,d -> one warning per missing column,
    # carrying the schema column name (ref test_schema.py:139-157)
    df = str_df(spark, ["c", "d"], [(" 1", "1")])
    ws = UNORDERED.validate(df).collect_warnings()
    assert {w.column for w in ws} == {"a", "b"}


def test_column_count_mismatch_early_return(spark):
    df = str_df(spark, ["a"], [(" 1",), ("2",)])
    res = UNORDERED.validate(df)
    ws = res.collect_warnings()
    assert len(ws) == 1
    assert ws[0].row == -1
    assert ws[0].message == "Invalid number of columns. The schema specifies 2, but the data frame has 1"
    assert res.is_early_return()


# -- ordered pairing (ref test_schema.py:183-212) ---------------------------

def test_ordered_pairs_by_position(spark):
    schema = Schema([Column("a", [LeadingWhitespaceValidation()]), Column("b")], ordered=True)
    df = str_df(spark, ["b", "a"], [(" 1", "1"), ("2", "3"), ("3", "3")])
    ws = schema.validate(df).collect_warnings()
    assert len(ws) == 1
    assert ws[0].row == 0
    assert ws[0].column == "b"  # the DATA FRAME's header name, not the schema's


# -- column-level counts (ref test_column.py) -------------------------------

def test_single_validation_column(spark):
    schema = Schema([Column("col1", [CanConvertValidation(int)], allow_empty=False)])
    df = str_df(spark, ["col1"], [("a",), ("b",), ("c",)])
    ws = schema.validate(df).collect_warnings()
    assert len(ws) == 3
    assert sorted(w.row for w in ws) == [0, 1, 2]


def test_double_validation_column(spark):
    schema = Schema([
        Column("col1", [TrailingWhitespaceValidation(), LeadingWhitespaceValidation()])
    ])
    df = str_df(spark, ["col1"], [(" a ",), (" b ",), (" c ",)])
    ws = schema.validate(df).collect_warnings()
    assert len(ws) == 6
    for i in range(3):
        assert len([w for w in ws if w.row == i]) == 2


def test_allow_empty_blank_string(spark):
    schema = Schema([Column("col1", [CanConvertValidation(int)], allow_empty=True)])
    df = str_df(spark, ["col1"], [("",)])
    assert schema.validate(df).collect_warnings() == []


def test_allow_empty_nulls_numeric(spark):
    # ref test_validation.py:640-661: [1.0, None, 3.0] with min=4
    sch = T.StructType([T.StructField("c", T.DoubleType())])
    df = spark.createDataFrame([(1.0,), (None,), (3.0,)], sch)
    n_err = lambda allow: len(
        Schema([Column("c", [InRangeValidation(min=4)], allow_empty=allow)])
        .validate(df).collect_warnings())
    assert n_err(True) == 2
    assert n_err(False) == 3
    assert len(
        Schema([Column("c", [InRangeValidation(min=0)], allow_empty=True)])
        .validate(df).collect_warnings()) == 0


# -- IsDtypeValidation in a schema (ref test_validation.py:517-543) ---------

def test_dtype_schema(spark):
    df = spark.createDataFrame(
        [("not_an_int", 123, 12.5)],
        T.StructType([
            T.StructField("wrong_dtype1", T.StringType()),
            T.StructField("wrong_dtype2", T.LongType()),
            T.StructField("wrong_dtype3", T.DoubleType()),
        ]),
    )
    schema = Schema([
        Column("wrong_dtype1", [IsDtypeValidation(np.dtype("int64"))]),
        Column("wrong_dtype2", [IsDtypeValidation(np.dtype("float64"))]),
        Column("wrong_dtype3", [IsDtypeValidation(np.dtype("int64"))]),
    ])
    ws = schema.validate(df).collect_warnings()
    assert sorted(str(w) for w in ws) == sorted([
        "The column wrong_dtype1 has a dtype of object which is not a subclass of the required type int64",
        "The column wrong_dtype2 has a dtype of int64 which is not a subclass of the required type float64",
        "The column wrong_dtype3 has a dtype of float64 which is not a subclass of the required type int64",
    ])
    # widening lattice: int32 IS a subclass of np.number -> no warning
    df2 = spark.createDataFrame([(1,)], T.StructType([T.StructField("x", T.IntegerType())]))
    ok = Schema([Column("x", [IsDtypeValidation(np.number)])]).validate(df2)
    assert ok.collect_warnings() == []


# -- golden end-to-end: example/example.py -> example.txt -------------------

GOLDEN = [
    '{row: 0, column: "Given Name"}: "Gerald " contains trailing whitespace',
    '{row: 1, column: "Age"}: "270" was not in the range [0, 120)',
    '{row: 1, column: "Sex"}: "male" is not in the list of legal options (Male, Female, Other)',
    '{row: 2, column: "Family Name"}: "Majewska " contains trailing whitespace',
    '{row: 2, column: "Customer ID"}: "775ANSID" does not match the pattern "\\d{4}[A-Z]{4}"',
]


def example_schema():
    return Schema([
        Column("Given Name", [LeadingWhitespaceValidation(), TrailingWhitespaceValidation()]),
        Column("Family Name", [LeadingWhitespaceValidation(), TrailingWhitespaceValidation()]),
        Column("Age", [InRangeValidation(0, 120)]),
        Column("Sex", [InListValidation(["Male", "Female", "Other"])]),
        Column("Customer ID", [MatchesPatternValidation(r"\d{4}[A-Z]{4}")]),
    ])


def example_df(spark):
    return str_df(
        spark,
        ["Given Name", "Family Name", "Age", "Sex", "Customer ID"],
        [
            ("Gerald ", "Hampton", "82", "Male", "2582GABK"),
            ("Yuuwa", "Miyake", "270", "male", "7951WVLW"),
            ("Edyta", "Majewska ", "50", "Female", "775ANSID"),
        ],
    )


def test_golden_example(spark):
    ws = example_schema().validate(example_df(spark)).collect_warnings()
    assert [str(w) for w in ws] == GOLDEN


# -- golden end-to-end: example/boolean.py -> boolean.txt -------------------

def test_golden_boolean(spark):
    schema = Schema([
        Column("col1", [
            CanConvertValidation(int)
            | (CustomSeriesValidation(lambda x: x.str.len() > 1, "Doesn't have more than 1 character")
               & MatchesPatternValidation("a"))
        ])
    ])
    df = str_df(spark, ["col1"], [("an",), ("13",), ("a",), ("8",), ("the",)])
    ws = schema.validate(df).collect_warnings()
    assert ['"{}" failed!'.format(w.value) for w in ws] == ['"a" failed!', '"the" failed!']


# -- IsDistinct inside a schema (ref test_validation.py:373-402) ------------

def test_distinct_in_schema(spark):
    schema = Schema([Column("v", [IsDistinctValidation()])])
    df = str_df(spark, ["v"], [("1",), ("1",), ("3",), ("4",)])
    ws = schema.validate(df).collect_warnings()
    assert len(ws) == 1
    assert ws[0].row == 1  # keep='first': only the SECOND '1' fails
    assert ws[0].message == "contains values that are not unique"
    assert str(ws[0]) == '{row: 1, column: "v"}: "1" contains values that are not unique'


def test_intable_pandas_fallback_guard(spark, monkeypatch):
    """The pandas fallback collects the distinct dimension to the driver;
    above the cap it must refuse with a pointer at the anti-join plan
    instead of silently OOMing the driver."""
    import pandas as pd
    import pytest
    from pyspark.sql import functions as F

    from pandasschema_spark.errors import PanSchArgumentError
    from pandasschema_spark.validation import InTableValidation

    dim = spark.range(0, 50).select(F.col("id").alias("v"))
    v = InTableValidation(dim, "v")
    monkeypatch.setattr(InTableValidation, "PANDAS_FALLBACK_MAX_DISTINCT", 10)
    with pytest.raises(PanSchArgumentError, match="refused"):
        v.pandas_validate(pd.Series([1, 2, 3]))
    monkeypatch.setattr(InTableValidation, "PANDAS_FALLBACK_MAX_DISTINCT", 100)
    assert v.pandas_validate(pd.Series([1, 999])).tolist() == [True, False]


def test_inrange_nan_and_infinite_bounds_native_matches_pandas(spark):
    """Spark orders NaN GREATER than every double, so with an infinite
    max bound the native predicate used to pass NaN (and with both
    bounds infinite, even NULL). The pandas formula, run as the Arrow
    fallback, fails both; the native path must agree."""
    import math

    from pandasschema_spark.column import Column
    from pandasschema_spark.schema import Schema
    from pandasschema_spark.validation import CustomSeriesValidation, InRangeValidation

    df = spark.createDataFrame(
        [(0, 1.0), (1, float("nan")), (2, None), (3, -5.0)],
        "row_ord long, v double")

    for lo, hi in [(0, math.inf), (-math.inf, math.inf), (0, 10)]:
        native = InRangeValidation(lo, hi)
        fails = {}
        for path, v in (("native", native),
                        ("pandas", CustomSeriesValidation(native.pandas_validate, native.message))):
            res = Schema([Column("v", [v])]).validate(df, columns=["v"], row_key="row_ord")
            fails[path] = sorted(r["row"] for r in res.violations.collect())
        assert fails["native"] == fails["pandas"], (lo, hi, fails)
        assert 1 in fails["native"] and 2 in fails["native"], (lo, hi)


def _round_trips(build):
    """py4j round trips ``build()`` makes. Memory-release commands are
    left out: Python's collector sends one whenever it frees a JVM
    handle, made by this build or an earlier one, so their count is the
    collector's timing, not the build's."""
    import gc

    from py4j.clientserver import ClientServerConnection

    real = ClientServerConnection.send_command
    sent = []

    def spy(self, command, *args, **kw):
        sent.append(command)
        return real(self, command, *args, **kw)

    gc.collect()
    ClientServerConnection.send_command = spy
    try:
        build()
    finally:
        ClientServerConnection.send_command = real
    return sum(1 for c in sent if not c.startswith("m"))


def _round_trips_to_build(spark, schema, df, columns):
    """py4j round trips ``schema.validate(df, columns)`` makes with no
    action."""
    return _round_trips(lambda: schema.validate(df, columns=columns))


def test_check_projection_round_trips_and_schema(spark):
    """The check projection is SQL text, so an added native row check
    costs at most 2 py4j round trips (it cost about 120 when each check
    was built from pyspark Column calls), on a new or an already-checked
    column, with and without allow_empty; and the violations of a
    row-only, a global-only and a mixed schema all have exactly
    VIOLATION_SCHEMA: names, types and nullability."""
    from pandasschema_spark.plans.compiler import VIOLATION_SCHEMA

    df = spark.createDataFrame(
        [(i, str(i), i, i) for i in range(20)], "a long, b string, c long, k long")

    def schema(copies):
        return Schema([Column("a", [InRangeValidation(0, 10)] * copies),
                       Column("b", [InListValidation(["1", "2"])] * copies)])

    _round_trips_to_build(spark, schema(1), df, ["a", "b"])  # warm the lookups
    one = _round_trips_to_build(spark, schema(1), df, ["a", "b"])
    five = _round_trips_to_build(spark, schema(5), df, ["a", "b"])
    assert (five - one) / 8 <= 2, (one, five)

    for allow_empty in (False, True):
        def cost(a_checks, c_checks):
            return _round_trips_to_build(spark, Schema([
                Column("a", [InRangeValidation(0, 10)] * a_checks, allow_empty),
                Column("c", [InRangeValidation(0, 10)] * c_checks, allow_empty),
            ]), df, ["a", "c"])

        cost(1, 0)  # warm the lookups
        base = cost(1, 0)
        repeat, new = cost(2, 0) - base, cost(1, 1) - base
        assert repeat <= 2 and new <= 2, (allow_empty, repeat, new)

    for checks in ([InRangeValidation(0, 10)], [IsDistinctValidation()],
                   [IsDistinctValidation(), InRangeValidation(0, 10)]):
        res = Schema([Column("a", checks)]).validate(df, columns=["a"], row_key="k")
        assert res.violations.schema == VIOLATION_SCHEMA, checks


def test_clips_read_and_plan_build_round_trips(spark, tmp_path):
    """Reading a clips table and building the whole validate_clips plan
    (codec dimension inlined, both Arrow checks) costs at most 400 py4j
    round trips; built from pyspark Column calls it cost about 1,400."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import to_arrow_schema

    from pandasschema_spark.clips_suite import validate_clips
    from pandasschema_spark.sources import datagen

    for b in range(2):
        part = tmp_path / "bucket={}".format(b)
        part.mkdir()
        rows = [datagen._synth_row(42, i, True) for i in range(b, 32, 2)]
        pq.write_table(pa.Table.from_pylist(rows, to_arrow_schema(datagen.CLIPS_SCHEMA)),
                       str(part / "part-0.parquet"))

    def build():
        validate_clips(spark.read.parquet(str(tmp_path)), datagen.codec_dim(spark),
                       seed=42, row_key="row_ord")

    build()  # warm the lookups
    trips = _round_trips(build)
    assert trips <= 400, trips


def test_fallback_udf_is_built_once_per_check(spark):
    """A check on the Arrow fallback builds its pandas UDF on its first
    compile and reuses it after (a runner batch or a stream micro-batch
    compiles again); the check still pickles, without the UDF's JVM
    handle, and still validates."""
    from pyspark import cloudpickle

    from pandasschema_spark.plans.compiler import _Leaves
    from pandasschema_spark.validation import CustomSeriesValidation

    v = CustomSeriesValidation(lambda s: s.str.len() > 1, "too short")
    df = spark.createDataFrame([(0, "ab"), (1, "a")], "k long, b string")
    v.pass_sql("`b`", T.StringType(), _Leaves(df))
    udf = v._udf
    v.pass_sql("`b`", T.StringType(), _Leaves(df))
    assert v._udf is udf
    assert "_udf" not in cloudpickle.loads(cloudpickle.dumps(v)).__dict__

    rows = Schema([Column("b", [v])]).validate(df, columns=["b"], row_key="k").violations.collect()
    assert [(r["row"], r["value"]) for r in rows] == [(1, "a")]
