"""frames.local_frame: driver-side rows as an Arrow LocalRelation.

The helper must give the same frame as ``createDataFrame(rows, schema)``
for every type the package builds frames of, plan as a
``LocalTableScan`` (no Python RDD, no worker, no job for a collect), and
be the only place the package calls ``createDataFrame``."""

import ast
import datetime
import decimal
import os

import pytest
from pyspark.sql import functions as F, types as T

from pandasschema_spark.frames import local_frame

PKG = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                   "pandasschema_spark")

SCHEMA = T.StructType([
    T.StructField("i", T.IntegerType(), False),
    T.StructField("l", T.LongType(), True),
    T.StructField("s", T.StringType(), False),
    T.StructField("b", T.BooleanType(), True),
    T.StructField("d", T.DoubleType(), True),
    T.StructField("af", T.ArrayType(T.FloatType()), True),
    T.StructField("m", T.MapType(T.StringType(), T.LongType()), True),
    T.StructField("bin", T.BinaryType(), True),
    T.StructField("dec", T.DecimalType(38, 6), True),
    T.StructField("day", T.DateType(), True),
])

ROWS = [
    (1, 2 ** 62, "a", True, 1.5, [1.0, 0.1, -2.5], {"k": 1, "z": -3},
     b"\x00\xff", decimal.Decimal("12345.678901"), datetime.date(2024, 2, 29)),
    (-7, -(2 ** 63), "", False, float("inf"), [], {}, b"",
     decimal.Decimal("-0.000001"), datetime.date(1969, 12, 31)),
    (0, None, "x", None, None, None, None, None, None, None),
]


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_round_trip_matches_create_dataframe(spark):
    got = local_frame(spark, ROWS, SCHEMA)
    want = spark.createDataFrame(ROWS, SCHEMA)
    assert got.schema == want.schema == SCHEMA
    assert got.collect() == want.collect()


def test_ddl_schema_matches_create_dataframe(spark):
    ddl = "digit long, exp_ppm long, name string, ok boolean"
    rows = [(1, 301030, "one", True), (9, 45757, None, None)]
    got = local_frame(spark, rows, ddl)
    want = spark.createDataFrame(rows, ddl)
    assert got.schema == want.schema
    assert got.collect() == want.collect()


def test_empty_rows_keep_the_schema(spark):
    got = local_frame(spark, [], SCHEMA)
    assert got.schema == SCHEMA
    assert got.collect() == []
    assert local_frame(spark, [], "bucket_start: bigint, n_events: bigint").schema == \
        spark.createDataFrame([], "bucket_start: bigint, n_events: bigint").schema


def test_naive_datetime_under_non_utc_session_zone(spark):
    schema = T.StructType([T.StructField("ts", T.TimestampType(), True),
                           T.StructField("ntz", T.TimestampNTZType(), True)])
    rows = [
        (datetime.datetime(2024, 3, 10, 2, 30, 0, 123456), datetime.datetime(2024, 3, 10, 2, 30)),
        (datetime.datetime(2024, 1, 1, tzinfo=datetime.timezone(datetime.timedelta(hours=5))),
         datetime.datetime(1999, 12, 31, 23, 59, 59)),
        (None, None),
    ]
    prev = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/Los_Angeles")
    try:
        def seen(df):
            return df.select("*", F.unix_micros("ts").alias("us"),
                             F.col("ts").cast("string").alias("local"),
                             F.col("ntz").cast("string").alias("ntz_s")).collect()

        assert seen(local_frame(spark, rows, schema)) == seen(spark.createDataFrame(rows, schema))
    finally:
        spark.conf.set("spark.sql.session.timeZone", prev)


def test_plans_as_local_table_scan_without_a_job(spark, jobs_of):
    df = local_frame(spark, ROWS, SCHEMA)
    plan = _plan(df)
    assert "LocalTableScan" in plan and "ExistingRDD" not in plan, plan
    assert jobs_of(df.collect) == 0
    # the list form this replaces: a Python RDD scan that runs a job
    rdd_df = spark.createDataFrame(ROWS, SCHEMA)
    assert "ExistingRDD" in _plan(rdd_df)
    assert jobs_of(rdd_df.collect) >= 1


def test_rejects_what_create_dataframe_rejects(spark):
    with pytest.raises(ValueError, match="not nullable"):
        local_frame(spark, [(None, 1)], T.StructType([
            T.StructField("a", T.LongType(), False), T.StructField("b", T.LongType(), True)]))
    with pytest.raises(ValueError, match="2 values for 3 fields"):
        local_frame(spark, [(1, 2)], "a long, b long, c long")


def test_package_builds_frames_only_through_the_helper():
    """The package's only createDataFrame call is the one inside
    local_frame: a list-based one elsewhere would plan a Python-worker
    RDD scan again."""
    calls = set()

    def visit(node, rel, func):
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            func = node.name
        if (isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute)
                and node.func.attr == "createDataFrame"):
            calls.add((rel, func, node.lineno))
        for child in ast.iter_child_nodes(node):
            visit(child, rel, func)

    for root, _dirs, files in os.walk(PKG):
        for f in files:
            if f.endswith(".py"):
                path = os.path.join(root, f)
                with open(path) as fh:
                    visit(ast.parse(fh.read()), os.path.relpath(path, PKG), None)
    assert [(rel, func) for rel, func, _ in calls] == [("frames.py", "local_frame")], calls
