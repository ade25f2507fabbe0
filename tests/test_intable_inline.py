"""InTableValidation inline_max_rows: the row-local IN compilation must be
violation-for-violation identical to the default broadcast anti-join plan
(including NULL values, NULL dim entries, empty dims), and silently fall
back to the global plan when the dim exceeds the threshold."""

import pytest
from pyspark.sql import functions as F

from pandasschema_spark import Column, Schema
from pandasschema_spark.validation import InTableValidation


def _violations(spark, dim, inline):
    df = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, None), (4, "zz"), (5, "c")],
        "rid long, v string")
    v = InTableValidation(dim, "d", inline_max_rows=inline)
    schema = Schema([Column("v", [v])])
    out = schema.validate(df, columns=["v"], row_key="rid").violations
    return v, sorted((r["row"], r["value"], r["message"])
                     for r in out.collect())


def test_inline_matches_antijoin(spark):
    dim = spark.createDataFrame([("a",), ("b",), (None,)], "d string")
    v_in, rows_inline = _violations(spark, dim, inline=8)
    v_gl, rows_global = _violations(spark, dim, inline=0)
    assert v_in.is_global is False and v_in._inline_values == ["a", "b"]
    assert v_gl.is_global is True
    assert rows_inline == rows_global
    # NULL value and non-member both fail; members pass
    assert {r[0] for r in rows_inline} == {3, 4, 5}


def test_inline_empty_dim_fails_every_row(spark):
    dim = spark.createDataFrame([], "d string")
    _, rows_inline = _violations(spark, dim, inline=8)
    _, rows_global = _violations(spark, dim, inline=0)
    assert rows_inline == rows_global
    assert {r[0] for r in rows_inline} == {1, 2, 3, 4, 5}


def test_over_threshold_falls_back_to_global(spark):
    dim = spark.range(100).select(F.col("id").cast("string").alias("d"))
    v = InTableValidation(dim, "d", inline_max_rows=10)
    assert v.is_global is True and v._inline_values is None


def test_inline_fuses_into_single_scan_plan(spark, tmp_path):
    p = str(tmp_path / "t.parquet")
    spark.createDataFrame([(1, "a"), (2, "x")], "rid long, v string") \
        .write.mode("overwrite").parquet(p)
    df = spark.read.parquet(p)
    dim = spark.createDataFrame([("a",), ("b",)], "d string")
    schema = Schema([Column("v", [InTableValidation(dim, "d", inline_max_rows=8)])])
    out = schema.validate(df, columns=["v"], row_key="rid").violations
    plan = out._sc._jvm.PythonSQLUtils.explainString(
        out._jdf.queryExecution(), "simple")
    assert plan.count("FileScan parquet") == 1, "inlined dim must not add a branch"
    assert "Join" not in plan


def test_local_dim_inlines_without_a_job(spark, jobs_of):
    """A dim planned as a LocalTableScan is deduplicated on the driver:
    building the check runs no job, and its inline values, the cap and
    the NULL drop are the Spark-distinct path's (every NaN one value)."""
    from pandasschema_spark.frames import local_frame

    rows = [(1.0,), (float("nan"),), (None,), (1.0,), (float("nan"),), (2.5,), (None,)]
    local = local_frame(spark, rows, "d double")
    remote = spark.createDataFrame(rows, "d double")
    assert local.isLocal() and not remote.isLocal()
    for cap in (3, 4, 8):
        built = []
        assert jobs_of(lambda: built.append(
            InTableValidation(local, "d", inline_max_rows=cap))) == 0
        want = InTableValidation(remote, "d", inline_max_rows=cap)
        got = built[0]
        assert got.is_global is want.is_global is (cap < 4)
        if cap >= 4:
            assert sorted(map(repr, got._inline_values)) == \
                sorted(map(repr, want._inline_values)) == ["1.0", "2.5", "nan"]
