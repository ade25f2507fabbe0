"""InTableValidation over a local vs a non-local dimension: a dim planned
as a local relation with at most INLINE_MAX_VALUES distinct non-NULL
values compiles to a row-local IN predicate, violation-for-violation
identical to the broadcast anti-join plan every other dim keeps
(including NULL values, NULL dim entries, empty dims); building the
check runs no Spark job either way."""

from pyspark.sql import functions as F

from pandasschema_spark import Column, Schema
from pandasschema_spark.frames import local_frame
from pandasschema_spark.validation import INLINE_MAX_VALUES, InTableValidation


def _violations(spark, dim):
    df = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, None), (4, "zz"), (5, "c")],
        "rid long, v string")
    v = InTableValidation(dim, "d")
    schema = Schema([Column("v", [v])])
    out = schema.validate(df, columns=["v"], row_key="rid").violations
    return v, sorted((r["row"], r["value"], r["message"])
                     for r in out.collect())


def test_inline_matches_antijoin(spark):
    rows = [("a",), ("b",), (None,)]
    local = local_frame(spark, rows, "d string")
    remote = spark.createDataFrame(rows, "d string")
    assert local.isLocal() and not remote.isLocal()
    v_in, rows_inline = _violations(spark, local)
    v_gl, rows_global = _violations(spark, remote)
    assert v_in.is_global is False and v_in._inline_values == ["a", "b"]
    assert v_gl.is_global is True and v_gl._inline_values is None
    assert rows_inline == rows_global
    # NULL value and non-member both fail; members pass
    assert {r[0] for r in rows_inline} == {3, 4, 5}


def test_inline_empty_dim_fails_every_row(spark):
    v, rows_inline = _violations(spark, local_frame(spark, [], "d string"))
    assert v.is_global is False and v._inline_values == []
    _, rows_global = _violations(spark, spark.createDataFrame([], "d string"))
    assert rows_inline == rows_global
    assert {r[0] for r in rows_inline} == {1, 2, 3, 4, 5}


def test_over_threshold_falls_back_to_global(spark):
    """The cap is on distinct non-NULL values, not rows: repeats and
    NULLs do not count, one value past the cap keeps the anti join."""
    at_cap = [(str(i),) for i in range(INLINE_MAX_VALUES)] * 2 + [(None,)] * 3
    v = InTableValidation(local_frame(spark, at_cap, "d string"), "d")
    assert v.is_global is False and len(v._inline_values) == INLINE_MAX_VALUES
    over = [(str(i),) for i in range(INLINE_MAX_VALUES + 1)]
    v = InTableValidation(local_frame(spark, over, "d string"), "d")
    assert v.is_global is True and v._inline_values is None


def test_non_local_dim_keeps_antijoin_without_a_job(spark, jobs_of):
    """A dim read from storage is never collected at construction: no
    job runs, and the check plans the anti join whatever its size."""
    dim = spark.range(3).select(F.col("id").cast("string").alias("d"))
    built = []
    assert jobs_of(lambda: built.append(InTableValidation(dim, "d"))) == 0
    assert built[0].is_global is True and built[0]._inline_values is None


def test_inline_fuses_into_single_scan_plan(spark, tmp_path):
    p = str(tmp_path / "t.parquet")
    spark.createDataFrame([(1, "a"), (2, "x")], "rid long, v string") \
        .write.mode("overwrite").parquet(p)
    df = spark.read.parquet(p)
    dim = local_frame(spark, [("a",), ("b",)], "d string")
    schema = Schema([Column("v", [InTableValidation(dim, "d")])])
    out = schema.validate(df, columns=["v"], row_key="rid").violations
    plan = out._sc._jvm.PythonSQLUtils.explainString(
        out._jdf.queryExecution(), "simple")
    assert plan.count("FileScan parquet") == 1, "inlined dim must not add a branch"
    assert "Join" not in plan


def test_local_dim_inlines_without_a_job(spark, jobs_of):
    """A dim planned as a LocalTableScan is deduplicated on the driver:
    building the check runs no job, and its inline values are the
    distinct non-NULL values as Spark's distinct sees them (every NaN
    one value)."""
    rows = [(1.0,), (float("nan"),), (None,), (1.0,), (float("nan"),), (2.5,), (None,)]
    local = local_frame(spark, rows, "d double")
    built = []
    assert jobs_of(lambda: built.append(InTableValidation(local, "d"))) == 0
    got = built[0]
    assert got.is_global is False
    want = [r[0] for r in spark.createDataFrame(rows, "d double").distinct().collect()
            if r[0] is not None]
    assert sorted(map(repr, got._inline_values)) == sorted(map(repr, want)) \
        == ["1.0", "2.5", "nan"]
