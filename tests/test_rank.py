"""global_ordinal: distributed global rank parity with the window form."""

import pytest
from pyspark.sql import Window, functions as F

from pandasschema_spark.operators.rank import global_ordinal
from pandasschema_spark.resources import scope


def test_matches_window_row_number(spark):
    rows = [(i, (i * 37) % 101) for i in range(500)]
    df = spark.createDataFrame(rows, "id int, key int").repartition(7)
    w = Window.orderBy(F.col("key").asc_nulls_first(),
                       F.col("id").asc_nulls_first())
    expect = {r["id"]: r["rn"] for r in
              df.withColumn("rn", F.row_number().over(w)).collect()}
    with scope():
        out = global_ordinal(df, ["key", "id"], partitions=5)
        got = {r["id"]: r["ordinal"] for r in out.collect()}
    assert got == expect


def test_nulls_first_and_start(spark):
    df = spark.createDataFrame(
        [(1, 10), (2, None), (3, 5), (4, None)], "id int, key int")
    with scope():
        out = global_ordinal(df, ["key", "id"], partitions=3, start=0)
        got = {r["id"]: r["ordinal"] for r in out.collect()}
    # nulls (ids 2, 4) rank first, then key 5, then key 10; start=0
    assert got == {2: 0, 4: 1, 3: 2, 1: 3}


def test_partition_count_invariance(spark):
    rows = [(i, i % 13) for i in range(300)]
    df = spark.createDataFrame(rows, "id int, key int")
    outs = []
    for p in (1, 4, 11):
        with scope():
            out = global_ordinal(df.repartition(3), ["key", "id"],
                                 partitions=p)
            outs.append(sorted((r["id"], r["ordinal"]) for r in out.collect()))
    assert outs[0] == outs[1] == outs[2]


def test_empty_and_guard(spark):
    df = spark.createDataFrame([], "id int, key int")
    with scope():
        out = global_ordinal(df, ["key", "id"], partitions=2)
        assert out.collect() == []
    with pytest.raises(ValueError):
        global_ordinal(df, [])


def test_release_handle_attached(spark, pinned):
    df = spark.createDataFrame([(1, 1)], "id int, key int")
    before = pinned()
    with scope():
        out = global_ordinal(df, ["key", "id"], partitions=2)
        assert out.count() == 1
        assert pinned() - before, "the range-sorted frame must be persisted"
    assert not pinned() - before
