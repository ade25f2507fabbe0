"""resources.scope/hold: pinned storage is released when the scope exits."""

import pytest
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from pandasschema_spark.operators.graph import connected_components
from pandasschema_spark.resources import hold, scope


def _pin_all(spark):
    """One persisted, one broadcast and one checkpointed handle, each
    materialized so the persisted ones are registered with the context."""
    p = hold(spark.range(50).persist(StorageLevel.MEMORY_AND_DISK))
    p.count()
    b = hold(spark.sparkContext.broadcast(list(range(10))))
    c = hold(spark.range(50).localCheckpoint(eager=True))
    return p, b, c


def _assert_freed(p, b):
    assert not p.storageLevel.useMemory and not p.storageLevel.useDisk
    with pytest.raises(Exception):
        b.value  # a destroyed broadcast refuses access


def test_scope_releases_all_handle_kinds_on_exit(spark, pinned):
    before = pinned()
    with scope():
        p, b, _ = _pin_all(spark)
        assert len(pinned() - before) == 2  # the persist and the checkpoint
    assert not pinned() - before
    _assert_freed(p, b)


def test_scope_releases_on_exception(spark, pinned):
    before = pinned()
    with pytest.raises(RuntimeError, match="boom"):
        with scope():
            p, b, _ = _pin_all(spark)
            raise RuntimeError("boom")
    assert not pinned() - before
    _assert_freed(p, b)


def test_nested_scope_releases_only_its_own(spark, pinned):
    before = pinned()
    with scope():
        outer = hold(spark.range(10).persist())
        outer.count()
        with scope():
            inner = hold(spark.range(20).persist())
            inner.count()
        assert not inner.storageLevel.useMemory
        assert outer.storageLevel.useMemory
        assert outer.count() == 10
    assert not outer.storageLevel.useMemory
    assert not pinned() - before


def test_hold_outside_scope_is_noop(spark):
    df = spark.range(5).persist()
    assert hold(df) is df
    df.count()
    assert df.storageLevel.useMemory
    with scope():
        pass  # a later scope does not pick up the earlier hold
    assert df.storageLevel.useMemory
    df.unpersist()


def test_composed_connected_components_leaves_nothing_pinned(spark, pinned):
    """A projection of the result still releases every per-round
    checkpoint: the scope, not the returned frame, owns the handles."""
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (11, 12)], "id_a long, id_b long")
    before = pinned()
    with scope():
        got = {(r["id"], r["cluster_id"]) for r in
               connected_components(pairs).select("id", "cluster_id").collect()}
    assert got == {(1, 1), (2, 1), (3, 1), (4, 1),
                   (10, 10), (11, 10), (12, 10)}
    assert not pinned() - before


def test_consuming_after_exit_recomputes_persisted_frame(spark):
    """The documented contract: a persisted frame read after its scope
    exits still answers, from its lineage."""
    with scope():
        df = hold(spark.range(30).withColumn("x", F.col("id") * 2).persist())
        df.count()
    assert not df.storageLevel.useMemory
    assert df.agg(F.sum("x")).first()[0] == 870
