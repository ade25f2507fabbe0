"""acoustic_incremental_pairs: incremental acoustic dedup vs a store."""

import pytest
from pyspark.sql import functions as F

from pandasschema_spark.operators.audio import (
    acoustic_dup_pairs,
    acoustic_incremental_pairs,
    spectral_fingerprint,
)
from pandasschema_spark.sources.datagen import (
    expected_near_dup_pairs,
    near_dup_clips_df,
)

pytestmark = pytest.mark.usefixtures("scoped")

N = 2000


def _split(spark, n=N):
    df = near_dup_clips_df(spark, n, seed=42, partitions=4)
    return df.where(F.col("row_ord") % 2 == 0), \
        df.where(F.col("row_ord") % 2 == 1)


def test_incremental_equals_batch_over_union_cross_pairs(spark):
    """The attested equality: incremental(store, new) == batch(store+new)
    restricted to cross pairs — identical fingerprint rule, union cap."""
    store, new = _split(spark)
    store_ids = {r["clip_id"] for r in store.select("clip_id").collect()}
    batch = acoustic_dup_pairs(store.unionByName(new))
    cross = {(a, b) if a in store_ids else (b, a)
             for a, b in [(r["clip_a"], r["clip_b"])
                          for r in batch.collect()]
             if (a in store_ids) != (b in store_ids)}

    inc = acoustic_incremental_pairs(spectral_fingerprint(store), store, new)
    got = {(r["clip_store"], r["clip_new"]) for r in inc.collect()}
    assert got == cross
    # the parity split makes EVERY injected pair a cross pair (offset 5
    # is odd), so the full planted set must be here
    assert len(got) == len(expected_near_dup_pairs(N))


def test_same_side_pairs_never_reported(spark):
    """Two re-encodes landing entirely in NEW (or entirely in STORE) are
    the batch op's job — the incremental op reports cross pairs only."""
    df = near_dup_clips_df(spark, 400, seed=42, partitions=2)
    # put a full dup pair (clip_5, clip_168's source... offset pair
    # (0,5)) into NEW, everything else into STORE: the (0,5) pair must
    # NOT be reported; pairs straddling the cut must be.
    new = df.where(F.col("row_ord").isin([0, 5]))
    store = df.where(~F.col("row_ord").isin([0, 5]))
    out = acoustic_incremental_pairs(spectral_fingerprint(store), store, new)
    got = {(r["clip_store"], r["clip_new"]) for r in out.collect()}
    assert got == set()  # (0,5) is new-internal; (163,168) is store-internal


def test_union_bucket_cap_drops_hot_fingerprints(spark):
    store, new = _split(spark, 1000)
    out = acoustic_incremental_pairs(
        spectral_fingerprint(store), store, new, max_bucket=1)
    # every candidate bucket has >= 2 members (one per side), so cap=1
    # wholesale-drops everything
    assert out.count() == 0


def test_plan_bytes_never_shuffle(spark):
    """Byte columns must only appear below broadcast joins — the bucket
    agg and candidate exchange carry slim rows."""
    store, new = _split(spark, 200)
    out = acoustic_incremental_pairs(spectral_fingerprint(store), store, new)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "Window" not in plan
