"""Bloom-screen referential, salted join, edit-distance pairs."""

import pytest
from pyspark.sql import functions as F

from pandasschema_spark.operators.joins import salted_join
from pandasschema_spark.operators.referential import (
    bloom_screen_violations,
    build_bloom,
)
from pandasschema_spark.operators.text import edit_distance_pairs


def test_bloom_screen_one_sided_and_nearly_complete(spark):
    """Every flagged row is a TRUE violation (no false positives ever);
    with a reasonably-sized bitmap the screen catches essentially all
    violations. NULLs are never flagged."""
    dim = spark.range(0, 500).select(F.col("id").alias("k"))
    rows = [(i, i) for i in range(500)]            # valid
    rows += [(1000 + i, 10_000 + i) for i in range(300)]  # violations
    rows.append((9999, None))
    fact = spark.createDataFrame(rows, "event_id long, k long")
    out = bloom_screen_violations(fact, "k", dim, "k",
                                  n_bits=1 << 14, k=3,
                                  keep_cols=["event_id"]).collect()
    flagged = {r["event_id"] for r in out}
    true_viol = {1000 + i for i in range(300)}
    assert flagged <= true_viol          # one-sided: no valid row flagged
    assert len(flagged) >= 295           # near-complete at this fp rate
    assert 9999 not in flagged


def test_bloom_bitmap_partitioning_invariant(spark):
    dim = spark.range(0, 1000).select(F.col("id").cast("string").alias("v"))
    b1 = build_bloom(dim, "v", n_bits=1 << 12, k=2)
    b2 = build_bloom(dim.repartition(7), "v", n_bits=1 << 12, k=2)
    assert b1 == b2


def test_bloom_index_matrix_matches_hex_path():
    """The vectorized (n, k) index matrix must reproduce the scalar
    hex-chunk rule bit for bit — it IS the engine-portability contract
    the DuckDB oracle replays (md5 hex chunk i == raw digest bytes
    [4i, 4i+4) big-endian)."""
    import hashlib

    import pytest as _pytest

    from pandasschema_spark.operators.referential import (
        _bloom_index_matrix,
        _bloom_indexes_hex,
    )

    vals = ["", "a", "hello world", "1234567890", "ünicøde", "None"]
    for k in (1, 2, 3, 4):
        mat = _bloom_index_matrix(vals, k, 4093)
        assert mat.shape == (len(vals), k)
        for row, v in zip(mat, vals):
            h = hashlib.md5(v.encode("utf-8")).hexdigest()
            assert list(row) == _bloom_indexes_hex(h, k, 4093), v
    with _pytest.raises(ValueError, match="k <= 4"):
        _bloom_index_matrix(vals, 5, 4093)


def test_bloom_build_tree_combine_same_bitmap(spark):
    """Forcing the many-partition tree-combine level (combine_above below
    the partition count) must yield the identical bitmap as the direct
    collect — the combine is pure OR re-association. This is the driver-
    OOM guard for 10k-partition x GB-bitmap builds."""
    from pandasschema_spark.operators.referential import BLOOM_COMBINE_ABOVE

    dim = (spark.range(0, 2000).repartition(40)
           .select(F.col("id").cast("string").alias("v")))
    direct = build_bloom(dim, "v", n_bits=1 << 12, k=3)          # 40 <= 64
    assert 40 <= BLOOM_COMBINE_ABOVE
    treed = build_bloom(dim, "v", n_bits=1 << 12, k=3, combine_above=8)
    assert direct == treed


def test_bloom_screen_plan_no_join(spark):
    """The screen must be a single scan + Arrow filter — zero joins,
    zero exchanges on the fact side."""
    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    dim = spark.read.parquet("/root/testdata/sf0.001/customer.parquet") \
        .where(F.col("c_custkey") < 50)
    out = bloom_screen_violations(ev, "user_id", dim, "c_custkey",
                                  n_bits=4096, k=3, keep_cols=["event_id"])
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan and "Exchange" not in plan, plan[:2000]


def test_salted_join_equals_plain_join(spark):
    fact = spark.createDataFrame(
        [(i % 5, i) for i in range(1000)] + [(99, -1)], "k long, x long")
    dim = spark.createDataFrame(
        [(i, "d{}".format(i)) for i in range(5)], "k long, label string")
    salted = salted_join(fact, dim, "k", salt_buckets=8)
    plain = fact.join(dim, "k")
    assert sorted(map(tuple, salted.collect())) == sorted(map(tuple, plain.collect()))
    # left join keeps unmatched fact rows with null dim cols
    left = salted_join(fact, dim, "k", salt_buckets=8, how="left")
    assert left.count() == 1001
    assert left.where(F.col("label").isNull()).count() == 1
    with pytest.raises(ValueError, match="inner"):
        salted_join(fact, dim, "k", how="full")


def test_salted_join_spreads_hot_key_deterministically(spark):
    """The hot key's rows must land in multiple salt buckets, and the
    salt must be DETERMINISTIC per row (it feeds a shuffle join key — a
    retry-reassigned salt loses/duplicates rows, SPARK-23207 class): the
    default is a content hash of all fact columns, never
    monotonically_increasing_id/rand."""
    fact = spark.createDataFrame([(1, i) for i in range(500)], "k long, x long")
    content_salt = F.pmod(F.hash(F.col("k"), F.col("x")), F.lit(8))
    buckets = sorted(map(tuple, fact.select(content_salt.alias("s"))
                         .groupBy("s").count().collect()))
    assert len(buckets) >= 6  # hot key spread over most buckets
    assert buckets == sorted(map(tuple, fact.select(content_salt.alias("s"))
                                 .groupBy("s").count().collect()))
    dim = spark.createDataFrame([(1, "d")], "k long, label string")
    for kwargs in ({}, {"salt_cols": ["k", "x"]}):
        j = salted_join(fact, dim, "k", salt_buckets=8, **kwargs)
        plan = j._jdf.queryExecution().analyzed().toString()
        assert "monotonically_increasing_id" not in plan
        assert "rand(" not in plan
        assert j.count() == 500


def test_bloom_screen_broadcast_destroyed_by_scope(spark, monkeypatch):
    """The bitmap broadcast is held by the caller's scope and destroyed
    when it exits — long-lived sessions must not accumulate executor
    copies of up-to-GB bitmaps."""
    from pandasschema_spark import resources

    freed, release = [], resources._release
    monkeypatch.setattr(resources, "_release", lambda x: (freed.append(x), release(x)))
    dim = spark.range(0, 100).select(F.col("id").alias("k"))
    fact = spark.createDataFrame([(1, 5), (2, 12345)], "event_id long, k long")
    with resources.scope():
        out = bloom_screen_violations(fact, "k", dim, "k", n_bits=1 << 12, k=3,
                                      keep_cols=["event_id"])
        assert {r["event_id"] for r in out.collect()} == {2}
    assert len(freed) == 1 and hasattr(freed[0], "destroy")
    with pytest.raises(Exception):
        freed[0].value  # destroyed broadcasts refuse access


def test_edit_distance_pairs_matches_python(spark):
    def lev(a, b):
        dp = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            prev, dp[0] = dp[0], i
            for j, cb in enumerate(b, 1):
                prev, dp[j] = dp[j], min(dp[j] + 1, dp[j - 1] + 1,
                                         prev + (ca != cb))
        return dp[-1]

    texts = ["the quick brown fox", "the quick brown fax",
             "lorem ipsum dolor", "completely different thing", ""]
    df = spark.createDataFrame(list(enumerate(texts)), "doc_id long, text string")
    pairs = spark.createDataFrame(
        [(a, b) for a in range(5) for b in range(5) if a < b],
        "id_a long, id_b long")
    out = {(r["id_a"], r["id_b"]): r["edit_dist"]
           for r in edit_distance_pairs(df, "text", "doc_id", pairs).collect()}
    for (a, b), d in out.items():
        assert d == lev(texts[a][:64], texts[b][:64]), (a, b)
    assert len(out) == 10
