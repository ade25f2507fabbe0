"""hyperplane_signature / cosine_lsh_candidates: train-free cosine LSH."""

import pytest

from pandasschema_spark.operators.similarity import (
    cosine_lsh_candidates,
    hyperplane_signature,
)

pytestmark = pytest.mark.usefixtures("scoped")

DIM = 8


def _emb(spark, rows):
    return spark.createDataFrame(
        rows, "vec_id long, embedding array<float>")


def test_identical_and_scaled_vectors_share_the_signature(spark):
    v = [0.3, -0.1, 0.7, 0.2, -0.5, 0.05, 0.9, -0.3]
    scaled = [2.0 * x for x in v]
    df = _emb(spark, [(0, v), (1, list(v)), (2, scaled)])
    sigs = {r["vec_id"]: r["sig"] for r in
            hyperplane_signature(df, DIM, n_planes=16).collect()}
    # sign projections are scale-invariant (positive scaling): the
    # quantization can flip a near-zero plane sum, but a 2x scale of
    # this vector keeps every sum's sign
    assert sigs[0] == sigs[1] == sigs[2]


def test_opposite_vectors_complement_every_bit(spark):
    # seven odd components + one even: every +/-1-signed sum is odd,
    # so NO plane sum can be zero and negation flips every bit (a zero
    # sum would read bit 1 on both sides — the >= 0 rule)
    v = [1.0, -3.0, 5.0, -7.0, 9.0, -11.0, 13.0, -2.0]
    neg = [-x for x in v]
    df = _emb(spark, [(0, v), (1, neg)])
    sigs = {r["vec_id"]: r["sig"] for r in
            hyperplane_signature(df, DIM, n_planes=16).collect()}
    assert sigs[0] ^ sigs[1] == (1 << 16) - 1


def test_candidates_catch_duplicates_not_orthogonals(spark):
    a = [1.0, 0.0, 1.0, 0.0, 1.0, 0.0, 1.0, 0.0]
    b = [0.0, 1.0, 0.0, -1.0, 0.0, 1.0, 0.0, -1.0]
    df = _emb(spark, [(0, a), (1, list(a)), (2, b)])
    out = cosine_lsh_candidates(df, DIM, n_planes=16, chunk_bits=8)
    got = {(r["id_a"], r["id_b"]) for r in out.collect()}
    assert (0, 1) in got  # identical vectors share every chunk
    # the orthogonal vector may collide on a coarse chunk by chance at
    # these widths, but never on BOTH while also matching exactly;
    # the guaranteed property is the duplicate pair's presence


def test_hot_chunk_cap_wholesale_drops(spark):
    v = [1.0] * DIM
    df = _emb(spark, [(i, list(v)) for i in range(6)])
    out = cosine_lsh_candidates(df, DIM, n_planes=16, chunk_bits=8,
                                max_bucket=3)
    assert out.count() == 0  # 6 identical sigs > cap in every chunk
    exact = cosine_lsh_candidates(df, DIM, n_planes=16, chunk_bits=8,
                                  max_bucket=None)
    assert exact.count() == 15  # all C(6,2) pairs


def test_guards_and_plan(spark):
    df = _emb(spark, [(0, [1.0] * DIM)])
    with pytest.raises(ValueError):
        hyperplane_signature(df, DIM, n_planes=63)
    with pytest.raises(ValueError):
        cosine_lsh_candidates(df, DIM, n_planes=16, chunk_bits=7)
    plan = hyperplane_signature(df, DIM, n_planes=16) \
        ._jdf.queryExecution().executedPlan().toString()
    # the sign table broadcasts (zero per-row md5); exchanges carry
    # (id, plane) counters, never a shuffle join
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan
    assert plan.count("md5") <= 2 * 16 * DIM, "md5 must not be per-row"


def test_dim_mismatch_vectors_are_excluded(spark):
    # regression: an empty or short vector has no defensible signature;
    # a silent posexplode drop would diverge from fixed-dim replays
    df = _emb(spark, [(0, [1.0] * DIM), (1, []), (2, [1.0] * (DIM - 1))])
    rows = hyperplane_signature(df, DIM, n_planes=16).collect()
    assert {r["vec_id"] for r in rows} == {0}
