"""Round-5 operators: header-detail reconciliation, FD check, per-group
two-sample drift, speech-rate consistency."""

import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from pandasschema_spark.operators.colstats import fd_violations
from pandasschema_spark.operators.drift import (
    chi_square_two_sample,
    chi_square_two_sample_by,
)
from pandasschema_spark.operators.reconcile import reconcile_header_detail


def test_reconcile_flags_mismatch_and_headerless_detail(spark):
    header = spark.createDataFrame(
        [(1, 100), (2, 250), (3, 70)], "k long, amt long")
    detail = spark.createDataFrame(
        [(1, 60), (1, 40),          # order 1 reconciles exactly
         (2, 200)],                 # order 2 short by 50
        "k long, cents long")       # order 3 has NO detail -> diff 70
    out = {r["key"]: (r["header_amt"], r["detail_amt"], r["diff"])
           for r in reconcile_header_detail(
               header, "k", F.col("amt"), detail, "k", F.col("cents")
           ).collect()}
    assert out == {2: (250, 200, 50), 3: (70, 0, 70)}
    # tolerance absorbs small diffs
    tol = reconcile_header_detail(
        header, "k", F.col("amt"), detail, "k", F.col("cents"), tol=50)
    assert {r["key"] for r in tol.collect()} == {3}


def test_reconcile_detail_aggregates_before_join(spark):
    """Detail rows must never reach the join: the plan aggregates the
    detail side to O(keys) first (partial+final hash agg under the
    join)."""
    header = spark.createDataFrame([(1, 10)], "k long, amt long")
    detail = spark.createDataFrame([(1, 5)] * 100, "k long, cents long")
    out = reconcile_header_detail(header, "k", F.col("amt"),
                                  detail, "k", F.col("cents"))
    plan = out._jdf.queryExecution().executedPlan().toString()
    join_pos = min(p for p in (plan.find("Join"),) if p >= 0)
    agg_pos = plan.find("HashAggregate", join_pos)
    assert agg_pos > join_pos, "detail agg must sit under the join:\n" + plan[:1500]


def test_fd_violations_null_semantics(spark):
    df = spark.createDataFrame(
        [("a", "x"), ("a", "x"),        # clean
         ("b", "x"), ("b", "y"),        # violating: 2 deps
         ("c", "x"), ("c", None),       # NULL dep IS a second answer
         (None, "z"), (None, "w")],     # NULL det: no FD defined, skipped
        "det string, dep string")
    out = {r["det"]: (r["n_dep"], r["min_dep"], r["max_dep"])
           for r in fd_violations(df, "det", "dep").collect()}
    assert out == {"b": (2, "x", "y"), "c": (2, "x", "x")}


def test_chi_square_two_sample_by_matches_global_float(spark):
    """The per-group rational statistic must agree with the global float
    implementation on a single group (within the documented per-term
    floor bias < k)."""
    ref = spark.createDataFrame(
        [("g", i % 5) for i in range(500)], "grp string, b long")
    cand = spark.createDataFrame(
        [("g", (i * 3) % 7 % 5) for i in range(400)], "grp string, b long")
    row = chi_square_two_sample_by(ref, cand, "grp", "b").collect()[0]
    assert row["n_ref"] == 500 and row["n_cand"] == 400
    rational = row["chi2_num"] / row["chi2_den"]
    float_stat = chi_square_two_sample(
        ref.select("b"), cand.select("b"), "b").statistic
    assert abs(rational - float_stat) < row["k"], (rational, float_stat)


def test_chi_square_two_sample_by_single_union_scan(spark):
    """The raw rows must shuffle exactly once: a tagged union feeding one
    (grp, bucket) aggregation — per-group drift may not rescan or
    re-shuffle the inputs per group."""
    ref = spark.createDataFrame([("g", 1)], "grp string, b long")
    cand = spark.createDataFrame([("g", 2)], "grp string, b long")
    out = chi_square_two_sample_by(ref, cand, "grp", "b")
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Union") == 1


def test_speech_rate_bounds_and_nulls(spark):
    from pandasschema_spark.operators.audio import speech_rate

    df = spark.createDataFrame(
        [("a", "one two three", 1000),   # 3 wps -> 3000 mwps
         ("b", "one two three", 20),     # 150 wps -> impossible
         ("c", None, 1000),              # unmeasurable -> flagged
         ("d", "word", 0)],              # zero duration -> flagged
        "clip_id string, transcript string, dur_ms int")
    allr = {r["clip_id"]: r["rate_mwps"] for r in speech_rate(df).collect()}
    assert allr == {"a": 3000, "b": 150000, "c": 0, "d": None}
    flagged = {r["clip_id"]
               for r in speech_rate(df, max_mwps=100_000).collect()}
    assert flagged == {"b", "d"}
    lo = {r["clip_id"]
          for r in speech_rate(df, min_mwps=1000, max_mwps=100_000).collect()}
    assert lo == {"b", "c", "d"}  # null transcript reads 0 wps, under min


def test_embedding_norm_arrow_matches_expr_and_flags(spark):
    from pandasschema_spark.operators.similarity import embedding_norm_violations

    rows = [(0, [1.0] * 4),            # norm2 = 4e6 -> out of unit bounds
            (1, [0.5] * 4),            # norm2 = 1e6 -> clean
            (2, [0.5] * 3),            # wrong dim
            (3, None),                 # null vec -> flagged
            (4, [float("nan")] * 4),   # non-finite -> flagged
            (5, [0.3, 0.6, 0.5, 0.2]),  # norm2 ~0.74e6 -> under bounds
            (6, [1e7] * 4)]            # norm2 * 1e6 past the long range
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    kw = dict(expected_dim=4, min_norm2_micro=990_000, max_norm2_micro=1_010_000)
    got = {r["id"]: (r["dim"], r["norm2_micro"])
           for r in embedding_norm_violations(df, **kw).collect()}

    def micro(v):  # the oracle's floor(left fold * 1e6) over float32 inputs
        acc = 0.0
        for x in np.asarray(v, dtype=np.float32).astype(np.float64):
            acc += x * x
        return math.floor(acc * 1e6)

    assert got == {0: (4, micro(rows[0][1])), 2: (3, micro(rows[2][1])),
                   3: (0, None), 4: (4, None), 5: (4, micro(rows[5][1])),
                   6: (4, None)}
    assert got[0] == (4, 4_000_000) and got[5][1] < 990_000


def test_ks_two_sample_by_matches_python(spark):
    from pandasschema_spark.operators.drift import ks_two_sample_by

    ref_vals = [i % 5 for i in range(300)]
    cand_vals = [min((i * 7) % 9, 4) for i in range(200)]  # shifted mass
    ref = spark.createDataFrame([("g", v) for v in ref_vals], "grp string, b long")
    cand = spark.createDataFrame([("g", v) for v in cand_vals], "grp string, b long")
    row = ks_two_sample_by(ref, cand, "grp", "b").collect()[0]
    na, nb = len(ref_vals), len(cand_vals)
    buckets = sorted(set(ref_vals) | set(cand_vals))
    best = 0
    ca = cb = 0
    for x in buckets:
        ca += sum(1 for v in ref_vals if v == x)
        cb += sum(1 for v in cand_vals if v == x)
        best = max(best, abs(ca * nb - cb * na))
    assert (row["n_ref"], row["n_cand"]) == (na, nb)
    assert row["ks_num"] == best and row["ks_den"] == na * nb
    ks = row["ks_num"] / row["ks_den"]
    assert 0 < ks <= 1


def test_freshness_violations_semantics(spark):
    from pandasschema_spark.operators.sessions import freshness_violations

    df = spark.createDataFrame(
        [("fresh", "2024-01-10 00:00:00"),
         ("stale", "2024-01-01 00:00:00"),
         ("null_ts", None)],
        "feed string, ts string"
    ).select("feed", F.col("ts").cast("timestamp_ntz").alias("ts"))
    as_of = 1704931200000000  # 2024-01-11 00:00:00 UTC in epoch us
    out = {r["grp"]: r["lag_us"] for r in freshness_violations(
        df, "ts", "feed", as_of_us=as_of,
        max_lag_us=2 * 86_400_000_000).collect()}
    assert set(out) == {"stale", "null_ts"}
    assert out["stale"] == 10 * 86_400_000_000
    assert out["null_ts"] is None


def test_violations_diff_null_safe_keys(spark):
    from pandasschema_spark.operators.diff import violations_diff

    old = spark.createDataFrame(
        [(1, "a", "c1"), (2, "a", "c1"), (None, "b", "c2"), (1, "a", "c1")],
        "row int, column string, check_id string")
    new = spark.createDataFrame(
        [(2, "a", "c1"), (3, "a", "c1"), (None, "b", "c2")],
        "row int, column string, check_id string")
    out = {(r["row"], r["column"], r["check_id"]): r["status"]
           for r in violations_diff(old, new).collect()}
    # (2,a,c1) unchanged; the NULL-row frame-level warning matches itself
    # across runs (null-safe keys) so it is neither new nor resolved;
    # duplicates collapse before diffing
    assert out == {(3, "a", "c1"): "new", (1, "a", "c1"): "resolved"}
