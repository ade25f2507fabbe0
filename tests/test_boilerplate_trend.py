"""boilerplate_scan / containment_pairs / source_dup_matrix /
timeline_trend: the round-5 corpus-structure operators."""

import datetime

import pytest
from pyspark.sql import functions as F

from pandasschema_spark.operators.dedup import containment_pairs, source_dup_matrix
from pandasschema_spark.operators.profile import timeline_trend
from pandasschema_spark.operators.text import boilerplate_scan

pytestmark = pytest.mark.usefixtures("scoped")


# ---------------------------------------------------------------- boilerplate


def _pages(spark, n=30):
    rows = []
    for i in range(n):
        lines = ["SHARED HEADER", "body %d only here" % i]
        if i % 2 == 0:
            lines.append("even footer")
        lines.append("")  # empty line always dropped
        rows.append((i, "\n".join(lines)))
    rows.append((n, None))  # NULL text excluded entirely
    return spark.createDataFrame(rows, "id long, text string")


def test_boilerplate_counts(spark):
    out = {r["id"]: r for r in
           boilerplate_scan(_pages(spark), "text", "id",
                            min_doc_freq=10).collect()}
    assert len(out) == 30  # the NULL-text doc never appears
    for i, r in out.items():
        # header (df=30) always hot; footer (df=15) hot; body (df=1) not
        n_boiler = 2 if i % 2 == 0 else 1
        n_lines = 3 if i % 2 == 0 else 2
        assert (r["n_lines"], r["n_boiler"]) == (n_lines, n_boiler), (i, r)
        assert r["boiler_ppm"] == n_boiler * 1_000_000 // n_lines


def test_boilerplate_within_doc_repeat_counts_once(spark):
    # one doc repeating the line 5x contributes ONE doc to its frequency
    df = spark.createDataFrame(
        [(0, "\n".join(["dup line"] * 5)), (1, "dup line\nother")],
        "id long, text string")
    out = {r["id"]: r for r in
           boilerplate_scan(df, "text", "id", min_doc_freq=2).collect()}
    assert out[0]["n_lines"] == 1 and out[0]["n_boiler"] == 1
    assert out[1]["n_lines"] == 2 and out[1]["n_boiler"] == 1


def test_boilerplate_normalization_merges_variants(spark):
    df = spark.createDataFrame(
        [(0, "  Cookie   Notice \nx"), (1, "cookie notice\ny")],
        "id long, text string")
    out = {r["id"]: r["n_boiler"] for r in
           boilerplate_scan(df, "text", "id", min_doc_freq=2).collect()}
    assert out == {0: 1, 1: 1}


def test_boilerplate_guard(spark):
    df = spark.createDataFrame([(0, "x")], "id long, text string")
    with pytest.raises(ValueError):
        boilerplate_scan(df, "text", "id", min_doc_freq=1)


# ---------------------------------------------------------------- containment


def test_containment_catches_what_jaccard_misses(spark):
    short = " ".join("w%d" % i for i in range(10))
    wrapper = short + " " + " ".join("z%d" % i for i in range(40))
    df = spark.createDataFrame(
        [(1, short), (2, wrapper)], "id long, text string")
    res = containment_pairs(df, "text", "id", n=3, threshold_ppm=900_000)
    out = res.collect()
    assert len(out) == 1
    r = out[0]
    # every one of short's 8 trigrams appears in wrapper (plus the two
    # seam trigrams w8 w9 z0 / w9 z0 z1 which belong to wrapper only)
    assert (r["id_a"], r["id_b"], r["n_common"]) == (1, 2, 8)
    assert r["containment_ppm"] == 1_000_000
    # Jaccard for the same pair is 8 / (8 + 48 - 8) ~ 0.17 — far below
    # any dedup threshold: the pair is invisible to ngram_jaccard_pairs
    assert r["n_b"] == 48


def test_containment_threshold_binds(spark):
    df = spark.createDataFrame(
        [(1, "a b c d e f"), (2, "a b c d x y")], "id long, text string")
    # grams: 4 each, 2 shared -> containment 0.5
    hi = containment_pairs(df, "text", "id", threshold_ppm=600_000).collect()
    lo = containment_pairs(df, "text", "id", threshold_ppm=500_000).collect()
    assert hi == [] and len(lo) == 1 and lo[0]["containment_ppm"] == 500_000


def test_containment_guard(spark):
    df = spark.createDataFrame([(1, "x")], "id long, text string")
    with pytest.raises(ValueError):
        containment_pairs(df, "text", "id", threshold_ppm=0)


# ---------------------------------------------------------------- source matrix


def test_source_matrix_pairs_and_ppm(spark):
    rows = [(1, "shared syndicated story", "a"),
            (2, "shared syndicated story", "b"),
            (3, "Shared   SYNDICATED story", "c"),  # normalizes equal
            (4, "a-only content", "a"),
            (5, "b-only content", "b"),
            (6, None, "a"), (7, "x", None)]  # null text/source excluded
    df = spark.createDataFrame(rows, "id long, text string, src string")
    out = {(r["source_a"], r["source_b"]): r for r in
           source_dup_matrix(df, "text", "id", "src").collect()}
    assert set(out) == {("a", "b"), ("a", "c"), ("b", "c")}
    ab = out[("a", "b")]
    # a has 2 distinct contents, b has 2, c has 1; each pair shares 1
    assert (ab["n_shared"], ab["n_a"], ab["n_b"]) == (1, 2, 2)
    assert ab["share_ppm"] == 500_000
    assert out[("a", "c")]["share_ppm"] == 1_000_000


def test_source_matrix_hot_content_cap(spark):
    rows = [(i, "universal boilerplate", "s%d" % i) for i in range(6)]
    rows += [(10, "pair content", "s0"), (11, "pair content", "s1")]
    df = spark.createDataFrame(rows, "id long, text string, src string")
    capped = source_dup_matrix(df, "text", "id", "src",
                               max_sources_per_content=5).collect()
    # the 6-source content is dropped wholesale; only the pair survives
    assert len(capped) == 1 and capped[0]["n_shared"] == 1
    res = source_dup_matrix(df, "text", "id", "src",
                            max_sources_per_content=None)
    exact = res.collect()
    # C(6,2) = 15 distinct pairs; the (s0, s1) row merges both contents
    assert len(exact) == 15
    assert {(r["source_a"], r["source_b"]): r["n_shared"]
            for r in exact}[("s0", "s1")] == 2


# ---------------------------------------------------------------- trend


def _ts(day, i=0):
    return datetime.datetime(2026, 1, 1) + datetime.timedelta(
        days=day, seconds=i)


def test_trend_directions(spark):
    rows = []
    for d in range(10):
        for i in range(2 + 3 * d):          # climbing cohort
            rows.append(("up", _ts(d, i)))
        for i in range(40 - 3 * d):         # decaying cohort
            rows.append(("down", _ts(d, i)))
        rows.append(("flat", _ts(d)))       # constant cohort
    df = spark.createDataFrame(rows, "grp_in string, ts timestamp")
    out = {r["grp"]: r for r in
           timeline_trend(df, "ts", group_col="grp_in").collect()}
    assert out["up"]["direction"] == "up" and out["up"]["slope_num"] > 0
    assert out["down"]["direction"] == "down" and out["down"]["slope_num"] < 0
    assert out["flat"]["direction"] == "flat" and out["flat"]["slope_num"] == 0
    # exact normal-equation terms for y = 2 + 3x, x = 0..9 (translation
    # invariance: absolute epoch-day offsets cancel): n*Sxy - Sx*Sy =
    # 3 * (n*Sxx - Sx^2) = 3 * (10*285 - 45^2) = 2475
    assert out["up"]["slope_den"] == 825
    assert out["up"]["slope_num"] == 3 * 825
    assert out["down"]["slope_num"] == -3 * 825


def test_trend_single_bucket_flat_and_global(spark):
    df = spark.createDataFrame(
        [("a", _ts(0)), ("a", _ts(0, 5))], "g string, ts timestamp")
    row, = timeline_trend(df, "ts", group_col="g").collect()
    assert (row["n_buckets"], row["slope_den"], row["direction"]) == (1, 0, "flat")
    g, = timeline_trend(df, "ts").collect()  # global single row, no group
    assert g["n_buckets"] == 1 and "grp" not in g.asDict()


def test_trend_null_ts_excluded_null_group_kept(spark):
    df = spark.createDataFrame(
        [(None, _ts(0)), (None, _ts(1)), ("x", None)],
        "g string, ts timestamp")
    out = timeline_trend(df, "ts", group_col="g").collect()
    assert len(out) == 1 and out[0]["grp"] is None and out[0]["n_buckets"] == 2


def test_trend_guard(spark):
    df = spark.createDataFrame([("x", _ts(0))], "g string, ts timestamp")
    with pytest.raises(ValueError):
        timeline_trend(df, "ts", bucket_s=0)


def test_trend_plan_two_aggs_one_data_exchange(spark):
    df = spark.createDataFrame([("x", _ts(0))], "g string, ts timestamp")
    plan = timeline_trend(df, "ts", group_col="g")._jdf.queryExecution() \
        .executedPlan().toString()
    # one data-sized exchange (group, bucket) + one O(groups x buckets)
    # exchange for the moment agg; nothing else moves
    assert plan.count("Exchange") <= 2, plan
    assert "partial_count" in plan or "partial_sum" in plan, plan


def test_boilerplate_plan_broadcast_dict_no_window(spark):
    df = spark.createDataFrame([(0, "a\nb")], "id long, text string")
    plan = boilerplate_scan(df, "text", "id")._jdf.queryExecution() \
        .executedPlan().toString()
    assert "Window" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan  # the hot-line dictionary


def test_containment_plan_no_cartesian(spark):
    df = spark.createDataFrame([(1, "a b c d")], "id long, text string")
    res = containment_pairs(df, "text", "id")
    plan = res._jdf.queryExecution().executedPlan().toString()
    # the similarity self-join is an EQUI-join on the gram key
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "Window" not in plan, plan
