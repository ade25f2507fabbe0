"""Gap sessionization + clean/quarantine split."""

import datetime as dt

import pytest

from pyspark.sql import functions as F

from pandasschema_spark import Column, Schema
from pandasschema_spark.operators.sessions import session_stats, sessionize
from pandasschema_spark.validation import InRangeValidation


def _events(spark):
    t0 = dt.datetime(2024, 1, 1)
    rows = [
        # user 1: two sessions (gap of 61 min between event 2 and 3)
        (0, t0, 1), (1, t0 + dt.timedelta(minutes=10), 1),
        (2, t0 + dt.timedelta(minutes=29), 1),
        (3, t0 + dt.timedelta(minutes=90), 1),
        # user 2: one session, events out of id order
        (5, t0 + dt.timedelta(minutes=5), 2), (4, t0, 2),
    ]
    return spark.createDataFrame(rows, "event_id long, ts timestamp, user_id long")


def test_sessionize_labels(spark):
    out = sessionize(_events(spark)).collect()
    by_id = {r["event_id"]: (r["session_no"], r["session_id"]) for r in out}
    assert by_id[0] == (1, 0) and by_id[1] == (1, 0) and by_id[2] == (1, 0)
    assert by_id[3] == (2, 3)
    assert by_id[4] == (1, 4) and by_id[5] == (1, 4)


def test_session_stats(spark):
    out = {(r["user_id"], r["session_id"]): (r["n_events"], r["duration_us"])
           for r in session_stats(_events(spark)).collect()}
    assert out[(1, 0)] == (3, 29 * 60 * 1_000_000)
    assert out[(1, 3)] == (1, 0)
    assert out[(2, 4)] == (2, 5 * 60 * 1_000_000)


def test_gap_boundary_is_strict(spark):
    # gap EXACTLY equal to the threshold stays in the same session
    t0 = dt.datetime(2024, 1, 1)
    df = spark.createDataFrame(
        [(0, t0, 1), (1, t0 + dt.timedelta(minutes=30), 1)],
        "event_id long, ts timestamp, user_id long")
    assert session_stats(df).count() == 1


def test_split_clean_quarantine(spark, scoped):
    df = spark.createDataFrame(
        [(1, 5.0), (2, 50.0), (3, None), (4, 7.0)], "k long, x double")
    schema = Schema([Column("x", [InRangeValidation(0, 10)])])
    res = schema.validate(df, columns=["x"], row_key="k")
    clean, quar = res.split(df, "k")
    assert {r["k"] for r in clean.collect()} == {1, 4}
    assert {r["k"] for r in quar.collect()} == {2, 3}
    # every row lands on exactly one side
    assert clean.count() + quar.count() == df.count()


def test_split_early_return_raises(spark):
    import pytest

    from pandasschema_spark.errors import PanSchArgumentError

    df = spark.createDataFrame([(1, 2.0, "x")], "k long, x double, y string")
    schema = Schema([Column("x", [InRangeValidation(0, 10)])])
    res = schema.validate(df)  # column-count precheck fails (1 vs 3)
    assert res.is_early_return()
    with pytest.raises(PanSchArgumentError, match="early-returned"):
        res.split(df, "k")


def test_hot_user_cap_drops_bot(spark):
    """A user above max_events_per_user vanishes entirely (bot filter);
    cap=None keeps everyone; normal users are untouched either way."""
    t0 = dt.datetime(2024, 1, 1)
    rows = [(i, t0 + dt.timedelta(seconds=i), 99) for i in range(20)]
    rows += [(100, t0, 1), (101, t0 + dt.timedelta(minutes=5), 1)]
    df = spark.createDataFrame(rows, "event_id long, ts timestamp, user_id long")
    capped = session_stats(df, max_events_per_user=10)
    assert {r["user_id"] for r in capped.collect()} == {1}
    exact = session_stats(df, max_events_per_user=None)
    assert {r["user_id"] for r in exact.collect()} == {1, 99}
    # cap at the exact count is NOT exceeded -> user kept
    at_cap = session_stats(df, max_events_per_user=20)
    assert {r["user_id"] for r in at_cap.collect()} == {1, 99}


def test_split_requires_integral_key(spark):
    import pytest

    from pandasschema_spark.errors import PanSchArgumentError

    df = spark.createDataFrame([("a", 50.0)], "k string, x double")
    schema = Schema([Column("x", [InRangeValidation(0, 10)])])
    res = schema.validate(df, columns=["x"], row_key="k")
    with pytest.raises(PanSchArgumentError, match="integral"):
        res.split(df, "k")
    with pytest.raises(PanSchArgumentError, match="not in df"):
        res.split(df, "missing_key")


def test_split_null_key_routes_to_quarantine(spark, scoped):
    """A NULL row key can never match a join predicate; the row is
    unattributable and must ship in the QUARANTINE table, never clean."""
    df = spark.createDataFrame(
        [(1, 5.0), (None, 5.0), (None, 50.0), (2, 50.0)], "k long, x double")
    schema = Schema([Column("x", [InRangeValidation(0, 10)])])
    res = schema.validate(df, columns=["x"], row_key="k")
    clean, quar = res.split(df, "k")
    assert [r["k"] for r in clean.collect()] == [1]
    assert sorted([r["k"] for r in quar.collect()], key=lambda v: (v is None, v)) \
        == [2, None, None]
    assert clean.count() + quar.count() == df.count()


def test_rate_limit_violations(spark):
    from pandasschema_spark.operators.sessions import rate_limit_violations

    t0 = dt.datetime(2024, 1, 1)
    rows = [(i, t0 + dt.timedelta(seconds=10 * i), 1) for i in range(8)]
    rows += [(100, t0, 2), (101, t0 + dt.timedelta(minutes=5), 2)]
    df = spark.createDataFrame(rows, "event_id long, ts timestamp, user_id long")
    out = {(r["user_id"], r["window_start_us"]): r["n_events"]
           for r in rate_limit_violations(df, max_events=2).collect()}
    # user 1: minute 0 holds events at 0,10,...,50s (6 events), minute 1
    # holds 60,70s (2 events, not over); user 2 never exceeds
    base = int(t0.replace(tzinfo=dt.timezone.utc).timestamp()) * 1_000_000
    assert out == {(1, base): 6}
    assert rate_limit_violations(df, max_events=10).count() == 0


def test_hot_user_cap_is_null_safe(spark):
    """A NULL-user group above the cap (unauthenticated bots) must be
    dropped like any hot user — a plain equi-anti-join predicate never
    matches the NULL key and would silently exempt exactly that group."""
    t0 = dt.datetime(2024, 1, 1)
    rows = [(i, t0 + dt.timedelta(seconds=i), None) for i in range(20)]
    rows += [(100, t0, 1), (101, t0 + dt.timedelta(minutes=1), 1)]
    df = spark.createDataFrame(rows, "event_id long, ts timestamp, user_id long")
    capped = session_stats(df, max_events_per_user=10)
    assert {r["user_id"] for r in capped.collect()} == {1}
    exact = session_stats(df, max_events_per_user=None)
    assert {r["user_id"] for r in exact.collect()} == {1, None}


def test_ordering_violations(spark):
    from pandasschema_spark.operators.sessions import ordering_violations

    t0 = dt.datetime(2024, 1, 1)
    rows = [(0, t0, 1), (1, t0 + dt.timedelta(minutes=1), 1),
            (2, t0 - dt.timedelta(hours=1), 1),     # backward -> violation
            (3, t0 + dt.timedelta(minutes=2), 1),   # forward again: clean
            (10, t0, 2), (11, t0, 2)]               # equal ts: clean
    df = spark.createDataFrame(rows, "event_id long, ts timestamp, user_id long")
    out = ordering_violations(df).collect()
    assert [(r["user_id"], r["event_id"]) for r in out] == [(1, 2)]


def test_timeline_completeness_zero_fill(spark):
    from pandasschema_spark.operators.sessions import timeline_completeness

    df = spark.createDataFrame(
        [(i,) for i in (0, 5, 65, 250, 251, None)], "s: long"
    ).select(F.col("s").cast("timestamp").alias("ts"))
    got = {r["bucket_start"]: r["n_events"]
           for r in timeline_completeness(df, bucket_s=60).collect()}
    # span 0..240, five 60 s buckets; 120 and 180 are holes
    assert got == {0: 2, 60: 1, 120: 0, 180: 0, 240: 2}


def test_timeline_completeness_guards(spark):
    from pandasschema_spark.operators.sessions import timeline_completeness

    df = spark.createDataFrame([(0,), (10_000_000,)], "s: long").select(
        F.col("s").cast("timestamp").alias("ts")
    )
    with pytest.raises(ValueError, match="max_buckets"):
        timeline_completeness(df, bucket_s=1, max_buckets=1000)
    empty = spark.createDataFrame([], "ts: timestamp")
    assert timeline_completeness(empty).count() == 0


class TestIntervalOverlap:
    def test_overlap_matrix(self, spark):
        from pandasschema_spark.operators.sessions import interval_overlap_violations

        rows = [
            ("u1", 0, 10),    # base
            ("u1", 10, 20),   # touching: NOT overlap (half-open)
            ("u1", 15, 25),   # overlaps previous
            ("u1", 30, 40),
            ("u1", 32, 35),   # contained: overlaps
            ("u2", 0, 100),
            ("u2", 50, 60),   # contained in earlier long interval
            ("u3", 5, 6),     # lone: clean
        ]
        df = spark.createDataFrame(rows, "k string, s long, e long")
        out = sorted((r["k"], r["s"]) for r in
                     interval_overlap_violations(df, "k", "s", "e").collect())
        assert out == [("u1", 15), ("u1", 32), ("u2", 50)]

    def test_chain_flags_each_once(self, spark):
        from pandasschema_spark.operators.sessions import interval_overlap_violations

        # chain a-b-c where b overlaps a, c overlaps b (and a via running max)
        df = spark.createDataFrame(
            [("k", 0, 10), ("k", 5, 15), ("k", 12, 20)], "k string, s long, e long")
        out = interval_overlap_violations(df, "k", "s", "e").collect()
        assert sorted(r["s"] for r in out) == [5, 12]
        # prev_max_end is the RUNNING max, not just the previous row's end
        assert {r["s"]: r["prev_max_end"] for r in out} == {5: 10, 12: 15}

    def test_null_bounds_excluded_and_cap(self, spark):
        from pandasschema_spark.operators.sessions import interval_overlap_violations

        rows = [("k", None, 10), ("k", 0, None), ("k", 0, 10), ("k", 5, 8)]
        df = spark.createDataFrame(rows, "k string, s long, e long")
        assert interval_overlap_violations(df, "k", "s", "e").count() == 1
        # hot-key cap drops the whole key wholesale
        hot = spark.createDataFrame(
            [("h", i, i + 2) for i in range(10)], "k string, s long, e long")
        assert interval_overlap_violations(
            hot, "k", "s", "e", max_rows_per_key=5).count() == 0

    def test_single_exchange_no_cap_window(self, spark):
        from pandasschema_spark.operators.sessions import interval_overlap_violations

        df = spark.createDataFrame([("k", 0, 1)], "k string, s long, e long")
        plan = interval_overlap_violations(
            df, "k", "s", "e")._jdf.queryExecution().executedPlan().toString()
        assert plan.count("Window") == 1  # the running max only
