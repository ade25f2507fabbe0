"""Round-5 operators: drift onset, funnel, retention, join-cardinality
probe, FD profiling, audio trim bounds, timeline volume anomaly."""

import datetime

import numpy as np
import pytest
from pyspark.sql import functions as F

BASE = datetime.datetime(2024, 1, 1)


def _ts(day, sec=0):
    return BASE + datetime.timedelta(days=day, seconds=sec)


# ---------------------------------------------------------------------------
# chi_square_onset
# ---------------------------------------------------------------------------


def test_chi_square_onset_flags_shifted_bucket(spark):
    from pandasschema_spark.operators.drift import chi_square_onset
    from pandasschema_spark.resources import scope

    rows = []
    # 4 clean days: 10 a, 10 b each; day 2 doctored: 20 a, 0 b
    for day in range(4):
        na, nb = (20, 0) if day == 2 else (10, 10)
        rows += [(_ts(day, i), "a") for i in range(na)]
        rows += [(_ts(day, 100 + i), "b") for i in range(nb)]
    df = spark.createDataFrame(rows, "ts: timestamp, cat: string")
    with scope():
        out = chi_square_onset(df, "ts", "cat", bucket_s=86_400)
        got = {r["bucket_start"]: r for r in out.collect()}
    assert len(got) == 4
    day2 = [r for b, r in sorted(got.items())][2]
    clean = [r for b, r in sorted(got.items())][0]
    # every bucket sees the GLOBAL category set
    assert all(r["k"] == 2 for r in got.values())
    assert all(r["n_bucket"] == 20 and r["n_rest"] == 60 for r in got.values())
    assert all(r["chi2_den"] == 20 * 60 for r in got.values())
    # doctored day: a=20,b=0 vs rest a=30,b=30 -> large stat
    assert day2["chi2_num"] / day2["chi2_den"] > 10
    # clean day vs (clean + doctored rest) drifts a little, but far less
    assert clean["chi2_num"] < day2["chi2_num"] / 4


def test_chi_square_onset_counts_vanished_category(spark):
    from pandasschema_spark.operators.drift import chi_square_onset
    from pandasschema_spark.resources import scope

    # category 'b' exists globally but is absent from day 1 entirely:
    # its zero cell must still contribute (0*nb - b*na)^2 / g
    rows = [(_ts(0, i), c) for i, c in enumerate(["a"] * 5 + ["b"] * 5)]
    rows += [(_ts(1, i), "a") for i in range(10)]
    df = spark.createDataFrame(rows, "ts: timestamp, cat: string")
    with scope():
        out = chi_square_onset(df, "ts", "cat", bucket_s=86_400)
        day1 = {r["bucket_start"]: r for r in out.collect()}[
            int(_ts(1).timestamp())]
    assert day1["k"] == 2  # global categories, not bucket-local
    # a: a_j=10, b_j=5, na=10, nb=10 -> (100-50)^2/15 = 166
    # b: a_j=0,  b_j=5            -> (0-50)^2/5    = 500
    assert day1["chi2_num"] == (50 * 50) // 15 + (50 * 50) // 5
    assert day1["chi2_den"] == 100


def test_chi_square_onset_rejects_bad_bucket(spark):
    from pandasschema_spark.operators.drift import chi_square_onset

    df = spark.createDataFrame([], "ts: timestamp, cat: string")
    with pytest.raises(ValueError):
        chi_square_onset(df, "ts", "cat", bucket_s=0)


# ---------------------------------------------------------------------------
# funnel_counts
# ---------------------------------------------------------------------------


def _funnel(spark, events):
    from pandasschema_spark.operators.sessions import funnel_counts

    df = spark.createDataFrame(
        events, "user_id: long, event_type: string, ts: timestamp, event_id: long")
    out = funnel_counts(df, ["view", "click", "buy"],
                        max_events_per_user=None)
    return {r["stage"]: r["n_users"] for r in out.collect()}


def test_funnel_orders_strictly(spark):
    got = _funnel(spark, [
        # user 1 converts fully in order
        (1, "view", _ts(0, 1), 1), (1, "click", _ts(0, 2), 2), (1, "buy", _ts(0, 3), 3),
        # user 2: click BEFORE view -> click does not convert; buy after
        # view alone (no converted click) does not convert either
        (2, "click", _ts(0, 1), 4), (2, "view", _ts(0, 2), 5), (2, "buy", _ts(0, 3), 6),
        # user 3: view only
        (3, "view", _ts(0, 1), 7),
    ])
    assert got == {"view": 3, "click": 1, "buy": 1}


def test_funnel_breaks_timestamp_ties_by_event_id(spark):
    same = _ts(0, 1)
    got = _funnel(spark, [
        (1, "view", same, 1), (1, "click", same, 2),  # id order: converts
        (2, "click", same, 3), (2, "view", same, 4),  # reversed: does not
    ])
    assert got == {"view": 2, "click": 1, "buy": 0}


def test_funnel_monotone_on_real_shape(spark):
    got = _funnel(spark, [
        (u, t, _ts(0, 10 * i), u * 100 + i)
        for u in range(1, 8)
        for i, t in enumerate(["view", "click", "buy", "view", "click"])
    ])
    assert got["view"] >= got["click"] >= got["buy"]


def test_funnel_requires_stages(spark):
    from pandasschema_spark.operators.sessions import funnel_counts

    df = spark.createDataFrame([], "user_id: long, event_type: string, "
                                   "ts: timestamp, event_id: long")
    with pytest.raises(ValueError):
        funnel_counts(df, [])


# ---------------------------------------------------------------------------
# retention_cohorts
# ---------------------------------------------------------------------------


def test_retention_matrix(spark):
    from pandasschema_spark.operators.sessions import retention_cohorts

    rows = [
        (1, _ts(0)), (1, _ts(0, 30)), (1, _ts(2)),   # cohort d0, returns d2
        (2, _ts(0)),                                  # cohort d0, never returns
        (3, _ts(1)), (3, _ts(2)), (3, _ts(3)),        # cohort d1, returns d2, d3
    ]
    df = spark.createDataFrame(rows, "user_id: long, ts: timestamp")
    out = retention_cohorts(df, bucket_s=86_400)
    got = {(r["cohort_start"], r["period"]): r["n_users"] for r in out.collect()}
    d0, d1 = int(_ts(0).timestamp()), int(_ts(1).timestamp())
    assert got == {
        (d0, 0): 2, (d0, 2): 1,
        (d1, 0): 1, (d1, 1): 1, (d1, 2): 1,
    }


# ---------------------------------------------------------------------------
# join_cardinality
# ---------------------------------------------------------------------------


def test_join_cardinality_predicts_exact_join_size(spark):
    from pandasschema_spark.operators.joins import join_cardinality
    from pandasschema_spark.resources import scope

    a = spark.createDataFrame(
        [(k,) for k in ["x"] * 5 + ["y"] * 3 + ["z"] * 2 + [None]], "k: string")
    b = spark.createDataFrame(
        [(k,) for k in ["x"] * 4 + ["y"] * 6 + ["w"] * 9 + [None]], "k: string")
    with scope():
        out = join_cardinality(a, "k", b, "k", top_k=10)
        rows = out.collect()
    actual = a.join(b, "k").count()          # NULLs never match
    assert all(r["total_rows"] == actual for r in rows)
    got = {r["key"]: r for r in rows}
    assert set(got) == {"x", "y"}            # z/w unmatched -> no pair row
    assert got["x"]["pair_rows"] == 20 and got["y"]["pair_rows"] == 18
    assert rows[0]["key"] == "x"             # ordered by pair desc
    assert got["x"]["share_ppm"] == 20 * 1_000_000 // 38


def test_join_cardinality_top_k_truncates_deterministically(spark):
    from pandasschema_spark.operators.joins import join_cardinality
    from pandasschema_spark.resources import scope

    rows = [(str(k),) for k in range(10) for _ in range(2)]
    df = spark.createDataFrame(rows, "k: string")
    with scope():
        out = join_cardinality(df, "k", df, "k", top_k=3)
        got = out.collect()
    # equal products everywhere -> key asc tie-break
    assert [r["key"] for r in got] == ["0", "1", "2"]
    assert all(r["pair_rows"] == 4 and r["total_rows"] == 40 for r in got)


# ---------------------------------------------------------------------------
# fd_profile
# ---------------------------------------------------------------------------


def test_fd_profile_ranks_hypotheses(spark):
    from pandasschema_spark.operators.colstats import fd_profile

    rows = [
        (1, "b1", "m1"), (2, "b1", "m1"), (3, "b1", "m2"),  # near-FD: 1 bad
        (4, "b2", "m3"), (5, "b2", "m3"),                   # clean
        (6, None, "m4"),                                    # NULL det skipped
    ]
    df = spark.createDataFrame(rows, "id: long, brand: string, mfgr: string")
    out = fd_profile(df, [("brand", "mfgr"), ("id", "mfgr")])
    got = {(r["det_col"], r["dep_col"]): r for r in out.collect()}
    near = got[("brand", "mfgr")]
    assert near["n_rows"] == 5 and near["n_det"] == 2
    assert near["n_violations"] == 1
    assert near["error_ppm"] == 1_000_000 // 5
    exact = got[("id", "mfgr")]
    assert exact["n_rows"] == 6 and exact["n_violations"] == 0


def test_fd_profile_null_dependent_is_a_value(spark):
    from pandasschema_spark.operators.colstats import fd_profile

    df = spark.createDataFrame(
        [("a", "x"), ("a", None)], "det: string, dep: string")
    out = fd_profile(df, [("det", "dep")]).collect()[0]
    assert out["n_violations"] == 1  # x vs NULL IS two answers


def test_fd_profile_requires_candidates(spark):
    from pandasschema_spark.operators.colstats import fd_profile

    df = spark.createDataFrame([("a",)], "c: string")
    with pytest.raises(ValueError):
        fd_profile(df, [])


# ---------------------------------------------------------------------------
# trim_bounds
# ---------------------------------------------------------------------------


def _clip(pcm16):
    return np.asarray(pcm16, dtype="<i2").tobytes()


def test_trim_bounds_runs(spark):
    from pandasschema_spark.operators.audio import trim_bounds

    sr = 1000  # frame_ms=10 -> fl = 10 samples
    tone = [1000, -1000] * 5  # one loud frame
    z = [0] * 10              # one silent frame
    rows = [
        ("lead", _clip(z * 2 + tone * 3), sr),        # 2 leading
        ("trail", _clip(tone * 3 + z), sr),           # 1 trailing
        ("interior", _clip(tone + z * 3 + tone), sr),  # interior run of 3
        ("all", _clip(z * 4), sr),                    # fully silent
        ("none", _clip(tone * 2), sr),
        ("empty", b"", sr),
    ]
    df = spark.createDataFrame(rows, "clip_id: string, bytes: binary, sr_hz: int")
    got = {r["clip_id"]: r for r in trim_bounds(df).collect()}
    assert (got["lead"]["lead_silent"], got["lead"]["trail_silent"],
            got["lead"]["max_silent_run"]) == (2, 0, 2)
    assert (got["trail"]["lead_silent"], got["trail"]["trail_silent"]) == (0, 1)
    assert (got["interior"]["lead_silent"], got["interior"]["trail_silent"],
            got["interior"]["max_silent_run"]) == (0, 0, 3)
    assert (got["all"]["lead_silent"], got["all"]["trail_silent"],
            got["all"]["max_silent_run"], got["all"]["n_frames"]) == (4, 4, 4, 4)
    assert got["none"]["max_silent_run"] == 0
    assert got["empty"]["n_frames"] == 0


def test_trim_bounds_matches_frame_silence_totals(spark):
    """Shared frame rule: trim_bounds' runs and frame_silence's counts
    must agree on the same clips (the silent frames ARE the runs)."""
    from pandasschema_spark.operators.audio import frame_silence, trim_bounds
    from pandasschema_spark.sources.datagen import audio_quality_clips_df

    df = audio_quality_clips_df(spark, 700, seed=42, partitions=4)
    fs = {r["clip_id"]: r for r in frame_silence(df).collect()}
    tb = {r["clip_id"]: r for r in trim_bounds(df).collect()}
    assert set(fs) == set(tb)
    for cid, r in tb.items():
        assert r["n_frames"] == fs[cid]["n_frames"]
        # lead + trail never exceed the total silent count; a fully
        # silent clip counts its single run from both ends
        total = fs[cid]["n_silent_frames"]
        assert r["max_silent_run"] <= total
        if r["lead_silent"] != r["n_frames"]:
            assert r["lead_silent"] + r["trail_silent"] <= total


# ---------------------------------------------------------------------------
# timeline_anomaly
# ---------------------------------------------------------------------------


def test_timeline_anomaly_flags_outage_and_zero_day(spark):
    from pandasschema_spark.operators.profile import timeline_anomaly
    from pandasschema_spark.resources import scope

    rows = []
    for day in range(9):
        n = {4: 2, 6: 0}.get(day, 10)  # day 4 outage, day 6 silent
        rows += [(_ts(day, i),) for i in range(n)]
    df = spark.createDataFrame(rows, "ts: timestamp")
    with scope():
        out = timeline_anomaly(df, "ts", bucket_s=86_400, k_tenths=50)
        got = {r["bucket_start"]: r for r in out.collect()}
    d4, d6 = int(_ts(4).timestamp()), int(_ts(6).timestamp())
    # median 10, mad 0 -> any deviation flags; the zero-filled spine
    # surfaces day 6 even though it has NO rows at all
    assert set(got) == {d4, d6}
    assert got[d6]["n_events"] == 0 and got[d6]["dev"] == 10
    assert got[d4]["med"] == 10 and got[d4]["mad"] == 0


def test_timeline_anomaly_quiet_timeline_is_clean(spark):
    from pandasschema_spark.operators.profile import timeline_anomaly
    from pandasschema_spark.resources import scope

    # counts 10..15 -> median 12, MAD 1; max deviation 3 < 5 MADs
    rows = [(_ts(day, i),) for day in range(6) for i in range(10 + day)]
    df = spark.createDataFrame(rows, "ts: timestamp")
    with scope():
        out = timeline_anomaly(df, "ts", bucket_s=86_400, k_tenths=50)
        assert out.count() == 0


def test_timeline_anomaly_empty(spark):
    from pandasschema_spark.operators.profile import timeline_anomaly

    df = spark.createDataFrame([], "ts: timestamp")
    assert timeline_anomaly(df, "ts").count() == 0


# ---------------------------------------------------------------------------
# ks_onset
# ---------------------------------------------------------------------------


def test_ks_onset_flags_mean_shift(spark):
    from pandasschema_spark.operators.drift import ks_onset
    from pandasschema_spark.resources import scope

    rows = []
    for day in range(4):
        shift = 5 if day == 2 else 0  # day 2 values shift up
        rows += [(_ts(day, i), (i % 10) + shift) for i in range(20)]
    df = spark.createDataFrame(rows, "ts: timestamp, v: long")
    with scope():
        out = ks_onset(df, "ts", "v", bucket_s=86_400)
        got = {r["bucket_start"]: r for r in out.collect()}
    assert len(got) == 4
    assert all(r["n_bucket"] == 20 and r["n_rest"] == 60 for r in got.values())
    by_day = [r for _, r in sorted(got.items())]
    # shifted day: at edge v=4, bucket CDF=0 vs rest CDF=30/60 -> gap
    # 0*60 - 30*20 = 600; clean days see at most the dilution backwash
    assert by_day[2]["ks_num"] == 600
    assert by_day[0]["ks_num"] < 600
    assert all(r["ks_den"] == 1200 for r in by_day)


def test_ks_onset_uniform_is_flat(spark):
    from pandasschema_spark.operators.drift import ks_onset
    from pandasschema_spark.resources import scope

    rows = [(_ts(day, i), i % 5) for day in range(3) for i in range(10)]
    df = spark.createDataFrame(rows, "ts: timestamp, v: long")
    with scope():
        out = ks_onset(df, "ts", "v", bucket_s=86_400)
        assert all(r["ks_num"] == 0 for r in out.collect())


# ---------------------------------------------------------------------------
# duplication_rate
# ---------------------------------------------------------------------------


def test_duplication_rate_first_seen(spark):
    from pandasschema_spark.operators.dedup import duplication_rate

    rows = [
        (0, "alpha"), (1, "beta"), (2, "alpha"),      # bucket 0: 1 dup
        (10, "ALPHA  "), (11, "gamma"),               # normalized dup of 0
        (20, None), (21, "beta"),                     # NULL excluded; dup
    ]
    df = spark.createDataFrame(rows, "id: long, text: string")
    out = duplication_rate(df, "text", "id", bucket_size=10)
    got = {r["bucket_start"]: r for r in out.collect()}
    assert got[0]["n_rows"] == 3 and got[0]["n_dups"] == 1
    assert got[0]["dup_ppm"] == 1_000_000 // 3
    assert got[10]["n_dups"] == 1                     # case/ws-normalized
    assert got[20]["n_rows"] == 1 and got[20]["n_dups"] == 1


def test_duplication_rate_agrees_with_exact_duplicate_ids(spark):
    from pandasschema_spark.operators.dedup import (
        duplication_rate, exact_duplicate_ids)

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    total_dups = exact_duplicate_ids(docs, "text", "doc_id").count()
    rate = duplication_rate(docs, "text", "doc_id", bucket_size=100)
    assert rate.agg(F.sum("n_dups")).collect()[0][0] == total_dups


def test_duplication_rate_rejects_bad_bucket(spark):
    from pandasschema_spark.operators.dedup import duplication_rate

    df = spark.createDataFrame([(1, "a")], "id: long, text: string")
    with pytest.raises(ValueError):
        duplication_rate(df, "text", "id", bucket_size=0)


# ---------------------------------------------------------------------------
# orphan_rate_timeline
# ---------------------------------------------------------------------------


def test_orphan_rate_timeline_separates_null_from_orphan(spark):
    from pandasschema_spark.operators.referential import orphan_rate_timeline

    dim = spark.createDataFrame([(1,), (2,)], "k: long")
    rows = [
        (_ts(0), 1), (_ts(0, 1), 2), (_ts(0, 2), 9),   # day 0: 1 orphan / 3
        (_ts(1), None), (_ts(1, 1), None),             # day 1: only NULLs
        (_ts(2), 9), (_ts(2, 1), 9),                   # day 2: all orphans
    ]
    df = spark.createDataFrame(rows, "ts: timestamp, uid: long")
    out = orphan_rate_timeline(df, "uid", "ts", dim, "k", bucket_s=86_400)
    got = {r["bucket_start"]: r for r in out.collect()}
    d0 = got[int(_ts(0).timestamp())]
    assert (d0["n_rows"], d0["n_orphans"], d0["n_null"]) == (3, 1, 0)
    assert d0["orphan_ppm"] == 1_000_000 // 3
    d1 = got[int(_ts(1).timestamp())]
    assert (d1["n_orphans"], d1["n_null"], d1["orphan_ppm"]) == (0, 2, 0)
    d2 = got[int(_ts(2).timestamp())]
    assert d2["orphan_ppm"] == 1_000_000


def test_orphan_rate_timeline_rejects_bad_bucket(spark):
    from pandasschema_spark.operators.referential import orphan_rate_timeline

    df = spark.createDataFrame([], "ts: timestamp, uid: long")
    dim = spark.createDataFrame([(1,)], "k: long")
    with pytest.raises(ValueError):
        orphan_rate_timeline(df, "uid", "ts", dim, "k", bucket_s=0)


# ---------------------------------------------------------------------------
# inter_arrival_profile
# ---------------------------------------------------------------------------


def test_inter_arrival_profile_median_and_suspects(spark):
    from pandasschema_spark.operators.sessions import inter_arrival_profile

    rows = []
    # bot: 11 events 1s apart -> 10 gaps, median 1_000_000 us
    rows += [(1, _ts(0, i), i) for i in range(11)]
    # human: events at 0, 10, 100, 1000 s -> gaps 10, 90, 900 s, median 90 s
    rows += [(2, _ts(0, s), 100 + j) for j, s in enumerate([0, 10, 100, 1000])]
    # single event: NULL median
    rows += [(3, _ts(0), 200)]
    df = spark.createDataFrame(rows, "user_id: long, ts: timestamp, event_id: long")
    prof = {r["user_id"]: r for r in inter_arrival_profile(df).collect()}
    assert prof[1]["n_events"] == 11 and prof[1]["median_gap_us"] == 1_000_000
    assert prof[2]["median_gap_us"] == 90_000_000
    assert prof[3]["median_gap_us"] is None
    sus = inter_arrival_profile(
        df, max_median_gap_us=2_000_000, min_events=10).collect()
    assert [r["user_id"] for r in sus] == [1]


def test_inter_arrival_even_gap_count_takes_lower_median(spark):
    from pandasschema_spark.operators.sessions import inter_arrival_profile

    # gaps 1s, 3s -> ceil-rank (2+1) div 2 = 1 -> lower median 1s
    rows = [(1, _ts(0, 0), 1), (1, _ts(0, 1), 2), (1, _ts(0, 4), 3)]
    df = spark.createDataFrame(rows, "user_id: long, ts: timestamp, event_id: long")
    r = inter_arrival_profile(df).collect()[0]
    assert r["median_gap_us"] == 1_000_000


# ---------------------------------------------------------------------------
# vocab_novelty
# ---------------------------------------------------------------------------


def test_vocab_novelty_first_seen(spark):
    from pandasschema_spark.operators.text import vocab_novelty

    rows = [
        (0, "the cat sat"),           # bucket 0: 3 new types
        (1, "the cat ran"),           # +1 new (ran)
        (10, "the dog"),              # bucket 10: dog new, the old
        (20, "THE CAT"),              # bucket 20: nothing new (case-folded)
        (30, None),                   # ignored
    ]
    df = spark.createDataFrame(rows, "id: long, text: string")
    got = {r["bucket_start"]: r for r in
           vocab_novelty(df, "text", "id", bucket_size=10).collect()}
    b0 = got[0]
    assert (b0["n_tokens"], b0["n_types"], b0["n_new_types"]) == (6, 4, 4)
    assert got[10]["n_new_types"] == 1 and got[10]["n_types"] == 2
    assert got[20]["n_new_types"] == 0
    assert got[20]["novelty_ppm"] == 0
    assert 30 not in got


def test_vocab_novelty_rejects_bad_bucket(spark):
    from pandasschema_spark.operators.text import vocab_novelty

    df = spark.createDataFrame([(1, "a")], "id: long, text: string")
    with pytest.raises(ValueError):
        vocab_novelty(df, "text", "id", bucket_size=0)


# ---------------------------------------------------------------------------
# group_quantiles
# ---------------------------------------------------------------------------


def test_group_quantiles_per_group_ceil_rank(spark):
    from pandasschema_spark.operators.colstats import group_quantiles

    rows = [("a", v) for v in [1, 2, 3, 4]] + [("b", v) for v in [10, 20, 30]]
    df = spark.createDataFrame(rows, "g: string, v: long")
    out = group_quantiles(df, "g", "v", [500, 1000])
    got = {(r["grp"], r["q_pm"]): r["value"] for r in out.collect()}
    # a: n=4, p50 rank ceil(2)=2 -> 2; p100 rank 4 -> 4
    # b: n=3, p50 rank ceil(1.5)=2 -> 20; p100 -> 30
    assert got == {("a", 500): 2, ("a", 1000): 4,
                   ("b", 500): 20, ("b", 1000): 30}


def test_group_quantiles_null_group_and_values(spark):
    from pandasschema_spark.operators.colstats import group_quantiles

    rows = [(None, 1), (None, 3), ("a", None), ("a", 7)]
    df = spark.createDataFrame(rows, "g: string, v: long")
    out = group_quantiles(df, "g", "v", [500])
    got = {r["grp"]: (r["n"], r["value"]) for r in out.collect()}
    assert got[None] == (2, 1)   # NULL group is its own cohort
    assert got["a"] == (1, 7)    # NULL values excluded from n


def test_group_quantiles_rejects_bad_q(spark):
    from pandasschema_spark.operators.colstats import group_quantiles

    df = spark.createDataFrame([("a", 1)], "g: string, v: long")
    with pytest.raises(ValueError):
        group_quantiles(df, "g", "v", [0])


def test_suggest_nan_range_and_semantic_dates(spark):
    """A NaN-bearing double column must not get an inrange '[mn, nan]'
    suggestion, and shape-valid-but-invalid dates ('2024-99-99') must
    not evidence a dateformat rule — suggested checks must PASS on
    today's data by contract."""
    from pandasschema_spark.operators.suggest import suggest_rules

    df = spark.createDataFrame(
        [(1.0, "2024-01-15"), (float("nan"), "2024-99-99")],
        "x double, d string")
    got = {(r["column"], r["check"]) for r in suggest_rules(df, ["x", "d"]).collect()}
    assert ("x", "inrange") not in got
    assert ("d", "dateformat") not in got
    clean = spark.createDataFrame(
        [(1.0, "2024-01-15"), (2.0, "2023-12-31")], "x double, d string")
    got2 = {(r["column"], r["check"]) for r in suggest_rules(clean, ["x", "d"]).collect()}
    assert ("x", "inrange") in got2 and ("d", "dateformat") in got2
