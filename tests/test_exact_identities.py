"""Identities between the forms of each exact statistic: an onset row is
the per-group two-sample statistic of its time bucket against the rest
of the data, the global quantile is the one-group quantile, and
timeline_anomaly's median and MAD are exact_quantiles at q = 500."""

import datetime

import pytest
from pyspark.sql import functions as F

from pandasschema_spark.resources import scope

BASE = datetime.datetime(2024, 1, 1)
DAY = 86_400


def _events(spark, per_day):
    """(ts, v): day d holds the values per_day[d], one second apart."""
    rows = [(BASE + datetime.timedelta(days=d, seconds=i), v)
            for d, values in enumerate(per_day) for i, v in enumerate(values)]
    return spark.createDataFrame(rows, "ts: timestamp, v: long")


# day 1 has no 2 and no 3: vanished categories of that bucket
PER_DAY = [[1] * 5 + [2] * 5 + [3],
           [1] * 10,
           [1] * 3 + [2] * 4 + [3] * 2 + [4]]


@pytest.mark.parametrize("onset_name,by_name,cols", [
    ("chi_square_onset", "chi_square_two_sample_by", ["k", "n_ref", "n_cand", "chi2_num", "chi2_den"]),
    ("ks_onset", "ks_two_sample_by", ["n_ref", "n_cand", "ks_num", "ks_den"]),
])
def test_onset_row_is_the_bucket_against_the_rest(spark, onset_name, by_name, cols):
    from pandasschema_spark.operators import drift
    from pandasschema_spark.operators.sessions import _epoch_bucket

    df = _events(spark, PER_DAY)
    onset_cols = [{"n_ref": "n_bucket", "n_cand": "n_rest"}.get(c, c) for c in cols]
    with scope():
        onset = {r["bucket_start"]: tuple(r[c] for c in onset_cols)
                 for r in getattr(drift, onset_name)(df, "ts", "v", bucket_s=DAY).collect()}
    tagged = df.withColumn("b", _epoch_bucket("ts", DAY)).withColumn("g", F.lit("all"))
    assert len(onset) == len(PER_DAY)
    for t, got in onset.items():
        row = getattr(drift, by_name)(tagged.where(F.col("b") == t),
                                      tagged.where(F.col("b") != t), "g", "v").collect()
        assert got == tuple(row[0][c] for c in cols), t
    day1 = int((BASE + datetime.timedelta(days=1)).timestamp())
    if onset_name == "chi_square_onset":
        assert onset[day1][0] == 4  # k counts the global categories


def test_exact_quantiles_equal_group_quantiles_of_one_group(spark):
    from pandasschema_spark.operators.colstats import exact_quantiles, group_quantiles

    values = [5, 1, 1, None, 9, 3, 3, 3, 7, None, 2, 8, 8]
    df = spark.createDataFrame([("g", v) for v in values], "g: string, v: long")
    qs = [1, 100, 250, 500, 501, 750, 999, 1000]
    cols = ["q_pm", "rank", "n", "value"]
    glob = sorted(tuple(r[c] for c in cols) for r in exact_quantiles(df, "v", qs).collect())
    grouped = group_quantiles(df, "g", "v", qs).collect()
    assert {r["grp"] for r in grouped} == {"g"}
    assert glob == sorted(tuple(r[c] for c in cols) for r in grouped)
    assert len(glob) == len(qs)


def test_timeline_anomaly_med_mad_are_exact_quantiles(spark):
    from pandasschema_spark.operators.colstats import exact_quantiles
    from pandasschema_spark.operators.profile import timeline_anomaly
    from pandasschema_spark.operators.sessions import timeline_completeness

    # 8 day buckets (an even count: the median is the lower middle), one
    # of them silent
    counts_per_day = [4, 9, 6, 0, 12, 5, 30, 7]
    df = _events(spark, [[0] * n for n in counts_per_day])
    with scope():
        out = timeline_anomaly(df, "ts", bucket_s=DAY, k_tenths=0).collect()
        counts = timeline_completeness(df, "ts", bucket_s=DAY)
        med = exact_quantiles(counts, "n_events", [500]).collect()[0]["value"]
        mad = exact_quantiles(counts, F.abs(F.col("n_events") - med), [500]) \
            .collect()[0]["value"]
    assert (med, mad) == (6, 2)
    assert out and {(r["med"], r["mad"]) for r in out} == {(med, mad)}
    assert len(out) == len(counts_per_day) - 1  # only the median bucket is not flagged
