"""Clips-table suite: deterministic synthesis oracle, injected violations,
PCM SNR invariant, drift checks, Schema.validate's uniqueness vs the
window oracle."""

import numpy as np
import pytest
from pyspark.sql import functions as F, types as T

from pandasschema_spark import Column, Schema
from pandasschema_spark.clips_suite import validate_clips
from pandasschema_spark.functions import audio as A
from pandasschema_spark.operators import drift as D
from pandasschema_spark.operators.distinct import distinct_violations_window_oracle
from pandasschema_spark.sources import datagen as G
from pandasschema_spark.validation import IsDistinctValidation

N = 7000  # covers all six injection classes: 997,1994,2991,3988,4985,5982,6979
SEED = 42


@pytest.fixture(scope="module")
def clips(spark):
    df = G.clips_df(spark, N, SEED, partitions=8).cache()
    df.count()
    yield df
    df.unpersist()


def test_synthesis_deterministic(spark):
    a = G.clips_df(spark, 50, SEED, partitions=4).orderBy("row_ord").collect()
    b = G.clips_df(spark, 50, SEED, partitions=2).orderBy("row_ord").collect()
    assert [r["clip_id"] for r in a] == [r["clip_id"] for r in b]
    assert [bytes(r["bytes"]) for r in a] == [bytes(r["bytes"]) for r in b]
    assert [r["transcript"] for r in a] == [r["transcript"] for r in b]


def test_pcm_snr_headroom():
    # int16 quantization leaves huge SNR headroom over the 30 dB threshold
    for i in [0, 1, 12345]:
        f = A.clip_fields(SEED, i)
        ref = A.synth_pcm(f["sr_hz"], f["dur_ms"], f["f1"], f["f2"], f["p1"], f["p2"], f["amp"])
        dec = A.decode_pcm(A.synth_bytes(SEED, i))
        assert A.snr_db(ref, dec) > 80
        assert len(dec) * 2 == A.expected_len_bytes(f["sr_hz"], f["dur_ms"])


def _rows_for(violations, column, message_part):
    return sorted(
        r["row"]
        for r in violations.where(
            (F.col("column") == column) & F.col("message").contains(message_part)
        ).collect()
    )


def test_full_suite_violations(spark, clips):
    res = validate_clips(clips, G.codec_dim(spark), seed=SEED)
    v = res.violations.cache()

    exp = G.expected_violations(N)
    # class 1: invalid sr_hz
    assert _rows_for(v, "sr_hz", "legal options") == exp[1]
    # class 2: dur_ms = 0
    assert _rows_for(v, "dur_ms", "was not in the range") == exp[2]
    # class 3: unknown codec -> both the in-list and the referential check
    assert _rows_for(v, "codec", "legal options") == exp[3]
    assert _rows_for(v, "codec", "reference table") == exp[3]
    # class 4: null transcript -> NotNull + oracle-equality (pattern passes via 'nan' quirk)
    assert _rows_for(v, "transcript", "is null") == exp[4]
    # class 5: illegal chars -> pattern + oracle-equality
    assert _rows_for(v, "transcript", "does not match the pattern") == exp[5]
    # class 0: duplicated clip_id -> keep='first' flags the later ordinal only
    assert _rows_for(v, "clip_id", "not unique") == exp[0]

    # oracle-equality violations: classes 4,5 plus any dup rows whose
    # borrowed clip_id points at a row with a different transcript
    expected_oracle = set(exp[4]) | set(exp[5])
    for i in exp[0]:
        if A.clip_fields(SEED, i - 1)["transcript"] != A.clip_fields(SEED, i)["transcript"]:
            expected_oracle.add(i)
    assert set(_rows_for(v, "transcript", "synthesis oracle")) == expected_oracle

    # PCM integrity: classes 1 (sr mismatch), 2 (dur mismatch), plus dup rows
    # whose borrowed ordinal has different sr/dur
    expected_pcm = set(exp[1]) | set(exp[2])
    for i in exp[0]:
        fa, fb = A.clip_fields(SEED, i - 1), A.clip_fields(SEED, i)
        if (fa["sr_hz"], fa["dur_ms"]) != (fb["sr_hz"], fb["dur_ms"]):
            expected_pcm.add(i)
        else:
            # same shape: decoded audio is row i's, oracle is row i-1's -> SNR tanks
            expected_pcm.add(i)
    assert set(_rows_for(v, "bytes", "synthesis oracle")) == expected_pcm
    v.unpersist()


def test_chi_square_drift_clean_vs_perturbed(spark, clips):
    # observed sr distribution is uniform over 4 rates (hash-derived)
    expected = {8000: 0.25, 16000: 0.25, 44100: 0.25, 48000: 0.25}
    clean = clips.where(F.col("sr_hz").isin([8000, 16000, 44100, 48000]))
    r = D.chi_square_drift(clean, "sr_hz", expected, alpha=0.001)
    assert not r.drifted, (r.statistic, r.p_value)

    # perturbed: drop half the 8000Hz rows -> must trip
    drifted_df = clean.where((F.col("sr_hz") != 8000) | (F.col("row_ord") % 2 == 0))
    r2 = D.chi_square_drift(drifted_df, "sr_hz", expected, alpha=0.001)
    assert r2.drifted
    assert r2.warning() is not None
    # unexpected category inflates the statistic
    r3 = D.chi_square_drift(clips, "sr_hz", expected, alpha=0.001)
    assert r3.statistic > r.statistic


def test_ks_drift_dur(spark, clips):
    # dur_ms ~ uniform over [40, 201) by construction
    probs = [0.1] * 10
    r = D.ks_drift(clips.where(F.col("dur_ms") > 0), "dur_ms", probs, 40, 201, alpha=0.001)
    assert not r.drifted, (r.statistic, r.p_value)
    # squashing durations into one decile must trip
    squashed = clips.where((F.col("dur_ms") > 0) & (F.col("dur_ms") < 60))
    r2 = D.ks_drift(squashed, "dur_ms", probs, 40, 201, alpha=0.001)
    assert r2.drifted


def test_salted_distinct_matches_window_oracle(spark):
    # random skewed duplicates: 30% of rows share 5 hot keys
    n = 5000
    df = (
        spark.range(n)
        .withColumn(
            "v",
            F.when(F.col("id") % 10 < 3, (F.col("id") % 5).cast("string"))
            .otherwise(F.col("id").cast("string")),
        )
        .withColumn("r", F.col("id"))
    )
    # the production path: Schema.validate -> global_fail_rows ->
    # duplicate_rows -> emit_violations
    fast = (Schema([Column("v", [IsDistinctValidation()])])
            .validate(df, columns=["v"], row_key="r").violations.select("row").collect())
    oracle = distinct_violations_window_oracle(df, "v", "r").select("row").collect()
    assert sorted(r["row"] for r in fast) == sorted(r["row"] for r in oracle)


def test_distinct_nulls_count_as_equal(spark):
    sch = T.StructType([
        T.StructField("v", T.StringType()), T.StructField("r", T.LongType())
    ])
    df = spark.createDataFrame([(None, 0), (None, 1), ("a", 2)], sch)
    rows = (Schema([Column("v", [IsDistinctValidation()])])
            .validate(df, columns=["v"], row_key="r").violations.collect())
    assert [r["row"] for r in rows] == [1]
    assert rows[0]["value"] == "nan"


def test_split_field_accessors_match_clip_fields():
    # clip_synth_params / clip_transcript are per-check fast paths of
    # clip_fields (the spec): formula drift between them would silently
    # change which rows the suite's Arrow checks pass
    from pandasschema_spark.functions import audio as A

    for i in list(range(300)) + [10_000, 123_456, 2**31]:
        f = A.clip_fields(42, i)
        assert A.clip_synth_params(42, i) == (
            f["sr_hz"], f["dur_ms"], f["f1"], f["f2"],
            f["p1"], f["p2"], f["amp"])
        assert A.clip_transcript(42, i) == f["transcript"]
