"""operators/audio.py: PCM stats, frame silence, spectral fingerprint,
acoustic near-dup pairs, and the native cross-column validation.

Local numpy recomputation is the oracle for the float-free integer stats;
the injection rules of sources/datagen.py are the oracle for the defect
flags and the near-dup pair set (the same closed forms the DuckDB gate
re-derives via sha256)."""

import math
import struct

import numpy as np
import pytest
from pyspark.sql import functions as F

from pandasschema_spark import Column, Schema
from pandasschema_spark.functions import audio as A
from pandasschema_spark.operators.audio import (
    _fingerprint_one,
    _normalized_snr_db,
    acoustic_dup_pairs,
    audio_stats,
    frame_silence,
    spectral_fingerprint,
)
from pandasschema_spark.sources.datagen import (
    audio_injected_class,
    audio_quality_clips_df,
    expected_near_dup_pairs,
    near_dup_clips_df,
)
from pandasschema_spark.validation import CrossColumnExprValidation

N = 1500  # covers several of each audio-defect class (211-spaced)


@pytest.fixture(scope="module")
def quality_df(spark):
    return audio_quality_clips_df(spark, N, seed=42, partitions=4).cache()


def _local_pcm(i):
    """Recompute row i's stored samples per the injection rule."""
    f = A.clip_fields(42, i)
    s = A.synth_pcm(f["sr_hz"], f["dur_ms"], f["f1"], f["f2"], f["p1"], f["p2"], f["amp"])
    cls = audio_injected_class(i)
    s = s.astype(np.int64)
    if cls == 0:
        s = np.zeros_like(s)
    elif cls == 1:
        sq = np.full(s.shape, 32767, dtype=np.int64)
        sq[1::2] = -32767
        s = sq
    elif cls == 2:
        s = s.copy()
        s[: s.size // 2] = 0
    elif cls == 3:
        s = s[: s.size // 2]
    return s, f


def test_audio_stats_integer_exact(spark, quality_df):
    rows = {r["clip_id"]: r for r in audio_stats(quality_df).collect()}
    assert len(rows) == N
    for i in range(0, N, 97):  # sample the ordinal space incl. defects
        s, f = _local_pcm(i)
        r = rows["clip_{:012d}".format(i)]
        assert r["n_samples"] == s.size
        assert r["len_bytes"] == 2 * s.size
        a = np.abs(s)
        assert r["peak_abs"] == int(a.max())
        assert r["n_clipped"] == int((a >= 32767).sum())
        assert r["rms"] == math.isqrt(int(np.dot(s, s)) // s.size)
        total = int(s.sum())
        assert r["dc_offset_milli"] == (1000 * abs(total) // s.size) * (1 if total >= 0 else -1)
        assert r["zero_crossings"] == int((np.signbit(s[1:]) != np.signbit(s[:-1])).sum())


def test_audio_stats_defect_flags(spark, quality_df):
    rows = {r["clip_id"]: r for r in audio_stats(quality_df).collect()}
    for i in range(N):
        r = rows["clip_{:012d}".format(i)]
        cls = audio_injected_class(i)
        assert (r["peak_abs"] == 0) == (cls == 0)
        assert (r["n_clipped"] > 0) == (cls == 1)


def test_frame_silence_closed_form(spark, quality_df):
    rows = {r["clip_id"]: r for r in frame_silence(quality_df).collect()}
    for i in range(N):
        f = A.clip_fields(42, i)
        n = f["sr_hz"] * f["dur_ms"] // 1000
        fl = f["sr_hz"] // 100
        cls = audio_injected_class(i)
        eff = n // 2 if cls == 3 else n
        exp_frames = eff // fl
        exp_silent = exp_frames if cls == 0 else ((n // 2) // fl if cls == 2 else 0)
        r = rows["clip_{:012d}".format(i)]
        assert r["n_frames"] == exp_frames
        assert r["n_silent_frames"] == exp_silent
        assert r["silence_ppm"] == 1_000_000 * exp_silent // exp_frames


def test_fingerprint_scale_invariant():
    f = A.clip_fields(42, 11)
    s = A.synth_pcm(f["sr_hz"], f["dur_ms"], f["f1"], f["f2"], f["p1"], f["p2"], f["amp"])
    fp1 = _fingerprint_one(s.astype(np.int64), f["sr_hz"])
    half = np.rint(s.astype(np.float64) * 0.5).astype(np.int64)
    assert _fingerprint_one(half, f["sr_hz"]) == fp1
    other = A.clip_fields(42, 12)
    s2 = A.synth_pcm(other["sr_hz"], other["dur_ms"], other["f1"], other["f2"],
                     other["p1"], other["p2"], other["amp"])
    assert _fingerprint_one(s2.astype(np.int64), other["sr_hz"]) != fp1


def test_normalized_snr_margins():
    f = A.clip_fields(42, 3)
    s = A.synth_pcm(f["sr_hz"], f["dur_ms"], f["f1"], f["f2"], f["p1"], f["p2"], f["amp"])
    scaled = A.synth_pcm(f["sr_hz"], f["dur_ms"], f["f1"], f["f2"], f["p1"], f["p2"],
                         f["amp"] * 0.97)
    a = s.astype(np.int64)
    assert _normalized_snr_db(a, scaled.astype(np.int64)) > 60.0
    g = A.clip_fields(42, 4)
    other = A.synth_pcm(f["sr_hz"], f["dur_ms"], g["f1"], g["f2"], g["p1"], g["p2"], f["amp"])
    assert _normalized_snr_db(a, other.astype(np.int64)) < 10.0


def test_acoustic_dup_pairs_exact(spark, scoped):
    n = 2000
    df = near_dup_clips_df(spark, n, seed=42, partitions=4)
    out = acoustic_dup_pairs(df)
    got = {(r["clip_a"], r["clip_b"]) for r in out.collect()}
    assert got == set(expected_near_dup_pairs(n))


def test_resample_kernel_integer_exact():
    from pandasschema_spark.operators.audio import resample_linear_kernel

    s = np.array([0, 100, -200, 300], dtype=np.int16)
    out = resample_linear_kernel(s, 8000, 16000)
    # odd outputs are midpoints, round-half-up via floor((2a+d)/(2d))
    assert list(out) == [0, 50, 100, -50, -200, 50, 300]
    # identity when rates match; stride-k decimation picks exact samples
    assert list(resample_linear_kernel(s, 16000, 16000)) == list(s)
    assert list(resample_linear_kernel(s, 16000, 8000)) == [0, -200]
    assert resample_linear_kernel(np.array([], dtype=np.int16), 8000, 16000).size == 0


def test_resample_length_law(spark, quality_df):
    from pandasschema_spark.operators.audio import audio_stats, resample

    rows = {r["clip_id"]: r for r in audio_stats(resample(quality_df, 16000)).collect()}
    for i in range(0, N, 59):
        s, f = _local_pcm(i)
        sr = f["sr_hz"]
        exp = s.size if sr == 16000 else (s.size - 1) * 16000 // sr + 1
        assert rows["clip_{:012d}".format(i)]["n_samples"] == exp


def test_peak_normalize_exact_target(spark, quality_df):
    from pandasschema_spark.operators.audio import audio_stats, peak_normalize

    rows = audio_stats(peak_normalize(quality_df)).collect()
    for r in rows:
        i = int(r["clip_id"][5:])
        if audio_injected_class(i) == 0:
            assert r["peak_abs"] == 0
        else:
            assert r["peak_abs"] == 32000, r
        assert r["n_clipped"] == 0  # normalization repairs clipping


def test_spectral_fingerprint_slim_schema(spark, quality_df):
    fps = spectral_fingerprint(quality_df.limit(50))
    assert fps.columns == ["clip_id", "fingerprint"]
    assert fps.count() == 50


def test_acoustic_dup_plan_shape(spark):
    """Bytes must not ride into the bucket-count aggregate, and candidate
    filtering must be a broadcast join (dedup buckets are the rare side)."""
    df = near_dup_clips_df(spark, 200, seed=42, partitions=2)
    plan = acoustic_dup_pairs(df)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "Window" not in plan


def test_segment_windows_and_tail(spark, quality_df):
    from pandasschema_spark.operators.audio import segment

    segs = segment(quality_df, 25).collect()
    by_clip = {}
    for r in segs:
        by_clip.setdefault(r["clip_id"], []).append(r)
    for i in range(0, N, 101):
        s, f = _local_pcm(i)
        sl = 2 * (f["sr_hz"] * 25 // 1000)
        got = sorted(by_clip.get("clip_{:012d}".format(i), []),
                     key=lambda r: r["seg_idx"])
        assert len(got) == (2 * s.size) // sl
        assert [r["seg_idx"] for r in got] == list(range(len(got)))
        if got:  # segment bytes are exact slices of the source
            k = len(got) // 2
            expect = s.astype("<i2").tobytes()[k * sl:(k + 1) * sl]
            assert bytes(got[k]["bytes"]) == expect
    # keep_tail variant emits the ragged remainder as a final short window
    tails = segment(quality_df.limit(50), 25, drop_tail=False).collect()
    full = segment(quality_df.limit(50), 25).collect()
    assert len(tails) >= len(full)
    assert all(len(r["bytes"]) > 0 for r in tails)


def test_wav_wrap_parse_roundtrip():
    from pandasschema_spark.functions.wav import parse_wav_header, wrap_wav

    pcm = b"\x01\x02" * 100
    p = parse_wav_header(wrap_wav(pcm, 16000))
    assert p == {"riff_ok": True, "fmt_pcm": True, "channels": 1,
                 "sr_hdr": 16000, "bits": 16, "data_len": 200, "len_ok": True}
    assert parse_wav_header(None)["riff_ok"] is False
    assert parse_wav_header(b"shrt")["len_ok"] is False


def test_to_wav_then_stats_consistent(spark, quality_df):
    """to_wav over the defect table: every header is valid and data_len
    reflects the stored payload (incl. the truncation class)."""
    from pandasschema_spark.operators.audio import to_wav, wav_header_stats

    rows = {r["clip_id"]: r for r in wav_header_stats(to_wav(quality_df)).collect()}
    for i in range(N):
        s, f = _local_pcm(i)
        r = rows["clip_{:012d}".format(i)]
        assert r["riff_ok"] and r["fmt_pcm"] and r["len_ok"]
        assert r["sr_hdr"] == f["sr_hz"] and r["data_len"] == 2 * s.size


def test_wav_corruption_flags(spark):
    from pandasschema_spark.operators.audio import wav_header_stats
    from pandasschema_spark.sources.datagen import wav_clips_df, wav_injected_class

    n = 1200
    rows = {r["clip_id"]: r for r in
            wav_header_stats(wav_clips_df(spark, n, seed=42, partitions=4)).collect()}
    for i in range(n):
        r = rows["clip_{:012d}".format(i)]
        cls = wav_injected_class(i)
        assert r["riff_ok"] == (cls != 0)
        assert r["fmt_pcm"] == (cls != 2)
        assert r["len_ok"] == (cls not in (1, 3))


def test_wav_header_stats_on_raw_pcm(spark, quality_df):
    """Raw PCM is not a WAV container: every row reads riff_ok = false
    and the stage survives. Bytes 24-27, the header's sample-rate field,
    hold two samples there; negative ones read above 2^31 - 1 as an
    unsigned int and must still fit the int sr_hdr column."""
    from pandasschema_spark.operators.audio import wav_header_stats

    neg = np.full(64, -3, dtype="<i2").tobytes()
    df = spark.createDataFrame([("neg", neg)], "clip_id string, bytes binary")
    (r,) = wav_header_stats(df).collect()
    assert not r["riff_ok"] and not r["len_ok"]
    assert r["sr_hdr"] == struct.unpack_from("<i", neg, 24)[0] < 0
    rows = wav_header_stats(quality_df).collect()
    assert len(rows) == N and not any(r["riff_ok"] for r in rows)


def test_audio_embed_near_dup_integration(spark):
    """audio -> spectral embedding -> generic IVF near-dup recovers the
    injected re-encodes exactly."""
    from pandasschema_spark.operators.audio import audio_embed
    from pandasschema_spark.operators.similarity import embedding_near_dup_pairs

    n = 1000
    df = near_dup_clips_df(spark, n, seed=42, partitions=4)
    emb = audio_embed(df).cache()
    ordinal = F.expr("CAST(substr(clip_id, 6, 12) AS BIGINT)")
    cents = emb.where(ordinal % 64 == 7).select(
        ordinal.alias("cell"), F.col("embedding").alias("cvec"))
    expected = set(expected_near_dup_pairs(n))
    out = embedding_near_dup_pairs(
        emb, id_col="clip_id", vec_col="embedding",
        threshold=0.999, centroids=cents, n_probe=2)
    assert {(r["id_a"], r["id_b"]) for r in out.collect()} == expected
    emb.unpersist()


def test_audio_embed_scale_invariant_and_discriminative(spark):
    from pandasschema_spark.operators.audio import _embed_one

    f = A.clip_fields(42, 21)
    s = A.synth_pcm(f["sr_hz"], f["dur_ms"], f["f1"], f["f2"], f["p1"], f["p2"], f["amp"])
    e1 = _embed_one(s.astype(np.int64), f["sr_hz"], 256, 2500.0).astype(np.float64)
    scaled = A.synth_pcm(f["sr_hz"], f["dur_ms"], f["f1"], f["f2"], f["p1"], f["p2"],
                         f["amp"] * 0.97)
    e2 = _embed_one(scaled.astype(np.int64), f["sr_hz"], 256, 2500.0).astype(np.float64)
    cos = np.dot(e1, e2) / (np.linalg.norm(e1) * np.linalg.norm(e2))
    assert cos > 0.99999
    g = A.clip_fields(42, 22)
    s3 = A.synth_pcm(g["sr_hz"], g["dur_ms"], g["f1"], g["f2"], g["p1"], g["p2"], g["amp"])
    e3 = _embed_one(s3.astype(np.int64), g["sr_hz"], 256, 2500.0).astype(np.float64)
    cos3 = np.dot(e1, e3) / (np.linalg.norm(e1) * np.linalg.norm(e3))
    assert cos3 < 0.999


def test_validation_summary(spark):
    from pandasschema_spark.clips_suite import validate_clips
    from pandasschema_spark.sources.datagen import clips_df

    df = clips_df(spark, 5000, seed=42, with_audio=False, partitions=4)
    res = validate_clips(df, None, with_pcm_checks=False)
    rows = res.summary().collect()
    assert rows and all(r["fail_count"] > 0 for r in rows)
    assert sum(r["fail_count"] for r in rows) == res.violations.count()


def test_transform_plans_single_scan_no_shuffle(spark, quality_df):
    """resample/normalize/stats must stay narrow: one scan, no Exchange."""
    from pandasschema_spark.operators.audio import audio_stats, peak_normalize, resample

    for build in (lambda d: audio_stats(resample(d, 16000)),
                  lambda d: audio_stats(peak_normalize(d))):
        plan = build(quality_df)._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan[:1500]


def test_cross_column_expr_native_plan(spark, quality_df):
    """CrossColumnExprValidation must stay codegen-native: no Arrow/Python
    eval node may appear in the violations plan."""
    check = CrossColumnExprValidation(
        ["bytes", "sr_hz", "dur_ms"],
        lambda d: F.length(d["bytes"]).cast("long")
        == F.expr("2 * ((CAST(sr_hz AS BIGINT) * dur_ms) DIV 1000)"),
        "stored PCM length does not match sr_hz * dur_ms",
    )
    schema = Schema([Column("bytes", [check])])
    v = schema.validate(quality_df, columns=["bytes"], row_key="row_ord").violations
    plan = v._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    got = sorted(r["row"] for r in v.collect())
    expected = [i for i in range(N) if audio_injected_class(i) == 3]
    assert got == expected


def test_cross_column_expr_pandas_oracle():
    import pandas as pd

    check = CrossColumnExprValidation(
        ["a", "b"],
        lambda d: d["a"] >= d["b"],
        "a below b",
        pandas_fn=lambda fr: fr["a"] >= fr["b"],
    )
    fr = pd.DataFrame({"a": [1, 5, 2], "b": [2, 4, 2]})
    assert list(check.pandas_validate_frame(fr)) == [False, True, True]


def test_odd_length_payload_does_not_crash(spark):
    """A corrupt odd-length payload must flag, not kill the stage."""
    from pandasschema_spark.operators.audio import audio_stats, peak_normalize, resample

    df = spark.createDataFrame(
        [("c0", b"\x01\x02\x03", 8000), ("c1", b"\x05", 8000), ("c2", None, 8000)],
        ["clip_id", "bytes", "sr_hz"],
    )
    rows = {r["clip_id"]: r for r in audio_stats(df).collect()}
    assert rows["c0"]["n_samples"] == 1 and rows["c0"]["len_bytes"] == 3
    assert rows["c1"]["n_samples"] == 0
    assert rows["c2"]["n_samples"] == 0 and rows["c2"]["len_bytes"] == 0
    assert resample(df, 16000).count() == 3
    assert peak_normalize(df).count() == 3


def test_cosine_topk_arrow_string_ids(spark):
    """The arrow default must accept non-integer id columns."""
    from pandasschema_spark.operators.audio import audio_embed
    from pandasschema_spark.operators.similarity import cosine_topk

    df = near_dup_clips_df(spark, 60, seed=42, partitions=2)
    emb = audio_embed(df).cache()
    queries = emb.limit(2).select(
        F.col("clip_id").alias("query_id"), F.col("embedding").alias("query_vec"))
    out = cosine_topk(emb, queries, k=3,
                      id_col="clip_id", vec_col="embedding")
    rows = out.collect()
    assert len(rows) == 6
    assert all(isinstance(r["vec_id"], str) for r in rows)
    emb.unpersist()


def test_segment_hop_overlapping_windows(spark, quality_df):
    """Overlapping windows: count law (ns - sl)//hl + 1, stride-exact
    start offsets, byte-exact slices, and start_byte lineage."""
    import pytest

    from pandasschema_spark.operators.audio import segment

    segs = segment(quality_df.limit(40), 25, hop_ms=10).collect()
    by_clip = {}
    for r in segs:
        by_clip.setdefault(r["clip_id"], []).append(r)
    for i in range(0, 40, 7):
        s, f = _local_pcm(i)
        raw = s.astype("<i2").tobytes()
        sl = 2 * (f["sr_hz"] * 25 // 1000)
        hl = 2 * (f["sr_hz"] * 10 // 1000)
        want_n = 0 if len(raw) < sl else (len(raw) - sl) // hl + 1
        got = sorted(by_clip.get("clip_{:012d}".format(i), []),
                     key=lambda r: r["seg_idx"])
        assert len(got) == want_n
        for k in (0, want_n // 2, want_n - 1):
            if want_n:
                r = got[k]
                assert r["start_byte"] == k * hl
                assert bytes(r["bytes"]) == raw[k * hl:k * hl + sl]
    with pytest.raises(ValueError, match="disjoint"):
        segment(quality_df, 25, hop_ms=10, drop_tail=False)


def test_decode_pcm_odd_length_truncates(spark):
    """A corrupt odd-length payload decodes its even prefix in BOTH
    decode helpers — a single bad row must fail its check, not the
    Spark stage."""
    import numpy as np

    from pandasschema_spark.functions.audio import decode_pcm
    from pandasschema_spark.operators.audio import audio_stats

    raw = np.array([100, -100, 7], dtype="<i2").tobytes() + b"\x01"
    assert decode_pcm(raw).tolist() == [100, -100, 7]
    df = spark.createDataFrame(
        [("c0", bytearray(raw), 8000)],
        "clip_id string, bytes binary, sr_hz int")
    (row,) = audio_stats(df).collect()
    assert row["n_samples"] == 3 and row["len_bytes"] == 7


def test_defect_triage_labels(spark, quality_df):
    """One-pass triage reproduces the injection classes with the
    documented precedence; clean rows read ok."""
    from pandasschema_spark.operators.audio import defect_triage

    got = {r["clip_id"]: r["label"] for r in defect_triage(quality_df).collect()}
    assert len(got) == N
    expected_cls = {0: "silent", 1: "clipped", 2: "half_silent", 3: "truncated"}
    for i in range(N):
        cid = "clip_{:012d}".format(i)
        cls = audio_injected_class(i)
        want = expected_cls.get(cls, "ok")
        assert got[cid] == want, (i, cls, got[cid], want)


def test_defect_triage_degenerate_rows(spark):
    """NULL / sub-sample payloads label silent instead of raising."""
    from pandasschema_spark.operators.audio import defect_triage

    df = spark.createDataFrame(
        [("a", None, 8000, 40), ("b", b"\x01", 8000, 40)],
        "clip_id: string, bytes: binary, sr_hz: int, dur_ms: int",
    )
    got = {r["clip_id"]: r["label"] for r in defect_triage(df).collect()}
    assert got == {"a": "silent", "b": "silent"}


def test_null_metadata_rows_never_kill_the_stage(spark):
    """A NULL sr_hz/dur_ms row (Arrow renders the column as float64 +
    NaN, so int() raises) must be skipped — or flagged 'bad_meta' by
    triage — never a dead Python worker (the _decode contract applied
    to metadata)."""
    from pandasschema_spark.operators.audio import (
        audio_embed, defect_triage, frame_silence, peak_normalize, resample,
        segment, spectral_fingerprint, to_wav, trim_bounds, utterances)

    pcm = (np.arange(800, dtype="<i2") % 201 - 100).astype("<i2").tobytes()
    df = spark.createDataFrame(
        [("ok", pcm, 8000, 100), ("no_sr", pcm, None, 100),
         ("no_dur", pcm, 8000, None)],
        "clip_id string, bytes binary, sr_hz int, dur_ms int")

    assert {r["clip_id"] for r in frame_silence(df).collect()} == {"ok", "no_dur"}
    tri = {r["clip_id"]: r["label"] for r in defect_triage(df).collect()}
    assert tri["no_sr"] == tri["no_dur"] == "bad_meta" and tri["ok"] == "ok"
    assert {r["clip_id"] for r in segment(df, 50).collect()} == {"ok", "no_dur"}
    assert {r["clip_id"] for r in to_wav(df).collect()} == {"ok", "no_dur"}
    assert {r["clip_id"] for r in audio_embed(df).collect()} == {"ok", "no_dur"}
    assert {r["clip_id"] for r in resample(df, 16000).collect()} == {"ok", "no_dur"}
    assert {r["clip_id"] for r in peak_normalize(df).collect()} == {"ok", "no_dur"}
    assert {r["clip_id"] for r in spectral_fingerprint(df).collect()} == {"ok", "no_dur"}
    assert {r["clip_id"] for r in trim_bounds(df).collect()} == {"ok", "no_dur"}
    assert {r["clip_id"] for r in utterances(df).collect()} <= {"ok", "no_dur"}

    # a zero or negative source rate is skipped like a NULL one: zero
    # divided inside the kernel and killed the stage, a negative rate
    # gave an empty clip; a non-positive target is refused up front
    bad_sr = df.union(spark.createDataFrame(
        [("zero_sr", pcm, 0, 100), ("neg_sr", pcm, -8000, 100)], df.schema))
    assert {r["clip_id"] for r in resample(bad_sr, 16000).collect()} == {"ok", "no_dur"}
    with pytest.raises(ValueError, match="target_sr"):
        resample(df, 0)
