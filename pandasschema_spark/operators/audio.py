"""Audio-payload operators: per-clip PCM statistics, frame-level silence
analysis, spectral fingerprinting and acoustic near-duplicate detection.

These extend the validation engine with the audio side of the graft cell
(BASELINE.json: payload=audio): the reference has no audio notion at all
(it validates pandas Series — /root/reference/pandas_schema/validation.py),
so everything here is engine extension, designed Spark-first:

- every payload operator is a per-clip kernel run through
  ``frames.row_map`` (one ``mapInPandas`` pass over Arrow batches); the
  kernel is numpy (clips have different lengths so the per-clip loop is
  irreducible, but each iteration is a vectorized numpy kernel over
  thousands of samples — never per-row Python at the Spark layer);
- all emitted metrics are INTEGERS (exact across engines): sums of int16
  squares are exact int64, "rms" is ``isqrt(sum_sq // n)``, ratios are
  parts-per-million via integer division — so results hash identically in
  any engine and never depend on float formatting;
- near-duplicate detection is the classic two-stage shape that survives
  10^12 rows: a cheap per-clip BLOCKING key (spectral fingerprint — only
  same-fingerprint clips ever meet), then an expensive VERIFY stage
  (scale-normalized SNR) on the candidate pairs only. The self-join
  shuffles fingerprints + bytes of *candidate buckets only*; hot buckets
  are capped inside the bucket-count aggregate the operator already
  computes (``count <= max_bucket``, then an inner join of the surviving
  fingerprints — never a count-over-window), not by banding.py's
  broadcast anti-join.

Scale notes per operator are in SCALE.md §audio.
"""

from __future__ import annotations

import math
import typing

import numpy as np
from pyspark.sql import DataFrame, functions as F, types as T

from ..frames import row_map
from ..resources import hold

AUDIO_STATS_SCHEMA = T.StructType([
    T.StructField("clip_id", T.StringType(), False),
    T.StructField("n_samples", T.LongType(), False),
    T.StructField("len_bytes", T.LongType(), False),
    T.StructField("peak_abs", T.IntegerType(), False),
    T.StructField("n_clipped", T.LongType(), False),
    T.StructField("rms", T.IntegerType(), False),
    T.StructField("dc_offset_milli", T.LongType(), False),
    T.StructField("zero_crossings", T.LongType(), False),
])

#: int16 full-scale magnitude; a sample at +/-32767 (or the asymmetric
#: -32768) counts as clipped
CLIP_MAG = 32767


def _decode(raw) -> np.ndarray:
    """int16 samples from a binary payload. Odd-length payloads (a corrupt
    row in the wild) decode their even prefix instead of raising — one bad
    row must become a flagged value, never a dead Spark stage (the whole
    point of a validation engine)."""
    if raw is None or len(raw) < 2:
        return np.empty(0, dtype=np.int64)
    if len(raw) % 2:
        raw = raw[: len(raw) - 1]
    return np.frombuffer(raw, dtype="<i2").astype(np.int64)


def _meta_int(v) -> typing.Optional[int]:
    """NULL-safe metadata int. Arrow renders a nullable int column as
    float64 with NaN, so ``int(v)`` on a NULL sr_hz/dur_ms raises and
    kills the stage — the exact failure mode _decode exists to prevent.
    NULL/NaN -> None; kernels skip (or flag) such rows instead."""
    try:
        if v is None or v != v:
            return None
        return int(v)
    except (TypeError, ValueError):
        return None


def audio_stats(df: DataFrame, *, id_col: str = "clip_id",
                bytes_col: str = "bytes") -> DataFrame:
    """Per-clip PCM statistics, one narrow row_map pass (no shuffle).

    Integer-exact by construction: peak/counts are integers, ``rms`` is
    ``isqrt(sum(s^2) // n)`` (sum of int16 squares is exact in int64 up to
    ~10^9 samples per clip), ``dc_offset_milli`` is ``1000*sum // n``
    truncated toward zero the way both Python and SQL integer division do
    for the values involved (sum may be negative -> use floor-div of the
    absolute value with sign restored, which matches SQL ``CAST(... )``
    semantics only if mirrored — the oracle-facing queries only use the
    closed-form columns, see __spark_entry__).
    """

    def stats(cid, raw):
        s = _decode(raw)
        n = int(s.size)
        if n:
            a = np.abs(s)
            peak = int(a.max())
            n_clip = int((a >= CLIP_MAG).sum())
            ssq = int(np.dot(s, s))
            rms = math.isqrt(ssq // n)
            total = int(s.sum())
            dc = (1000 * abs(total) // n) * (1 if total >= 0 else -1)
            zc = int((np.signbit(s[1:]) != np.signbit(s[:-1])).sum())
        else:
            peak = n_clip = rms = dc = zc = 0
        yield (cid, n, 0 if raw is None else len(raw), peak, n_clip, rms, dc, zc)

    return row_map(df, [id_col, bytes_col], AUDIO_STATS_SCHEMA, stats)


def _frame_peaks(mag: np.ndarray, sr: int, frame_ms: int) -> np.ndarray:
    """Per-frame peak of the sample magnitudes ``mag`` (``np.abs`` of a
    decoded clip): the one frame rule of frame_silence, defect_triage,
    trim_bounds and utterances. Frame length is ``sr * frame_ms // 1000``
    samples (at least 1), full frames only; the tail is dropped, so the
    result has ``len(mag) // frame_length`` entries."""
    fl = max(sr * frame_ms // 1000, 1)
    nf = int(mag.size) // fl
    return mag[: nf * fl].reshape(nf, fl).max(axis=1)


def _runs(mask: np.ndarray) -> typing.Tuple[np.ndarray, np.ndarray]:
    """(starts, ends) of the maximal True runs of a frame mask, ends
    exclusive: padded with False sentinels, the mask's diff exposes every
    run start (+1) and end (-1), interior or at the clip's edges."""
    edges = np.diff(np.concatenate(([False], mask, [False])).astype(np.int8))
    return np.flatnonzero(edges == 1), np.flatnonzero(edges == -1)


FRAME_STATS_SCHEMA = T.StructType([
    T.StructField("clip_id", T.StringType(), False),
    T.StructField("n_frames", T.LongType(), False),
    T.StructField("n_silent_frames", T.LongType(), False),
    T.StructField("silence_ppm", T.LongType(), False),
])


def frame_silence(df: DataFrame, *, id_col: str = "clip_id",
                  bytes_col: str = "bytes", sr_col: str = "sr_hz",
                  frame_ms: int = 10, silent_peak_below: int = 1) -> DataFrame:
    """Frame-level silence analysis: split each clip into ``frame_ms``
    windows (frame length = sr * frame_ms / 1000 samples, full frames
    only), mark a frame silent when its peak magnitude is below
    ``silent_peak_below`` (default: strictly all-zero — the only
    definition that is closed-form reproducible for the synthetic
    warehouse), and report the silent fraction in parts-per-million
    (integer: ``1_000_000 * silent // frames``).

    One narrow pass; frames follow :func:`_frame_peaks`, whose reshape
    is a zero-copy numpy view.
    """

    def silence(cid, raw, sr):
        sr = _meta_int(sr)
        if sr is None:
            return  # no frame length without a sample rate
        fr = _frame_peaks(np.abs(_decode(raw)), sr, frame_ms)
        nf = int(fr.size)
        silent = int((fr < silent_peak_below).sum())
        yield (cid, nf, silent, 1_000_000 * silent // nf if nf else 0)

    return row_map(df, [id_col, bytes_col, sr_col], FRAME_STATS_SCHEMA, silence)


TRIAGE_SCHEMA = T.StructType([
    T.StructField("clip_id", T.StringType(), False),
    T.StructField("label", T.StringType(), False),
])

#: defect-label precedence (first match wins); a clip that is both silent
#: and length-inconsistent reads 'silent' — the upstream fix differs
TRIAGE_LABELS = ("silent", "clipped", "truncated", "half_silent", "ok")


def defect_triage(df: DataFrame, *, id_col: str = "clip_id",
                  bytes_col: str = "bytes", sr_col: str = "sr_hz",
                  dur_col: str = "dur_ms", frame_ms: int = 10,
                  half_silent_ppm: int = 250_000) -> DataFrame:
    """Per-clip defect label in ONE pass over the corpus bytes:
    ``silent`` (peak 0), ``clipped`` (any |s| >= 32767), ``truncated``
    (decoded samples != sr*dur//1000), ``half_silent`` (strict-zero
    10 ms-frame silence ratio >= ``half_silent_ppm``), else ``ok`` —
    precedence in that order (TRIAGE_LABELS).

    This is the routing head of an audio QC pipeline: where audio_stats /
    frame_silence / the length check each re-read the corpus, triage
    computes all four verdicts from a single decode (at 100 TB the scan
    IS the cost), emits 1 label/clip, and the label histogram is one
    map-side-combined agg. All comparisons are integer-exact (same ppm
    rule as frame_silence), so labels are engine-reproducible.
    """

    def triage(cid, raw, sr, dur):
        sr, dur = _meta_int(sr), _meta_int(dur)
        if sr is None or dur is None:
            # triage FLAGS broken rows rather than skipping: a clip
            # without sr/dur metadata is its own defect class (never
            # fires on the gated corpora, whose metadata is valid by
            # construction)
            yield (cid, "bad_meta")
            return
        s = _decode(raw)
        n = int(s.size)
        a = np.abs(s) if n else None
        if n == 0 or int(a.max()) == 0:
            label = "silent"
        elif int(a.max()) >= CLIP_MAG:
            label = "clipped"
        elif n != sr * dur // 1000:
            label = "truncated"
        else:
            fr = _frame_peaks(a, sr, frame_ms)
            nf = int(fr.size)
            ppm = 1_000_000 * int((fr < 1).sum()) // nf if nf else 0
            label = "half_silent" if ppm >= half_silent_ppm else "ok"
        yield (cid, label)

    return row_map(df, [id_col, bytes_col, sr_col, dur_col], TRIAGE_SCHEMA, triage)


# ---------------------------------------------------------------------------
# segmentation: fixed-duration training windows
# ---------------------------------------------------------------------------

SEGMENT_SCHEMA = T.StructType([
    T.StructField("clip_id", T.StringType(), False),
    T.StructField("seg_idx", T.IntegerType(), False),
    T.StructField("start_byte", T.LongType(), False),
    T.StructField("bytes", T.BinaryType(), False),
    T.StructField("sr_hz", T.IntegerType(), False),
])


def segment(df: DataFrame, seg_ms: int, *, hop_ms: typing.Optional[int] = None,
            id_col: str = "clip_id",
            bytes_col: str = "bytes", sr_col: str = "sr_hz",
            drop_tail: bool = True) -> DataFrame:
    """Split every clip into fixed-duration windows of ``seg_ms``
    (segment length = sr * seg_ms // 1000 samples) — the standard
    training-window op. ``hop_ms`` (default: ``seg_ms``, i.e. disjoint
    windows) strides the window starts for OVERLAPPING windows, the
    usual shape for spectrogram/feature frames: window k covers samples
    [k*hop, k*hop + seg_len), and only full windows are emitted —
    n_windows = (n_samples - seg_len) // hop + 1 when n_samples >=
    seg_len else 0, the closed-form law the oracle checks. With the
    default disjoint stride, ``drop_tail=False`` instead appends the
    ragged tail as a final short segment (unsupported for overlapping
    strides, where "the tail" is ill-defined — raises).

    One narrow row_map pass fanning each input row out to its
    windows; fan-out is row-local, so at 10^12 clips this stays a
    narrow map (overlap multiplies output bytes by ~seg/hop — size the
    write partitioning for the POST-fan-out volume). The segment id is
    (clip_id, seg_idx) and ``start_byte`` records the window's byte
    offset for lineage back into the source clip."""
    if hop_ms is not None and hop_ms != seg_ms and not drop_tail:
        raise ValueError("drop_tail=False requires disjoint windows "
                         "(hop_ms == seg_ms or None)")

    def windows(cid, raw, sr):
        raw = raw or b""
        sr = _meta_int(sr)
        if sr is None:
            return  # windows are sized in samples: no sr, no segments
        seg_bytes = 2 * max(sr * seg_ms // 1000, 1)
        hop_bytes = seg_bytes if hop_ms is None else \
            2 * max(sr * hop_ms // 1000, 1)
        n_full = 0 if len(raw) < seg_bytes else \
            (len(raw) - seg_bytes) // hop_bytes + 1
        for k in range(n_full):
            yield (cid, k, k * hop_bytes, raw[k * hop_bytes:k * hop_bytes + seg_bytes], sr)
        if len(raw) > n_full * seg_bytes and not drop_tail:
            yield (cid, n_full, n_full * seg_bytes, raw[n_full * seg_bytes:], sr)

    return row_map(df, [id_col, bytes_col, sr_col], SEGMENT_SCHEMA, windows)


# ---------------------------------------------------------------------------
# WAV container: wrap raw PCM / parse + validate headers
# ---------------------------------------------------------------------------

WAV_STATS_SCHEMA = T.StructType([
    T.StructField("clip_id", T.StringType(), False),
    T.StructField("riff_ok", T.BooleanType(), False),
    T.StructField("fmt_pcm", T.BooleanType(), False),
    T.StructField("channels", T.IntegerType(), False),
    T.StructField("sr_hdr", T.IntegerType(), False),
    T.StructField("bits", T.IntegerType(), False),
    T.StructField("data_len", T.LongType(), False),
    T.StructField("len_ok", T.BooleanType(), False),
])


def to_wav(df: DataFrame, *, id_col: str = "clip_id", bytes_col: str = "bytes",
           sr_col: str = "sr_hz") -> DataFrame:
    """Wrap every clip's raw PCM into a canonical 44-byte-header WAV
    container (functions/wav.py); one narrow pass, returns
    (clip_id, bytes, sr_hz)."""
    from ..functions.wav import wrap_wav

    def wrap(cid, raw, sr):
        sr = _meta_int(sr)
        if sr is None:
            return  # a WAV header needs a sample rate
        yield (cid, wrap_wav(raw or b"", sr), sr)

    return row_map(df, [id_col, bytes_col, sr_col], CLIPS_AUDIO_SCHEMA, wrap)


def wav_header_stats(df: DataFrame, *, id_col: str = "clip_id",
                     bytes_col: str = "bytes") -> DataFrame:
    """Parse + cross-check each clip's WAV header (functions/wav.py
    parse_wav_header); one narrow pass, all-integer/boolean output so the
    result hashes identically across engines."""
    from ..functions.wav import parse_wav_header

    fields = WAV_STATS_SCHEMA.fieldNames()[1:]

    def header(cid, raw):
        p = parse_wav_header(raw)
        yield (cid, *(p[f] for f in fields))

    return row_map(df, [id_col, bytes_col], WAV_STATS_SCHEMA, header)


# ---------------------------------------------------------------------------
# spectral embedding (bridges the audio payload into the similarity stack)
# ---------------------------------------------------------------------------

EMBED_SCHEMA = T.StructType([
    T.StructField("clip_id", T.StringType(), False),
    T.StructField("embedding", T.ArrayType(T.FloatType(), False), False),
])

#: spectral analysis ceiling shared by the embedding and the fingerprint:
#: tone frequencies are 100..1999 Hz, so [0, 2500) covers them at every
#: sample rate's Nyquist
BAND_TOP_HZ = 2500.0

#: embedding layout: N_EMBED_BANDS linear bands over [0, BAND_TOP_HZ),
#: log-scaled energy ratios. The log matters: a two-tone clip's linear
#: band profile is a 2-spike vector, so unrelated clips whose tones land
#: in the same bands collide at cosine ~0.9999; log-scaling amplifies the
#: leakage tail (which encodes each tone's exact fractional-bin offset)
#: and separates them to <=0.994 while amplitude-scaled re-encodes stay
#: >=0.9999999 (measured over all pairs of a 4000-clip corpus, seed 42).
N_EMBED_BANDS = 256


def _embed_one(s: np.ndarray, sr: int, n_bands: int, top_hz: float) -> np.ndarray:
    if s.size == 0:
        return np.zeros(n_bands, dtype=np.float32)
    spec = np.abs(np.fft.rfft(s.astype(np.float64))) ** 2
    spec[0] = 0.0
    freqs = np.arange(spec.size) * (sr / s.size)
    bands = np.minimum((freqs / (top_hz / n_bands)).astype(np.int64), n_bands - 1)
    e = np.bincount(bands, weights=spec, minlength=n_bands)
    tot = e.sum()
    if tot <= 0.0:
        return np.zeros(n_bands, dtype=np.float32)
    return np.log10(1.0 + (e / tot) * 1e6).astype(np.float32)


def audio_embed(df: DataFrame, *, n_bands: int = N_EMBED_BANDS,
                top_hz: float = BAND_TOP_HZ, id_col: str = "clip_id",
                bytes_col: str = "bytes", sr_col: str = "sr_hz") -> DataFrame:
    """Per-clip spectral embedding (log band-energy ratios) as an
    ``array<float>`` column — the audio analog of a text/image embedding,
    feeding directly into operators/similarity.py (cosine top-k, IVF ANN,
    embedding_near_dup_pairs). One narrow row_map pass; amplitude-
    scale invariant by construction (energy ratios)."""

    def embed(cid, raw, sr):
        sr = _meta_int(sr)
        if sr is not None:
            yield (cid, _embed_one(_decode(raw), sr, n_bands, top_hz))

    return row_map(df, [id_col, bytes_col, sr_col], EMBED_SCHEMA, embed)


# ---------------------------------------------------------------------------
# transformations: resample + peak-normalize (training-pipeline preprocessing)
# ---------------------------------------------------------------------------

CLIPS_AUDIO_SCHEMA = T.StructType([
    T.StructField("clip_id", T.StringType(), False),
    T.StructField("bytes", T.BinaryType(), True),
    T.StructField("sr_hz", T.IntegerType(), False),
])


def resample_linear_kernel(s: np.ndarray, sr_in: int, sr_out: int) -> np.ndarray:
    """Linear-interpolation resampler, INTEGER-EXACT by construction so
    output lengths and values are partitioning/engine-invariant:

    output sample k sits at input position k*sr_in/sr_out; with
    num = k*sr_in, idx = num // sr_out, frac = num % sr_out the value is
    ``(2*(s[idx]*(sr_out-frac) + s[idx+1]*frac) + sr_out) // (2*sr_out)``
    — pure int64, floor-based round-half-up (consistent for negatives via
    Python/numpy floor division). n_out = (n_in-1)*sr_out // sr_in + 1
    (every interpolation point stays inside the input).

    A production pipeline would use a windowed-sinc polyphase filter;
    linear is the right determinism/cost point for validation plumbing
    and is exact on the synthetic two-tone fixtures' length laws.
    """
    n_in = int(s.size)
    if n_in == 0 or sr_in == sr_out:
        return s.astype(np.int64)
    n_out = (n_in - 1) * sr_out // sr_in + 1
    k = np.arange(n_out, dtype=np.int64)
    num = k * sr_in
    idx = num // sr_out
    frac = num - idx * sr_out
    nxt = np.minimum(idx + 1, n_in - 1)
    s64 = s.astype(np.int64)
    acc = s64[idx] * (sr_out - frac) + s64[nxt] * frac
    return (2 * acc + sr_out) // (2 * sr_out)


def resample(df: DataFrame, target_sr: int, *, id_col: str = "clip_id",
             bytes_col: str = "bytes", sr_col: str = "sr_hz") -> DataFrame:
    """Resample every clip to ``target_sr`` (one narrow row_map pass);
    returns (clip_id, bytes, sr_hz=target_sr). A row whose sample rate
    is NULL or not positive is skipped; ``target_sr <= 0`` raises
    ValueError before anything is planned."""
    if target_sr <= 0:
        raise ValueError("target_sr must be positive, got {}".format(target_sr))

    def resample_one(cid, raw, sr):
        sr = _meta_int(sr)
        if sr is None or sr <= 0:
            return  # no source rate to interpolate from
        res = resample_linear_kernel(_decode(raw), sr, target_sr)
        yield (cid, np.clip(res, -32768, 32767).astype("<i2").tobytes(), target_sr)

    return row_map(df, [id_col, bytes_col, sr_col], CLIPS_AUDIO_SCHEMA, resample_one)


#: normalization target: 32000 leaves ~0.2 dB headroom below int16 full
#: scale, so normalized audio can never read as clipped
NORMALIZE_PEAK = 32000


def peak_normalize(df: DataFrame, *, target_peak: int = NORMALIZE_PEAK,
                   id_col: str = "clip_id", bytes_col: str = "bytes",
                   sr_col: str = "sr_hz") -> DataFrame:
    """Scale every clip so its peak magnitude is exactly ``target_peak``
    (all-zero clips pass through); rows with a NULL sample rate are
    skipped, as in resample and to_wav. One narrow row_map pass.

    Exactness argument (why the post-condition ``peak_abs == target_peak``
    holds bit-for-bit, tested + used by the audio_normalize oracle): with
    f = target/peak in float64, IEEE guarantees peak*f = target*(1 ± 2eps),
    which is within 1e-11 of the integer target — np.rint lands exactly on
    it, and every |s| <= peak maps below target + 0.5, so no sample can
    exceed the target after rounding."""

    def normalize(cid, raw, sr):
        sr = _meta_int(sr)
        if sr is None:
            return  # sr_hz is non-nullable in the output
        s = _decode(raw).astype(np.float64)
        peak = np.abs(s).max() if s.size else 0.0
        if peak > 0.0:
            np.rint(s * (float(target_peak) / peak), out=s)
        yield (cid, s.astype("<i2").tobytes(), sr)

    return row_map(df, [id_col, bytes_col, sr_col], CLIPS_AUDIO_SCHEMA, normalize)


# ---------------------------------------------------------------------------
# spectral fingerprint + acoustic near-duplicate pairs
# ---------------------------------------------------------------------------

FINGERPRINT_SCHEMA = T.StructType([
    T.StructField("clip_id", T.StringType(), False),
    T.StructField("fingerprint", T.StringType(), False),
])

#: fingerprint band layout: N_BANDS linear bands over [0, BAND_TOP_HZ)
N_BANDS = 64
#: a second spectral peak below this fraction of the first is treated as
#: absent (single-tone clip) — keeps the key stable under re-encoding
SECOND_PEAK_MIN_FRAC = 0.01


def _fingerprint_one(s: np.ndarray, sr: int) -> str:
    """Blocking key of one clip: sample rate, sample count, and the
    (unordered) band indices of the two dominant spectral peaks.

    Robust to uniform amplitude scaling (band argmax is scale-invariant)
    and to int16 re-quantization (a pure tone's bin towers over the
    quantization noise floor), which is exactly the invariance an acoustic
    near-duplicate key needs; NOT robust to time-shifts or resampling —
    those are verify-stage concerns in a production fingerprint (e.g.
    chromaprint-style), out of scope for the synthetic warehouse.
    """
    n = int(s.size)
    if n == 0:
        return "0:0:-1:-1"
    spec = np.abs(np.fft.rfft(s.astype(np.float64))) ** 2
    spec[0] = 0.0  # ignore DC
    k1 = int(np.argmax(spec))
    e1 = spec[k1]
    if e1 <= 0.0:
        return "{}:{}:-1:-1".format(sr, n)
    # null out +/-3 bins around the first peak, find the runner-up
    lo, hi = max(k1 - 3, 0), min(k1 + 4, spec.size)
    spec2 = spec.copy()
    spec2[lo:hi] = 0.0
    k2 = int(np.argmax(spec2))
    hz_per_bin = sr / n
    band_w = BAND_TOP_HZ / N_BANDS
    b1 = min(int(k1 * hz_per_bin / band_w), N_BANDS - 1)
    if spec2[k2] >= SECOND_PEAK_MIN_FRAC * e1:
        b2 = min(int(k2 * hz_per_bin / band_w), N_BANDS - 1)
    else:
        b2 = b1
    if b2 < b1:
        b1, b2 = b2, b1
    return "{}:{}:{}:{}".format(sr, n, b1, b2)


def spectral_fingerprint(df: DataFrame, *, id_col: str = "clip_id",
                         bytes_col: str = "bytes",
                         sr_col: str = "sr_hz") -> DataFrame:
    """Per-clip spectral blocking key (see _fingerprint_one); one narrow
    row_map pass, rFFT per clip inside the Arrow batch. Rows with a NULL
    sample rate have no key and are skipped."""

    def fingerprint(cid, raw, sr):
        sr = _meta_int(sr)
        if sr is not None:
            yield (cid, _fingerprint_one(_decode(raw), sr))

    return row_map(df, [id_col, bytes_col, sr_col], FINGERPRINT_SCHEMA, fingerprint)


DUP_PAIRS_SCHEMA = T.StructType([
    T.StructField("clip_a", T.StringType(), False),
    T.StructField("clip_b", T.StringType(), False),
    T.StructField("snr_centi_db", T.LongType(), False),
])


def _normalized_snr_db(a: np.ndarray, b: np.ndarray) -> float:
    """SNR of b against a after optimally scaling b to a (least-squares
    gain), i.e. how well b is an amplitude-scaled copy of a. Exact-integer
    accumulators; only the final ratio is float."""
    if a.size != b.size or a.size == 0:
        return float("-inf")
    p_a = float(np.dot(a, a))
    p_b = float(np.dot(b, b))
    ab = float(np.dot(a, b))
    if p_a == 0.0 or p_b == 0.0:
        return float("-inf")
    # residual power of a - g*b with optimal g = <a,b>/<b,b>
    p_res = p_a - ab * ab / p_b
    if p_res <= 0.0:
        return float("inf")
    return 10.0 * math.log10(p_a / p_res)


def _verify_pairs(pairs: DataFrame, cols: typing.Sequence[str], schema: T.StructType,
                  snr_threshold_db: float) -> DataFrame:
    """The verify stage of both acoustic pair operators: ``cols`` are
    (id_a, id_b, bytes_a, bytes_b); a pair is kept when its
    :func:`_normalized_snr_db` is at least ``snr_threshold_db`` and is
    emitted as (id_a, id_b, snr in integer centi-dB, 10**9 for an exact
    copy) for cross-engine hashing."""
    thr = float(snr_threshold_db)

    def verify(id_a, id_b, raw_a, raw_b):
        snr = _normalized_snr_db(_decode(raw_a), _decode(raw_b))
        if snr >= thr:
            yield (id_a, id_b, 10 ** 9 if math.isinf(snr) else int(snr * 100))

    return row_map(pairs, cols, schema, verify)


def acoustic_dup_pairs(df: DataFrame, *, id_col: str = "clip_id",
                       bytes_col: str = "bytes", sr_col: str = "sr_hz",
                       snr_threshold_db: float = 25.0,
                       max_bucket: typing.Optional[int] = 10_000) -> DataFrame:
    """Acoustic near-duplicate pairs: block on the spectral fingerprint,
    verify candidates with scale-normalized SNR >= ``snr_threshold_db``.

    Plan shape (the one that survives 10^12 clips): full-corpus PCM
    bytes never enter a shuffle — only candidate-bucket rows do. Limit:
    the duplicate-bucket keys and the candidate (clip_id, fingerprint)
    set are broadcast, so each must fit Spark's per-relation broadcast
    limit (8 GB). A corpus that is mostly duplicates, whose candidate
    set is past it, fails the job with Spark's broadcast error; it does
    not fall back to a shuffle join.

    1. one narrow pass computes the slim (clip_id, fingerprint) table
       (~40 B/row, persisted — it has three consumers; bytes stay in the
       source files);
    2. duplicate-bucket detection: groupBy(fingerprint).count() keeps
       buckets with 2..max_bucket members — map-side partial combine over
       the slim table. The upper cap kills degenerate hot keys (same
       rationale as operators/dedup.py's LSH cap; ``max_bucket=None`` =
       exact). A dedup workload's duplicate-bucket set is small, so it
       broadcasts;
    3. candidate ids broadcast against a second source scan — only
       candidate rows' bytes are materialized past the scan and only they
       enter the pair-forming fingerprint self-join shuffle;
    4. verify stage: Arrow-batched pairwise scale-normalized SNR, emitted
       in centi-dB (integer) for cross-engine hashing.

    Returns (clip_a < clip_b, snr_centi_db), one row per verified pair.
    """
    from pyspark import StorageLevel

    # slim pass (~40 B/row, no bytes) persisted because three consumers
    # read it (bucket counts, candidate ids, and their join); persisting
    # the corpus BYTES instead would be memory-hostile — the raw bytes are
    # re-read from the source scan only for candidate rows below. At
    # warehouse scale the persist's equivalent is staging the fingerprint
    # table to a temp table.
    fps = hold(spectral_fingerprint(df, id_col=id_col, bytes_col=bytes_col, sr_col=sr_col)
               .persist(StorageLevel.MEMORY_AND_DISK))

    counts = fps.groupBy("fingerprint").count()
    dup_fp = counts.where(F.col("count") >= 2)
    if max_bucket is not None:
        dup_fp = dup_fp.where(F.col("count") <= max_bucket)
    # a dedup workload's duplicate-bucket key set is small: broadcast it
    dup_keys = F.broadcast(dup_fp.select("fingerprint"))
    cand_ids = fps.join(dup_keys, "fingerprint")  # slim (clip_id, fingerprint)

    # fetch bytes for candidate rows only: broadcast the (rare) candidate
    # id set against the source scan — corpus bytes never shuffle
    cand = df.select(F.col(id_col).alias("clip_id"), F.col(bytes_col).alias("bytes")) \
             .join(F.broadcast(cand_ids), "clip_id")

    a = cand.select(
        F.col("fingerprint"),
        F.col("clip_id").alias("clip_a"),
        F.col("bytes").alias("bytes_a"),
    )
    b = cand.select(
        F.col("fingerprint"),
        F.col("clip_id").alias("clip_b"),
        F.col("bytes").alias("bytes_b"),
    )
    cand = a.join(b, "fingerprint").where(F.col("clip_a") < F.col("clip_b"))
    return _verify_pairs(cand, ["clip_a", "clip_b", "bytes_a", "bytes_b"],
                         DUP_PAIRS_SCHEMA, snr_threshold_db)


INCR_PAIRS_SCHEMA = T.StructType([
    T.StructField("clip_store", T.StringType(), False),
    T.StructField("clip_new", T.StringType(), False),
    T.StructField("snr_centi_db", T.LongType(), False),
])


def acoustic_incremental_pairs(
        store_fps: DataFrame, store_src: DataFrame, new_df: DataFrame, *,
        id_col: str = "clip_id", bytes_col: str = "bytes",
        sr_col: str = "sr_hz", snr_threshold_db: float = 25.0,
        max_bucket: typing.Optional[int] = 10_000) -> DataFrame:
    """Incremental acoustic dedup against a persisted fingerprint store
    — the daily-ingest form of ``acoustic_dup_pairs`` (the
    dedup_incremental convention applied to audio): only the NEW batch
    is fingerprinted; candidates are fingerprints present on BOTH
    sides; output is CROSS pairs (clip_store, clip_new, snr_centi_db)
    only. Store-internal pairs were yesterday's batch run;
    new-internal pairs are ``acoustic_dup_pairs(new_df)`` — run it
    separately, this operator never re-reports either.

    Contract (mirrors dedup_incremental): ``store_fps`` is the slim
    (clip_id, fingerprint) table persisted/staged by a previous
    ``spectral_fingerprint`` run over the SAME fingerprint rule —
    identical blocking is what makes incremental == batch-over-union
    restricted to cross pairs, which is the equality the oracle
    attests; ``store_src`` supplies store bytes for candidate clips
    only (the warehouse scan — store PCM is NEVER re-fingerprinted);
    store and new clip ids must be disjoint. The ``max_bucket`` cap
    applies to the UNION bucket size (n_store + n_new, the
    assign_entities rule — a cap that counted only one side would bind
    differently than the batch run's).

    Scale shape: one narrow fingerprint pass over the new batch
    (persisted — two consumers); bucket counting is a
    map-side-combined tagged-union agg over SLIM rows; candidate
    fingerprints broadcast back against both slim tables; candidate
    BYTES are fetched by broadcast id-joins against the two source
    scans, so corpus bytes never enter a shuffle on either side. The
    broadcast candidate sets must fit Spark's per-relation broadcast
    limit (8 GB), the same limit as acoustic_dup_pairs': past it the
    job fails with Spark's broadcast error. Verify is the
    batch op's Arrow-batched scale-normalized SNR, centi-dB integer.
    """
    from pyspark import StorageLevel

    new_fps = hold(spectral_fingerprint(new_df, id_col=id_col, bytes_col=bytes_col,
                                        sr_col=sr_col).persist(StorageLevel.MEMORY_AND_DISK))

    tagged = (store_fps.select("fingerprint")
              .withColumn("__new__", F.lit(0))
              .unionByName(new_fps.select("fingerprint")
                           .withColumn("__new__", F.lit(1))))
    counts = tagged.groupBy("fingerprint").agg(
        F.sum(F.lit(1) - F.col("__new__")).alias("n_store"),
        F.sum("__new__").alias("n_new"))
    cand_fp = counts.where((F.col("n_store") >= 1) & (F.col("n_new") >= 1))
    if max_bucket is not None:
        cand_fp = cand_fp.where(
            (F.col("n_store") + F.col("n_new")) <= int(max_bucket))
    cand_fp = F.broadcast(cand_fp.select("fingerprint"))

    def _fetch(src: DataFrame, slim: DataFrame, side: str) -> DataFrame:
        keys = slim.join(cand_fp, "fingerprint")  # slim (clip_id, fp)
        return (src.select(F.col(id_col).alias("clip_id"),
                           F.col(bytes_col).alias("bytes"))
                .join(F.broadcast(keys), "clip_id")
                .select(F.col("fingerprint"),
                        F.col("clip_id").alias("clip_" + side),
                        F.col("bytes").alias("bytes_" + side)))

    pairs = (_fetch(store_src, store_fps, "store")
             .join(_fetch(new_df, new_fps, "new"), "fingerprint"))
    return _verify_pairs(pairs, ["clip_store", "clip_new", "bytes_store", "bytes_new"],
                         INCR_PAIRS_SCHEMA, snr_threshold_db)


def speech_rate(
    df: DataFrame,
    *,
    id_col: str = "clip_id",
    transcript_col: str = "transcript",
    dur_col: str = "dur_ms",
    min_mwps: typing.Optional[int] = None,
    max_mwps: typing.Optional[int] = None,
) -> DataFrame:
    """Transcript-vs-audio consistency: words per second of each clip as
    the exact integer rate_mwps = n_words * 1_000_000 div dur_ms
    (milli-words-per-second), optionally filtered to rows outside
    [min_mwps, max_mwps]. The multimodal QC check ASR pipelines run — a
    transcript pasted onto the wrong clip, a truncated recording, or a
    hallucinated transcription shows up as an impossible speech rate
    long before any acoustic model does.

    Pure native row-local expressions (split + size + integer div): one
    pruned scan of (id, transcript, dur), whole-stage codegen, no
    Python, no shuffle — the audio bytes column is never read. Rows
    with NULL transcript or non-positive duration are emitted with
    rate_mwps NULL (and always flagged when bounds are set): an
    unmeasurable rate is a violation, not a pass."""
    n_words = F.when(
        F.col(transcript_col).isNull() | (F.length(F.trim(F.col(transcript_col))) == 0),
        F.lit(0),
    ).otherwise(F.size(F.split(F.trim(F.col(transcript_col)), " +"))).cast("long")
    out = df.select(
        F.col(id_col),
        n_words.alias("n_words"),
        F.col(dur_col).cast("long").alias("dur_ms"),
    ).withColumn(
        "rate_mwps",
        F.when(F.col("dur_ms") > 0,
               F.expr("n_words * 1000000 div dur_ms")).otherwise(F.lit(None)),
    )
    if min_mwps is None and max_mwps is None:
        return out
    cond = F.col("rate_mwps").isNull()
    if min_mwps is not None:
        cond = cond | (F.col("rate_mwps") < min_mwps)
    if max_mwps is not None:
        cond = cond | (F.col("rate_mwps") > max_mwps)
    return out.where(cond)


def pack_audit(
    df: DataFrame,
    ladder: typing.Sequence[int],
    *,
    dur_col: str = "dur_ms",
) -> DataFrame:
    """Length-bucket batch-packing audit: (bucket_ms, n_clips,
    sum_dur_ms, pad_ms, pad_ppm) per ladder rung — how much compute a
    pad-to-bucket training batcher would burn on silence. Each clip
    lands in the smallest rung >= its duration; clips longer than the
    top rung report under bucket_ms=NULL (the overflow set a chunker —
    :func:`segment` — must handle first, so its pad columns are NULL,
    never a fake zero). NULL durations are excluded (missing metadata is
    the notnull check's finding, not a packing decision).

    pad_ms = bucket_ms * n_clips - sum_dur_ms; pad_ppm = the padded
    fraction of the bucket's total padded samples, exact integer DIV.
    Metadata-only: ONE pruned scan (dur column, bytes never read), a
    row-local CASE ladder label, ONE map-side-combined agg; O(rungs)
    output. The ladder itself is the tuning knob the audit feeds: high
    pad_ppm on a rung means split that rung.
    """
    rungs = sorted(set(int(x) for x in ladder))
    if not rungs or rungs[0] <= 0:
        raise ValueError("ladder must be positive rungs")
    d = F.col(dur_col)
    label = F.lit(None).cast("long")
    for r in reversed(rungs):
        label = F.when(d <= r, F.lit(r).cast("long")).otherwise(label)
    g = (
        df.where(d.isNotNull())
        .groupBy(label.alias("bucket_ms"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_clips"),
            F.sum(d).cast("long").alias("sum_dur_ms"),
        )
    )
    return g.select(
        "bucket_ms",
        "n_clips",
        "sum_dur_ms",
        F.when(
            F.col("bucket_ms").isNotNull(),
            F.col("bucket_ms") * F.col("n_clips") - F.col("sum_dur_ms"),
        ).alias("pad_ms"),
        # bucket_ms * n_clips rides decimal(38,0): the BIGINT product
        # wraps silently past ~9.2e12 clip-ms (a 10s rung holding 1e9
        # clips — inside the 10^12-row design target). DIV on decimals
        # is exact integral division (boundary-tested in
        # tests/test_exact_math.py's empirical note); pad_ppm <= 1e6
        # always fits the BIGINT output.
        F.when(
            F.col("bucket_ms").isNotNull(),
            F.expr(
                "CAST(((CAST(bucket_ms AS DECIMAL(38,0)) * n_clips"
                " - sum_dur_ms) * 1000000)"
                " DIV (CAST(bucket_ms AS DECIMAL(38,0)) * n_clips) AS BIGINT)"
            ),
        ).alias("pad_ppm"),
    )


TRIM_BOUNDS_SCHEMA = T.StructType([
    T.StructField("clip_id", T.StringType(), False),
    T.StructField("n_frames", T.LongType(), False),
    T.StructField("lead_silent", T.LongType(), False),
    T.StructField("trail_silent", T.LongType(), False),
    T.StructField("max_silent_run", T.LongType(), False),
])


def trim_bounds(df: DataFrame, *, id_col: str = "clip_id",
                bytes_col: str = "bytes", sr_col: str = "sr_hz",
                frame_ms: int = 10,
                silent_peak_below: int = 1) -> DataFrame:
    """Silence run-length localization: WHERE the silence sits, per
    clip — leading / trailing silent-frame counts (the trim boundaries
    a preprocessing crop would cut) and the longest internal silent
    run (the dead-air detector). frame_silence answers "how much of
    this clip is silent"; a training pipeline also needs "can I trim
    it, and is there a mid-clip dropout" — a 10-second clip that is
    50% silent reads very differently when the silence is one leading
    block versus scattered dead air.

    Frame classification is frame_silence's: both call
    :func:`_frame_peaks` (frame length ``sr * frame_ms // 1000``, full
    frames only), and a frame is silent when its peak magnitude is
    strictly below ``silent_peak_below``, so an oracle or downstream
    check derived for one operator transfers to the other verbatim.

    One narrow row_map pass over (id, bytes, sr): corpus bytes never
    shuffle, output is 5 scalars per clip, the run-length scan is
    :func:`_runs` (vectorized numpy over the padded mask diff), and the
    per-clip loop is the same irreducible ragged-length iteration every
    audio kernel here pays.
    """

    def bounds(cid, raw, sr):
        sr = _meta_int(sr)
        if sr is None:
            return  # no frame length without a sample rate
        fr = _frame_peaks(np.abs(_decode(raw)), sr, frame_ms)
        nf = int(fr.size)
        starts, ends = _runs(fr < silent_peak_below)
        lead = trail = max_run = 0
        if starts.size:
            runs = ends - starts
            max_run = int(runs.max())
            lead = int(runs[0]) if starts[0] == 0 else 0
            trail = int(runs[-1]) if ends[-1] == nf else 0
        yield (cid, nf, lead, trail, max_run)

    return row_map(df, [id_col, bytes_col, sr_col], TRIM_BOUNDS_SCHEMA, bounds)


UTTERANCE_SCHEMA = T.StructType([
    T.StructField("clip_id", T.StringType(), False),
    T.StructField("utt_idx", T.IntegerType(), False),
    T.StructField("start_frame", T.LongType(), False),
    T.StructField("n_frames", T.LongType(), False),
    T.StructField("start_ms", T.LongType(), False),
    T.StructField("dur_ms", T.LongType(), False),
])


def utterances(df: DataFrame, *, id_col: str = "clip_id",
               bytes_col: str = "bytes", sr_col: str = "sr_hz",
               frame_ms: int = 10, silent_peak_below: int = 1,
               min_frames: int = 1) -> DataFrame:
    """Silence-split utterance extraction: per clip, every maximal run
    of NON-silent frames at least ``min_frames`` long, as
    (clip_id, utt_idx, start_frame, n_frames, start_ms, dur_ms) — the
    ASR-pipeline step between frame_silence ("how much is silent") /
    trim_bounds ("where does the silence sit") and segment ("slice for
    training"): a long recording becomes the voiced spans an aligner
    or transcript matcher consumes.

    Frame classification is frame_silence's and trim_bounds': all three
    call :func:`_frame_peaks` (frame length ``sr * frame_ms // 1000``,
    full frames only), and a frame is silent when its peak magnitude is
    strictly below ``silent_peak_below``, so the closed-form injection
    oracles derived for those operators transfer verbatim. ``utt_idx`` numbers the
    EMITTED runs 0..k-1 (runs shorter than ``min_frames`` are dropped,
    not merged — two long spans separated by one sub-threshold blip
    stay two utterances and the blip vanishes; merging across short
    SILENCE gaps is the caller's policy via a larger frame_ms).

    One narrow row_map pass over (id, bytes, sr): corpus bytes never
    shuffle, the voiced-run scan is trim_bounds' :func:`_runs`, and
    output rows are 6 scalars per utterance.
    """
    if min_frames < 1:
        raise ValueError("min_frames must be >= 1")

    def spans(cid, raw, sr):
        sr = _meta_int(sr)
        if sr is None:
            return  # no frame length without a sample rate
        starts, ends = _runs(_frame_peaks(np.abs(_decode(raw)), sr, frame_ms)
                             >= silent_peak_below)
        idx = 0
        for st, en in zip(starts.tolist(), ends.tolist()):
            if en - st >= min_frames:
                yield (cid, idx, st, en - st, st * frame_ms, (en - st) * frame_ms)
                idx += 1

    return row_map(df, [id_col, bytes_col, sr_col], UTTERANCE_SCHEMA, spans)
