"""The north-star constraint suite for the audio clips table.

Binds BASELINE.json's required checks to the engine
(FIXTURES.md §B "Constraint suite bound to this table"):

- sr_hz   in {8000, 16000, 44100, 48000}   -> native IN predicate (codegen)
- dur_ms  > 0                              -> InRange(min=1), native
- codec   in allowed set                   -> native IN
- codec   referential vs codec_dim         -> inlined row-local IN (the
  dim is a 4-row local frame, so InTableValidation inlines it into the
  single scan; a dim read from storage keeps the anti-join plan)
- transcript matches ^[a-z0-9 ,.'?!-]+$    -> native rlike
- transcript non-null                      -> native isNotNull
- clip_id shape clip_############          -> native rlike
- clip_id uniqueness (keep='first')        -> map-side-combined hash agg
- bytes: decoded-PCM length + SNR>=30dB vs the sha256-derived synthesis
  oracle, and transcript equality vs the oracle                -> two
  Arrow pandas_udfs (cross-column), each over its own struct, fully
  distributed: one ArrowEvalPython node evaluates both, and clip_id
  crosses to the Python worker once per struct (twice)

All row-local checks (including the two Arrow UDF checks and the inlined
codec referential) compile into ONE scan; the uniqueness agg is the only
shuffle.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from .column import Column
from .schema import Schema, ValidationResult
from .sources.datagen import ALLOWED_SR, TRANSCRIPT_PATTERN
from .functions import audio as A
from .validation import (
    CustomRowValidation,
    InListValidation,
    InRangeValidation,
    InTableValidation,
    IsDistinctValidation,
    MatchesPatternValidation,
    NotNullValidation,
)

SNR_THRESHOLD_DB = 30.0


def _parse_ordinal(clip_id: str):
    if isinstance(clip_id, str) and clip_id.startswith("clip_") and clip_id[5:].isdigit():
        return int(clip_id[5:])
    return None


#: per-seed memo of the two Arrow check objects: the checks are pure code,
#: and rebuilding them per validate_clips call re-registers their pandas
#: UDFs — driver-serial plan-build time the bench pays per timed pass
_PCM_CHECKS: dict = {}
_TRANSCRIPT_CHECKS: dict = {}


def pcm_integrity_validation(seed: int = 42) -> CustomRowValidation:
    """Decoded-PCM invariant vs the per-row synthesis oracle (input_hint):
    stored sr_hz/dur_ms must match the sha256-derived fields for the
    clip_id's ordinal, len(bytes) must equal 2*sr*dur/1000 samples, and
    SNR(resynthesized, decoded) >= 30 dB."""
    cached = _PCM_CHECKS.get(seed)
    if cached is not None:
        return cached

    def _check(batch: pd.DataFrame) -> pd.Series:
        out = np.zeros(len(batch), dtype=bool)
        ids = batch["clip_id"].to_numpy()
        raws = batch["bytes"].to_numpy()
        srs = batch["sr_hz"].to_numpy()
        durs = batch["dur_ms"].to_numpy()
        # stage 1 (inherently per row): sha256-derived oracle fields +
        # the cheap field/length gates. Survivors group by (sr, dur) so
        # stage 2 can run ONE 2D synth kernel per group instead of one
        # ~12 us kernel per clip — the dominant per-row dispatch cost
        # (synth_pcm_batch is bitwise-identical to the scalar form).
        groups: dict = {}
        for j in range(len(batch)):
            ordinal = _parse_ordinal(ids[j])
            if ordinal is None or raws[j] is None:
                continue
            sr, dur_ms, f1, f2, p1, p2, amp = A.clip_synth_params(seed, ordinal)
            if sr != srs[j] or dur_ms != durs[j]:
                continue
            if len(raws[j]) != A.expected_len_bytes(srs[j], durs[j]):
                continue
            groups.setdefault((sr, dur_ms), []).append(
                (j, f1, f2, p1, p2, amp))
        for (sr, dur_ms), rows in groups.items():
            idx = [r[0] for r in rows]
            refs = A.synth_pcm_batch(
                sr, dur_ms,
                [r[1] for r in rows], [r[2] for r in rows],
                [r[3] for r in rows], [r[4] for r in rows],
                [r[5] for r in rows])
            # equal stored lengths within a group (gated above), so the
            # decoded batch stacks into one (m, n) matrix
            dec = np.frombuffer(
                b"".join(raws[j] for j in idx), dtype="<i2"
            ).reshape(len(idx), -1)
            # SNR stays the per-row BLAS-dot form (bit-compat with
            # snr_db); the dots are ~2 us/row, not the hot kernel
            for k, j in enumerate(idx):
                if A.snr_db(refs[k], dec[k]) >= SNR_THRESHOLD_DB:
                    out[j] = True
        return pd.Series(out, index=batch.index)

    out = CustomRowValidation(
        ["clip_id", "bytes", "sr_hz", "dur_ms"],
        _check,
        "decoded PCM does not match the synthesis oracle (length/SNR>=30dB/field mismatch)",
    )
    _PCM_CHECKS[seed] = out
    return out


def transcript_oracle_validation(seed: int = 42) -> CustomRowValidation:
    """Transcript equality vs the synthesis oracle (input_hint per-row
    invariant). Vectorized apply inside the Arrow batch."""
    cached = _TRANSCRIPT_CHECKS.get(seed)
    if cached is not None:
        return cached

    def _check(batch: pd.DataFrame) -> pd.Series:
        # plain loop over numpy arrays: ~10x less per-row overhead than
        # DataFrame.apply(axis=1); the sha256-derived oracle is inherently
        # per-row, but everything around it should not be pandas machinery
        ids = batch["clip_id"].to_numpy()
        ts = batch["transcript"].to_numpy()
        out = np.zeros(len(batch), dtype=bool)
        for j in range(len(batch)):
            ordinal = _parse_ordinal(ids[j])
            if ordinal is None or ts[j] is None:
                continue
            out[j] = A.clip_transcript(seed, ordinal) == ts[j]
        return pd.Series(out, index=batch.index)

    out = CustomRowValidation(
        ["clip_id", "transcript"], _check, "transcript does not equal the synthesis oracle")
    _TRANSCRIPT_CHECKS[seed] = out
    return out


def clips_schema(codec_dim_df=None, *, seed: int = 42, with_pcm_checks: bool = True) -> Schema:
    """The full constraint suite as a Schema over the 6 public clip columns."""
    codec_checks = [InListValidation(["pcm_s16le", "flac", "opus", "mp3"])]
    if codec_dim_df is not None:
        # the codec dimension is a 4-row local frame (FIXTURES.md §C1),
        # so the referential check inlines and fuses into the single
        # row-local scan instead of planning an anti-join branch
        codec_checks.append(InTableValidation(codec_dim_df, "codec"))
    bytes_checks = []
    transcript_checks = [
        NotNullValidation(),
        MatchesPatternValidation(TRANSCRIPT_PATTERN),
    ]
    if with_pcm_checks:
        bytes_checks.append(pcm_integrity_validation(seed))
        transcript_checks.append(transcript_oracle_validation(seed))
    return Schema([
        Column("clip_id", [
            MatchesPatternValidation(r"^clip_\d{12}$"),
            IsDistinctValidation(),
        ]),
        Column("bytes", bytes_checks),
        Column("sr_hz", [InListValidation(ALLOWED_SR)]),
        Column("dur_ms", [InRangeValidation(min=1)]),
        Column("codec", codec_checks),
        Column("transcript", transcript_checks),
    ])


PUBLIC_COLUMNS = ["clip_id", "bytes", "sr_hz", "dur_ms", "codec", "transcript"]


def validate_clips(df, codec_dim_df=None, *, seed: int = 42,
                   with_pcm_checks: bool = True, row_key: str = "row_ord") -> ValidationResult:
    """Run the suite; df may carry extra warehouse columns (row_ord,
    bucket) — validation is scoped to the 6 public columns via subset.
    ``row_key`` names a stored column with partitioning-independent row
    identity; ``None`` numbers rows in read order."""
    schema = clips_schema(codec_dim_df, seed=seed, with_pcm_checks=with_pcm_checks)
    return schema.validate(df, columns=PUBLIC_COLUMNS, row_key=row_key)
