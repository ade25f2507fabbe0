"""Deterministic synthetic clips warehouse (FIXTURES.md §B).

Generates the audio+transcript main table per BASELINE.json's input_hint::

    clip_id string, bytes binary, sr_hz int, dur_ms int, codec string,
    transcript string

fully distributed: ``spark.range(n)`` fans the ordinal space over
partitions and a ``frames.row_map`` synthesizer derives every field of row
``i`` from ``sha256(f"{seed}:{i}")`` (functions/audio.py) — no data ever
moves to the driver, generation scales linearly with cores, and re-running
at any partitioning yields identical rows.

Violation injection (closed-form, testable): every row with
``i % INJECT_MOD == 0 and i > 0`` carries exactly one violation, class
``(i // INJECT_MOD) % 6``:

    0: duplicate clip_id (copies row i-1's id)
    1: invalid sr_hz 11025
    2: dur_ms <- 0 (bytes untouched => length mismatch too)
    3: unknown codec 'wav_unknown'
    4: transcript NULL
    5: transcript with illegal characters

Expected violation sets are therefore computable in closed form by
``expected_violations``.
"""

from __future__ import annotations

import typing

import numpy as np
from pyspark.sql import DataFrame, SparkSession, functions as F, types as T

from ..frames import local_frame, row_map
from ..functions import audio as A

INJECT_MOD = 997
N_CLASSES = 6

CLIPS_SCHEMA = T.StructType([
    T.StructField("row_ord", T.LongType(), False),
    T.StructField("clip_id", T.StringType(), False),
    T.StructField("bytes", T.BinaryType(), True),
    T.StructField("sr_hz", T.IntegerType(), True),
    T.StructField("dur_ms", T.IntegerType(), True),
    T.StructField("codec", T.StringType(), True),
    T.StructField("transcript", T.StringType(), True),
])

ALLOWED_SR = [8000, 16000, 44100, 48000]
TRANSCRIPT_PATTERN = r"^[a-z0-9 ,.'?!-]+$"


def injected_class(i: int) -> typing.Optional[int]:
    if i > 0 and i % INJECT_MOD == 0:
        return (i // INJECT_MOD) % N_CLASSES
    return None


def _synth_row(seed: int, i: int, with_audio: bool) -> dict:
    f = A.clip_fields(seed, i)
    row = {
        "row_ord": i,
        "clip_id": f["clip_id"],
        "bytes": A.synth_bytes(seed, i) if with_audio else b"",
        "sr_hz": f["sr_hz"],
        "dur_ms": f["dur_ms"],
        "codec": f["codec"],
        "transcript": f["transcript"],
    }
    cls = injected_class(i)
    if cls == 0:
        row["clip_id"] = "clip_{:012d}".format(i - 1)
    elif cls == 1:
        row["sr_hz"] = 11025
    elif cls == 2:
        row["dur_ms"] = 0
    elif cls == 3:
        row["codec"] = "wav_unknown"
    elif cls == 4:
        row["transcript"] = None
    elif cls == 5:
        row["transcript"] = "ILLEGAL @ CHARS #"
    return row


def _clips_frame(spark: SparkSession, n: int, partitions: typing.Optional[int],
                 make_row: typing.Callable[[int], dict]) -> DataFrame:
    """The CLIPS_SCHEMA table of ``make_row(i)`` (a dict keyed by field
    name) for every ordinal ``i`` of ``spark.range(n)``."""
    rng = spark.range(0, n, 1, partitions) if partitions else spark.range(n)
    names = CLIPS_SCHEMA.fieldNames()

    def clip(i):
        row = make_row(int(i))
        yield tuple(row[k] for k in names)

    return row_map(rng, ["id"], CLIPS_SCHEMA, clip)


def clips_df(spark: SparkSession, n: int, seed: int = 42, *,
             with_audio: bool = True, partitions: int = None) -> DataFrame:
    """Distributed deterministic clips table of n rows."""
    return _clips_frame(spark, n, partitions, lambda i: _synth_row(seed, i, with_audio))


def write_clips(spark: SparkSession, path: str, n: int, seed: int = 42, *,
                with_audio: bool = True, partitions: int = None,
                bucket_count: int = 32) -> None:
    """Materialize the clips warehouse as Parquet with a `bucket` partition
    column (i mod bucket_count) — the unit of checkpoint/resume lineage.

    The repartition-by-bucket before partitionBy is load-bearing: without
    it every generator task writes a sliver into every bucket directory
    (tasks x buckets files — measured 8192 ~170 KB files for a 200k-row
    table, and scans went flat because footer reads dominated). Clustering
    rows so each task holds whole buckets yields one well-sized file per
    bucket — the same rule that keeps a 100 TB Iceberg table at
    128 MB-1 GB data files instead of millions of manifests-worth of
    small-file debris."""
    df = clips_df(spark, n, seed, with_audio=with_audio, partitions=partitions)
    (df.withColumn("bucket", F.pmod(F.col("row_ord"), F.lit(bucket_count)).cast("int"))
       .repartition(bucket_count, F.col("bucket"))
       .write.mode("overwrite").partitionBy("bucket").parquet(path))


def codec_dim(spark: SparkSession) -> DataFrame:
    """FIXTURES.md §C1: the 4-row codec dimension table."""
    return local_frame(
        spark,
        [("pcm_s16le", "wav", False), ("flac", "flac", False),
         ("opus", "ogg", True), ("mp3", "mp3", True)],
        T.StructType([
            T.StructField("codec", T.StringType(), False),
            T.StructField("container", T.StringType(), False),
            T.StructField("lossy", T.BooleanType(), False),
        ]),
    )


def expected_violations(n: int) -> typing.Dict[int, typing.List[int]]:
    """Closed-form oracle: {class: sorted row ordinals with that violation}."""
    out: typing.Dict[int, typing.List[int]] = {c: [] for c in range(N_CLASSES)}
    for i in range(INJECT_MOD, n, INJECT_MOD):
        out[(i // INJECT_MOD) % N_CLASSES].append(i)
    return out


# ---------------------------------------------------------------------------
# audio-payload injection tables (operators/audio.py oracles)
# ---------------------------------------------------------------------------

#: PCM-defect injection: every row with i % AUDIO_INJECT_MOD == 0 and i > 0
#: carries one audio defect, class (i // AUDIO_INJECT_MOD) % 4:
#:   0 full silence (all-zero samples, original length)
#:   1 full-scale clipping (alternating +/-32767 square, original length)
#:   2 half silence (first n//2 samples zeroed)
#:   3 truncation (only the first n//2 samples stored -> length mismatch)
#: Coprime with INJECT_MOD (997) by construction, but these tables skip the
#: base metadata injection entirely — all non-bytes columns stay valid so
#: audio-feature oracles are pure functions of the audio rule.
AUDIO_INJECT_MOD = 211
AUDIO_N_CLASSES = 4


def audio_injected_class(i: int) -> typing.Optional[int]:
    if i > 0 and i % AUDIO_INJECT_MOD == 0:
        return (i // AUDIO_INJECT_MOD) % AUDIO_N_CLASSES
    return None


def _audio_quality_row(seed: int, i: int) -> dict:
    f = A.clip_fields(seed, i)
    pcm = A.synth_pcm(f["sr_hz"], f["dur_ms"], f["f1"], f["f2"], f["p1"], f["p2"], f["amp"])
    cls = audio_injected_class(i)
    if cls == 0:
        pcm = np.zeros_like(pcm)
    elif cls == 1:
        sq = np.full(pcm.shape, 32767, dtype=np.int16)
        sq[1::2] = -32767
        pcm = sq
    elif cls == 2:
        pcm = pcm.copy()
        pcm[: pcm.size // 2] = 0
    elif cls == 3:
        pcm = pcm[: pcm.size // 2]
    return {
        "row_ord": i,
        "clip_id": f["clip_id"],
        "bytes": pcm.astype("<i2").tobytes(),
        "sr_hz": f["sr_hz"],
        "dur_ms": f["dur_ms"],
        "codec": f["codec"],
        "transcript": f["transcript"],
    }


def audio_quality_clips_df(spark: SparkSession, n: int, seed: int = 42, *,
                           partitions: int = None) -> DataFrame:
    """Clips table with deterministic PCM defects injected per
    ``audio_injected_class`` — drives the audio_stats / frame_silence /
    length-consistency oracles. Metadata columns carry NO injected
    violations (unlike clips_df)."""
    return _clips_frame(spark, n, partitions, lambda i: _audio_quality_row(seed, i))


#: acoustic near-duplicate injection: every row with
#: i % NEAR_DUP_MOD == NEAR_DUP_OFFSET is a re-encode of source row
#: s = i - NEAR_DUP_OFFSET (same tones/phases/sr/dur/transcript, amplitude
#: scaled by NEAR_DUP_AMP_SCALE then re-quantized to int16 — byte-distinct
#: but acoustically identical). Sources sit at s % NEAR_DUP_MOD == 0 so a
#: duplicate is never itself a source (no chains), and every duplicate has
#: a distinct source.
NEAR_DUP_MOD = 163
NEAR_DUP_OFFSET = 5
NEAR_DUP_AMP_SCALE = 0.97


def near_dup_source(i: int) -> typing.Optional[int]:
    if i % NEAR_DUP_MOD == NEAR_DUP_OFFSET and i >= NEAR_DUP_OFFSET:
        return i - NEAR_DUP_OFFSET
    return None


def _near_dup_row(seed: int, i: int) -> dict:
    src = near_dup_source(i)
    if src is None:
        f = A.clip_fields(seed, i)
        return {
            "row_ord": i,
            "clip_id": f["clip_id"],
            "bytes": A.synth_bytes(seed, i),
            "sr_hz": f["sr_hz"],
            "dur_ms": f["dur_ms"],
            "codec": f["codec"],
            "transcript": f["transcript"],
        }
    f = A.clip_fields(seed, src)
    pcm = A.synth_pcm(f["sr_hz"], f["dur_ms"], f["f1"], f["f2"], f["p1"], f["p2"],
                      f["amp"] * NEAR_DUP_AMP_SCALE)
    return {
        "row_ord": i,
        "clip_id": "clip_{:012d}".format(i),
        "bytes": pcm.tobytes(),
        "sr_hz": f["sr_hz"],
        "dur_ms": f["dur_ms"],
        "codec": f["codec"],
        "transcript": f["transcript"],
    }


def near_dup_clips_df(spark: SparkSession, n: int, seed: int = 42, *,
                      partitions: int = None) -> DataFrame:
    """Clips table with injected acoustic near-duplicates (see
    near_dup_source) — drives the acoustic_dup_pairs oracle. Base metadata
    injection is suppressed (clip_id is always the row's own ordinal) so
    the expected pair set is exactly the closed-form injection rule."""
    return _clips_frame(spark, n, partitions, lambda i: _near_dup_row(seed, i))


#: WAV-container corruption injection: every row with
#: i % WAV_INJECT_MOD == 0 and i > 0 has one header defect,
#: class (i // WAV_INJECT_MOD) % 4:
#:   0 bad magic ('RIFX')           -> riff_ok False
#:   1 data_len/riff_size fields +2 -> len_ok False (fields vs file size)
#:   2 format code 2 (ADPCM)        -> fmt_pcm False
#:   3 payload truncated by 4 bytes -> len_ok False
WAV_INJECT_MOD = 199
WAV_N_CLASSES = 4


def wav_injected_class(i: int) -> typing.Optional[int]:
    if i > 0 and i % WAV_INJECT_MOD == 0:
        return (i // WAV_INJECT_MOD) % WAV_N_CLASSES
    return None


def _wav_row(seed: int, i: int) -> dict:
    import struct

    from ..functions.wav import wrap_wav

    f = A.clip_fields(seed, i)
    wav = bytearray(wrap_wav(A.synth_bytes(seed, i), f["sr_hz"]))
    cls = wav_injected_class(i)
    if cls == 0:
        wav[0:4] = b"RIFX"
    elif cls == 1:
        struct.pack_into("<I", wav, 4, struct.unpack_from("<I", wav, 4)[0] + 2)
        struct.pack_into("<I", wav, 40, struct.unpack_from("<I", wav, 40)[0] + 2)
    elif cls == 2:
        struct.pack_into("<H", wav, 20, 2)
    elif cls == 3:
        wav = wav[:-4]
    return {
        "row_ord": i,
        "clip_id": f["clip_id"],
        "bytes": bytes(wav),
        "sr_hz": f["sr_hz"],
        "dur_ms": f["dur_ms"],
        "codec": f["codec"],
        "transcript": f["transcript"],
    }


def wav_clips_df(spark: SparkSession, n: int, seed: int = 42, *,
                 partitions: int = None) -> DataFrame:
    """Clips table whose bytes are WAV containers (canonical 44-byte PCM
    header + the synthesized samples), with deterministic header
    corruption per wav_injected_class — drives the wav_header_stats
    oracle. Metadata columns carry no injected violations."""
    return _clips_frame(spark, n, partitions, lambda i: _wav_row(seed, i))


def expected_near_dup_pairs(n: int) -> typing.List[typing.Tuple[str, str]]:
    """Closed-form oracle for acoustic_dup_pairs over near_dup_clips_df."""
    out = []
    i = NEAR_DUP_OFFSET
    while i < n:
        out.append(("clip_{:012d}".format(i - NEAR_DUP_OFFSET), "clip_{:012d}".format(i)))
        i += NEAR_DUP_MOD
    return out
