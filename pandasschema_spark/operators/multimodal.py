"""Multimodal (image/video) binary-column operators.

Engine extension for training-data pipelines: media payloads are opaque
``binary`` columns with typed metadata, processed by per-payload kernels
run through ``frames.row_map`` (Arrow-batched ``mapInPandas`` stages) —
the same pattern the audio layer (operators/audio.py) uses for PCM.

This container ships no image/video codecs (no PIL/ffmpeg), so REAL
decode is stubbed: each operator first tries the real library behind an
import-gate and otherwise requires the deterministic in-repo FAKE format
below (raising NotImplementedError for foreign bytes). The Spark-side
plumbing — schemas, UDF signatures, Arrow batch shapes, partition
behavior — is real and tested; swapping in PIL/pyav on a real cluster
changes only the per-batch decode call.

FAKE media format (deterministic, self-describing):
    image: b"FIMG" | u16 width | u16 height | u8 channels | pixels (w*h*c bytes)
    video: b"FVID" | u16 width | u16 height | u8 channels | u16 n_frames
           | frames (n_frames consecutive FIMG pixel payloads)

All integers little-endian. Pixel (x, y, ch) of a generated image is
(seed + x*7 + y*13 + ch*31) % 256 — any executor can recompute the
oracle locally, mirroring the audio table's sha256-derived PCM.
"""

from __future__ import annotations

import struct
import typing

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F, types as T

from ..frames import row_map
from ..resources import hold
from .banding import bit_chunks, bucket_pairs, drop_hot_keys

try:  # real decoder, absent in this container
    from PIL import Image as _PIL_Image  # noqa: F401
except ImportError:
    _PIL_Image = None

IMG_MAGIC, VID_MAGIC = b"FIMG", b"FVID"


# ---------------------------------------------------------------------------
# fake codec (encode / decode)
# ---------------------------------------------------------------------------


def encode_fake_image(arr: np.ndarray) -> bytes:
    h, w, c = arr.shape
    return IMG_MAGIC + struct.pack("<HHB", w, h, c) + arr.astype(np.uint8).tobytes()


def decode_image(raw: bytes) -> np.ndarray:
    """bytes -> (h, w, c) uint8. Fake format natively; real formats only
    when PIL is installed (import-gated), else NotImplementedError."""
    if raw[:4] == IMG_MAGIC:
        w, h, c = struct.unpack("<HHB", raw[4:9])
        return np.frombuffer(raw[9:9 + w * h * c], dtype=np.uint8).reshape(h, w, c)
    if _PIL_Image is not None:
        import io

        return np.asarray(_PIL_Image.open(io.BytesIO(raw)))
    raise NotImplementedError("no image codec in this environment for non-FIMG bytes")


def synth_image(seed: int, w: int, h: int, c: int = 3) -> np.ndarray:
    x = np.arange(w, dtype=np.int64)[None, :, None] * 7
    y = np.arange(h, dtype=np.int64)[:, None, None] * 13
    ch = np.arange(c, dtype=np.int64)[None, None, :] * 31
    return ((seed + x + y + ch) % 256).astype(np.uint8)


def encode_fake_video(frames: np.ndarray) -> bytes:
    n, h, w, c = frames.shape
    return (VID_MAGIC + struct.pack("<HHBH", w, h, c, n)
            + frames.astype(np.uint8).tobytes())


def decode_video(raw: bytes) -> np.ndarray:
    """bytes -> (n_frames, h, w, c) uint8 (fake container only; a real
    deployment dispatches to pyav/ffmpeg here)."""
    if raw[:4] != VID_MAGIC:
        raise NotImplementedError("no video codec in this environment for non-FVID bytes")
    w, h, c, n = struct.unpack("<HHBH", raw[4:11])
    return np.frombuffer(raw[11:11 + n * w * h * c], dtype=np.uint8).reshape(n, h, w, c)


# ---------------------------------------------------------------------------
# synthetic media table (datagen)
# ---------------------------------------------------------------------------

MEDIA_SCHEMA = T.StructType([
    T.StructField("media_id", T.LongType(), False),
    T.StructField("kind", T.StringType(), False),       # 'image' | 'video'
    T.StructField("payload", T.BinaryType(), False),
    T.StructField("width", T.IntegerType(), False),     # declared metadata
    T.StructField("height", T.IntegerType(), False),
])


#: media-payload defect injection (the AUDIO_INJECT_MOD playbook,
#: sources/datagen.py:147-163, applied to FIMG): every IMAGE row with
#: i % MEDIA_INJECT_MOD == 0 and i > 0 carries one defect, class
#: (i // MEDIA_INJECT_MOD) % 3:
#:   0 lying header   (declared width column = actual + 1; payload intact)
#:   1 truncation     (payload cut to 9 + (w*h*3)//2 bytes -> decode fails)
#:   2 foreign magic  (b"XIMG" prefix -> no codec -> decode refuses)
#: Video rows (i % 5 == 0) are never injected, so every defect exercises
#: the image decode path and the oracle stays one CASE over the rule.
MEDIA_INJECT_MOD = 89
MEDIA_N_CLASSES = 3


def media_injected_class(i: int) -> typing.Optional[int]:
    if i > 0 and i % MEDIA_INJECT_MOD == 0 and i % 5 != 0:
        return (i // MEDIA_INJECT_MOD) % MEDIA_N_CLASSES
    return None


def _media_row(seed: int, i: int, inject: bool = False):
    w, h = 16 + i % 17, 16 + i % 13
    if i % 5 == 0:
        frames = np.stack([synth_image(seed + i + f, w, h) for f in range(4)])
        return (i, "video", encode_fake_video(frames), w, h)
    payload = encode_fake_image(synth_image(seed + i, w, h))
    decl_w = w
    if inject:
        cls = media_injected_class(i)
        if cls == 0:
            decl_w = w + 1
        elif cls == 1:
            payload = payload[: 9 + (w * h * 3) // 2]
        elif cls == 2:
            payload = b"XIMG" + payload[4:]
    return (i, "image", payload, decl_w, h)


def _media_table(spark: SparkSession, n: int, seed: int, inject: bool,
                 partitions: int = None) -> DataFrame:
    # one builder for both corpora — the clean and defect tables must
    # never drift apart structurally (the media_integrity oracle relies
    # on non-injected rows being byte-identical across the two)
    rng = spark.range(0, n, 1, partitions) if partitions else spark.range(n)
    return row_map(rng, ["id"], MEDIA_SCHEMA,
                   lambda i: (_media_row(seed, int(i), inject=inject),))


def media_df(spark: SparkSession, n: int, seed: int = 42, *, partitions: int = None) -> DataFrame:
    """Distributed deterministic media table: row i is an image of
    (16 + i%17) x (16 + i%13), every 5th row a 4-frame video."""
    return _media_table(spark, n, seed, False, partitions)


def media_defect_df(spark: SparkSession, n: int, seed: int = 42, *,
                    partitions: int = None) -> DataFrame:
    """media_df with deterministic payload defects per
    ``media_injected_class`` — drives the media_integrity oracle the way
    audio_quality_clips_df drives the audio suite. Non-injected rows are
    byte-identical to media_df's."""
    return _media_table(spark, n, seed, True, partitions)


# ---------------------------------------------------------------------------
# operators (mapInPandas stages — narrow, partition-preserving)
# ---------------------------------------------------------------------------

FEATURES_SCHEMA = T.StructType([
    T.StructField("media_id", T.LongType(), False),
    T.StructField("width", T.IntegerType(), True),
    T.StructField("height", T.IntegerType(), True),
    T.StructField("channels", T.IntegerType(), True),
    T.StructField("mean_intensity", T.DoubleType(), True),
    T.StructField("ok", T.BooleanType(), False),        # decodable + metadata consistent
])


def image_features(df: DataFrame, *, payload_col: str = "payload",
                   id_col: str = "media_id") -> DataFrame:
    """Decode + feature-extract: (id, actual w/h/c, mean intensity, ok).
    One row_map pass; rows whose payload fails to decode or whose
    header disagrees with the frame shape come back ok=false instead of
    failing the stage (poison-pill isolation — at 100 TB one corrupt blob
    must not kill a 10^5-task job)."""

    def features(rid, payload):
        try:
            arr = decode_image(payload)
            h, w, c = arr.shape
            return ((rid, w, h, c, float(arr.mean()), True),)
        except Exception:
            return ((rid, None, None, None, None, False),)

    assert id_col in df.columns and payload_col in df.columns
    return row_map(df, [id_col, payload_col], FEATURES_SCHEMA, features)


RESIZE_SCHEMA = T.StructType([
    T.StructField("media_id", T.LongType(), False),
    T.StructField("payload", T.BinaryType(), True),
    T.StructField("width", T.IntegerType(), True),
    T.StructField("height", T.IntegerType(), True),
])


def resize_images(df: DataFrame, target_w: int, target_h: int, *,
                  payload_col: str = "payload", id_col: str = "media_id") -> DataFrame:
    """Deterministic nearest-neighbor resize, re-encoded to the fake
    format. (A real deployment swaps the numpy index-sampling for
    PIL.Image.resize — the Spark stage is unchanged.)"""

    def resize(rid, payload):
        try:
            arr = decode_image(payload)
            h, w, _ = arr.shape
            yi = (np.arange(target_h) * h // target_h)
            xi = (np.arange(target_w) * w // target_w)
            res = arr[yi[:, None], xi[None, :], :]
            return ((rid, encode_fake_image(res), target_w, target_h),)
        except Exception:
            return ((rid, None, None, None),)

    return row_map(df, [id_col, payload_col], RESIZE_SCHEMA, resize)


FRAME_SCHEMA = T.StructType([
    T.StructField("media_id", T.LongType(), False),
    T.StructField("frame_idx", T.IntegerType(), False),
    T.StructField("payload", T.BinaryType(), False),
])


def sample_frames(df: DataFrame, every_k: int = 2, *, payload_col: str = "payload",
                  id_col: str = "media_id") -> DataFrame:
    """Video -> exploded frames (every k-th), each re-encoded as a fake
    image row: (media_id, frame_idx, payload). Fan-out stage — still
    narrow (no shuffle), output partitioning follows the input."""

    def explode(rid, payload):
        try:
            frames = decode_video(payload)
        except Exception:
            return ()
        return [(rid, idx, encode_fake_image(frames[idx]))
                for idx in range(0, frames.shape[0], every_k)]

    return row_map(df, [id_col, payload_col], FRAME_SCHEMA, explode)


AHASH_GRID_W, AHASH_GRID_H = 8, 7  # 56 bits — int64-positive (the <=62-bit rule)

AHASH_SCHEMA = T.StructType([
    T.StructField("id", T.LongType(), False),
    T.StructField("ahash", T.LongType(), False),
])


def image_ahash(df: DataFrame, *, payload_col: str = "payload",
                id_col: str = "media_id") -> DataFrame:
    """(id, ahash) perceptual average-hash over decodable images — the
    image analogue of simhash64/acoustic fingerprints, closing the
    dedup-modality set (text, audio, embeddings, now pixels): nearest-
    neighbor downsample to 8x7 (the resize_images index map), integer
    grayscale gray = (c0 + c1 + c2) // 3 per cell, bit p set iff
    56 * gray[p] > sum(gray) — integer cross-multiplication, never a
    float mean (the house threshold rule), with strict > so ties read 0
    deterministically in both engines. 56 bits keep the hash
    int64-positive (the hyperplane_signature <= 62-bit rule). Rows that
    fail to decode are ABSENT (poison-pill isolation: dedup ranges over
    what decodes; media_integrity_checks owns the failures). One narrow
    row_map pass; payload bytes never leave their scan task — only
    (id, 8-byte hash) rows shuffle downstream."""
    gw, gh = AHASH_GRID_W, AHASH_GRID_H
    n_cells = gw * gh
    bit_weights = (1 << np.arange(n_cells, dtype=np.int64))  # 56 bits < 2^63

    def ahash(rid, payload):
        # a vectorized bit pack (dot with the power-of-two weights), not
        # a per-bit shift loop: the per-payload decode is inherently
        # per-row, but the plumbing around it was the hottest Python
        # loop in the operator (measured ~4x per-batch on 16x16 FIMG
        # payloads). The WHOLE body sits inside the try: a payload that
        # decodes but is degenerate (zero width/height, 2-D grayscale
        # under a real codec, NULL id) is skipped like a decode failure,
        # never kills the task.
        try:
            arr = decode_image(payload).astype(np.int64)
            h, w, _ = arr.shape
            if h < 1 or w < 1:
                return ()
            yi = np.arange(gh) * h // gh
            xi = np.arange(gw) * w // gw
            cells = arr[yi[:, None], xi[None, :], :]
            gray = cells.sum(axis=2) // 3          # (gh, gw) ints
            total = int(gray.sum())
            bits = (n_cells * gray.reshape(-1) > total)
            return ((int(rid), int(bits.astype(np.int64) @ bit_weights)),)
        except Exception:
            return ()

    return row_map(df, [id_col, payload_col], AHASH_SCHEMA, ahash)


def image_dup_pairs(df: DataFrame, *, payload_col: str = "payload",
                    id_col: str = "media_id", max_hamming: int = 3,
                    chunk_bits: int = 14,
                    max_bucket: typing.Optional[int] = 10_000) -> DataFrame:
    """Perceptual near-duplicate image pairs: (id_a, id_b, hamming) for
    decodable images whose 56-bit average-hashes differ in at most
    ``max_hamming`` bits. Candidates come from ``chunk_bits``-bit chunk
    equality (the simhash_candidates banding applied to pixels); for
    ``max_hamming <= n_chunks - 1`` (default 3 vs 4 chunks) the banding
    is LOSSLESS by pigeonhole — at most max_hamming chunks can be
    touched, so one chunk always matches and the output is EXACTLY all
    pairs within the Hamming ball, never a recall estimate. Larger
    thresholds keep exact precision (the verify step is exact) with
    recall = the banding guarantee. ``max_bucket`` is the house
    hot-chunk cap (groupBy-count + broadcast anti-join; a chunk shared
    by more images than that is a degenerate constant pattern, not
    near-duplication; None = exact).

    Scale shape at 10^10 images: payloads are hashed in their scan task
    (one narrow pass, bytes never shuffle); everything after is
    (id, int64) rows — posexplode to 4 chunk rows per image BEFORE the
    self-join on (chunk_idx, chunk_val), verify is a row-local
    bit_count(xor) over two joined hash columns."""
    from pyspark import StorageLevel

    chunks = bit_chunks(F.col("ahash"), 56, chunk_bits)
    sigs = hold(image_ahash(df, payload_col=payload_col, id_col=id_col)
                .persist(StorageLevel.MEMORY_AND_DISK))
    [chunked] = drop_hot_keys(
        [sigs.select("id", F.posexplode(chunks).alias("chunk_idx", "chunk_val"))],
        ["chunk_idx", "chunk_val"], max_bucket)
    cands = bucket_pairs(chunked, ["chunk_idx", "chunk_val"], "id")
    ha = sigs.select(F.col("id").alias("id_a"), F.col("ahash").alias("__ha__"))
    hb = sigs.select(F.col("id").alias("id_b"), F.col("ahash").alias("__hb__"))
    out = (cands.join(ha, "id_a").join(hb, "id_b")
           .withColumn("hamming", F.bit_count(
               F.col("__ha__").bitwiseXOR(F.col("__hb__"))).cast("long"))
           .where(F.col("hamming") <= max_hamming)
           .select("id_a", "id_b", "hamming"))
    return out


#: frame-id packing for video_dup_pairs: fid = media_id * FID_BASE +
#: frame_idx. FVID's frame count is a u16, so frame_idx < 65536 always
#: fits; media ids must stay in [0, 2^63 / FID_BASE) (~1.4e14) —
#: raise_error-guarded in the projection, far above any real id space.
FID_BASE = 1 << 16


def video_dup_pairs(df: DataFrame, *, payload_col: str = "payload",
                    id_col: str = "media_id", every_k: int = 2,
                    max_hamming: int = 3, chunk_bits: int = 14,
                    max_bucket: typing.Optional[int] = 10_000) -> DataFrame:
    """Perceptual near-duplicate VIDEO pairs via sampled-frame hashes:
    (id_a, id_b, n_frames, max_hamming_seen) for videos whose every
    k-th frames pairwise (same frame index) sit within ``max_hamming``
    bits of each other under image_ahash, with BOTH videos contributing
    the same sampled-frame index set (a truncated re-encode is not a
    duplicate of its source — different coverage, different asset).
    Composes the gated pieces: sample_frames fans videos to frames,
    image_ahash fingerprints each frame, candidates band per
    (frame_idx, chunk); at ``max_hamming <= 3`` the banding is lossless
    exactly as in image_dup_pairs (any qualifying pair agrees on some
    chunk of its frame-0 hashes), so the output is the exact predicate,
    not a recall estimate.

    Scale shape at 10^9 videos: frames are decoded and hashed inside
    their scan task (two narrow mapInPandas stages; pixels never
    shuffle); downstream is (fid, int64) rows — chunk rows multiply by
    4 x sampled frames BEFORE the self-join, the house hot-chunk cap
    bounds degenerate patterns, and the verify agg joins the two slim
    hash frames on (pair, frame_idx) and reduces map-side to one row
    per pair."""
    chunks = bit_chunks(F.col("ahash"), 56, chunk_bits)
    frames = sample_frames(df, every_k=every_k, payload_col=payload_col,
                           id_col=id_col)
    # fid packing must not overflow int64 — fail LOUD on out-of-range
    # ids (never a silent drop: a vanished video reads as "no dup")
    in_range = (F.col("media_id") >= 0) & \
        (F.col("media_id") < (1 << 63) // FID_BASE)
    fid = F.when(in_range,
                 F.col("media_id") * FID_BASE + F.col("frame_idx")) \
        .otherwise(F.raise_error(
            "video_dup_pairs: media id out of [0, 2^47) fid range")) \
        .alias("fid")
    fhash = (image_ahash(frames.select(fid, "payload"),
                         id_col="fid", payload_col="payload")
             .select(F.expr("id DIV {}".format(FID_BASE)).alias("vid"),
                     (F.col("id") % FID_BASE).cast("int").alias("frame_idx"),
                     "ahash"))
    from pyspark import StorageLevel

    fhash = hold(fhash.persist(StorageLevel.MEMORY_AND_DISK))
    keys = ["frame_idx", "chunk_idx", "chunk_val"]
    [chunked] = drop_hot_keys(
        [fhash.select("vid", "frame_idx", F.posexplode(chunks)
                      .alias("chunk_idx", "chunk_val"))],
        keys, max_bucket)
    cands = bucket_pairs(chunked, keys, "vid")
    counts = fhash.groupBy("vid").agg(
        F.count(F.lit(1)).alias("__nf__"))
    ha = fhash.select(F.col("vid").alias("id_a"), "frame_idx",
                      F.col("ahash").alias("__ha__"))
    hb = fhash.select(F.col("vid").alias("id_b"), "frame_idx",
                      F.col("ahash").alias("__hb__"))
    matched = (cands.join(ha, "id_a").join(hb, ["id_b", "frame_idx"])
               .withColumn("__d__", F.bit_count(
                   F.col("__ha__").bitwiseXOR(F.col("__hb__"))))
               .groupBy("id_a", "id_b")
               .agg(F.count(F.lit(1)).alias("__nm__"),
                    F.max("__d__").cast("long").alias("max_hamming_seen")))
    ca = counts.select(F.col("vid").alias("id_a"), F.col("__nf__").alias("__na__"))
    cb = counts.select(F.col("vid").alias("id_b"), F.col("__nf__").alias("__nb__"))
    out = (matched.join(ca, "id_a").join(cb, "id_b")
           .where((F.col("__nm__") == F.col("__na__"))
                  & (F.col("__nm__") == F.col("__nb__"))
                  & (F.col("max_hamming_seen") <= max_hamming))
           .select("id_a", "id_b",
                   F.col("__nm__").cast("long").alias("n_frames"),
                   "max_hamming_seen"))
    return out


def media_integrity_checks(df: DataFrame):
    """The media table's constraint suite, reusing the validation engine:
    declared width/height must match the decoded payload (cross-column
    Arrow check), kind in list, id distinct."""
    from ..column import Column
    from ..schema import Schema
    from ..validation import CustomRowValidation, InListValidation, IsDistinctValidation

    def _consistent(batch: pd.DataFrame) -> pd.Series:
        out = np.zeros(len(batch), dtype=bool)
        kinds = batch["kind"].to_numpy()
        payloads = batch["payload"].to_numpy()
        ws = batch["width"].to_numpy()
        hs = batch["height"].to_numpy()
        for j in range(len(batch)):
            try:
                if kinds[j] == "video":
                    arr = decode_video(payloads[j])
                    out[j] = arr.shape[2] == ws[j] and arr.shape[1] == hs[j]
                else:
                    arr = decode_image(payloads[j])
                    out[j] = arr.shape[1] == ws[j] and arr.shape[0] == hs[j]
            except Exception:
                out[j] = False
        return pd.Series(out, index=batch.index)

    return Schema([
        Column("media_id", [IsDistinctValidation()]),
        Column("kind", [InListValidation(["image", "video"])]),
        Column("payload", [CustomRowValidation(
            ["kind", "payload", "width", "height"], _consistent,
            "payload does not decode to the declared dimensions")]),
    ])
