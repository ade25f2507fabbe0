"""Minimal RIFF/WAVE (PCM) container: header build + parse, pure stdlib.

The warehouse stores raw little-endian int16 PCM; real pipelines exchange
WAV files. This module gives the engine genuine container handling with
zero dependencies: a canonical 44-byte PCM header (RIFF + fmt + data
chunks, the layout every decoder accepts) and a positional parser that
extracts and cross-checks the fields. Compressed containers (flac/ogg/
mp4) stay behind the import-gated decoders in operators/multimodal.py —
WAV is the one format that is fully implementable from first principles
offline.
"""

from __future__ import annotations

import struct
import typing

HEADER_LEN = 44
PCM_FORMAT_CODE = 1


def wav_header(sr: int, data_len: int, *, channels: int = 1, bits: int = 16) -> bytes:
    """Canonical 44-byte PCM WAV header for a payload of data_len bytes."""
    byte_rate = sr * channels * bits // 8
    block_align = channels * bits // 8
    return (
        b"RIFF" + struct.pack("<I", 36 + data_len) + b"WAVE"
        + b"fmt " + struct.pack("<IHHIIHH", 16, PCM_FORMAT_CODE, channels,
                                sr, byte_rate, block_align, bits)
        + b"data" + struct.pack("<I", data_len)
    )


def wrap_wav(pcm: bytes, sr: int, *, channels: int = 1, bits: int = 16) -> bytes:
    return wav_header(sr, len(pcm), channels=channels, bits=bits) + pcm


def parse_wav_header(raw: typing.Optional[bytes]) -> dict:
    """Positional parse of the canonical header + consistency checks.

    Deterministic on any input: short/None payloads yield zeroed fields
    with every ok-flag False; fields are extracted positionally even when
    the magic is wrong, so one corrupt aspect flips exactly its own flag
    (the per-check attribution the validation engine needs). The sample
    rate is read as a signed int32, the type of the ``sr_hdr`` column it
    fills: on a non-WAV payload bytes 24-27 can hold any value, and an
    unsigned read above 2^31 - 1 would not fit that column.

    Returned flags:
      riff_ok        -- b'RIFF' .. b'WAVE' .. b'fmt ' .. b'data' magics
      fmt_pcm        -- format code 1 (PCM) and fmt-chunk size 16
      len_ok         -- data_len == len(raw) - 44 AND riff_size == 36 + data_len
    """
    if not raw or len(raw) < HEADER_LEN:
        return {"riff_ok": False, "fmt_pcm": False, "channels": 0, "sr_hdr": 0,
                "bits": 0, "data_len": 0, "len_ok": False}
    riff_size = struct.unpack_from("<I", raw, 4)[0]
    fmt_size, fmt_code, channels, sr, _byte_rate, _block_align, bits = \
        struct.unpack_from("<IHHiIHH", raw, 16)
    data_len = struct.unpack_from("<I", raw, 40)[0]
    return {
        "riff_ok": (raw[0:4] == b"RIFF" and raw[8:12] == b"WAVE"
                    and raw[12:16] == b"fmt " and raw[36:40] == b"data"),
        "fmt_pcm": fmt_code == PCM_FORMAT_CODE and fmt_size == 16,
        "channels": int(channels),
        "sr_hdr": int(sr),
        "bits": int(bits),
        "data_len": int(data_len),
        "len_ok": (data_len == len(raw) - HEADER_LEN
                   and riff_size == 36 + data_len),
    }
