"""WAV header decoding (P4).

Reference semantics (/root/reference/src/main.rs:760-769, via the hound
crate): parse the in-memory WAV; ``duration = samples_per_channel /
sample_rate`` (f64 seconds), ``sampling_rate`` i32; ANY parse failure →
``(0.0, 0)`` so non-WAV files are kept with zero duration (README.md:94).

``parse_wav_header`` is the one RIFF header parser: a pure-Python chunk
walk, no JVM audio codec needed. The parquet and DuckDB sinks' shared
shard writer (``sinks.write_shards``) calls it on each file of the
shard's Arrow table, which already holds every file's bytes (the
reference decodes in the shard worker too), so the ingest map stage
runs without Python. ``wav_info`` is the same decode as an
Arrow-batched pandas UDF, for plans that need the columns before a sink
(``build_dataset``, the ORC sink, FLAC transcoding, the multimodal
queries).
"""

from __future__ import annotations

import struct

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

WAV_RESULT_TYPE = T.StructType(
    [
        T.StructField("duration", T.DoubleType(), False),
        T.StructField("sampling_rate", T.IntegerType(), False),
    ]
)


_MAX_SAMPLE_RATE = 2**31 - 1


def parse_wav_header(data: bytes | None) -> tuple[float, int]:
    """Parse RIFF/WAVE: find fmt (sample rate, block align) and data
    (payload size); duration = data_size / block_align / sample_rate.
    Any structural problem → (0.0, 0)."""
    try:
        if data is None or len(data) < 12:
            return 0.0, 0
        if data[0:4] != b"RIFF" or data[8:12] != b"WAVE":
            return 0.0, 0
        pos = 12
        sample_rate = 0
        block_align = 0
        data_size = -1
        n = len(data)
        while pos + 8 <= n:
            chunk_id = data[pos : pos + 4]
            (chunk_size,) = struct.unpack_from("<I", data, pos + 4)
            body = pos + 8
            if chunk_id == b"fmt " and chunk_size >= 16 and body + 16 <= n:
                (_fmt_tag, _channels, sample_rate, _byte_rate, block_align,
                 _bits) = struct.unpack_from("<HHIIHH", data, body)
            elif chunk_id == b"data":
                data_size = min(chunk_size, n - body)
            # chunks are word-aligned: odd sizes are padded by one byte
            pos = body + chunk_size + (chunk_size & 1)
        # the rate is a u32 on disk but an i32 in every sink schema
        if not 0 < sample_rate <= _MAX_SAMPLE_RATE:
            return 0.0, 0
        if block_align <= 0 or data_size < 0:
            return 0.0, 0
        samples_per_channel = data_size // block_align
        return samples_per_channel / sample_rate, int(sample_rate)
    except Exception:
        return 0.0, 0


@pandas_udf(WAV_RESULT_TYPE)
def wav_info(content: pd.Series) -> pd.DataFrame:
    out = [parse_wav_header(b) for b in content]
    return pd.DataFrame(
        {
            "duration": [d for d, _ in out],
            "sampling_rate": [s for _, s in out],
        }
    )


def with_wav_info(col: Column) -> Column:
    """Struct column ``(duration double, sampling_rate int)`` decoded from
    WAV bytes."""
    return wav_info(col)


WAV_STATS_TYPE = T.StructType(
    [
        T.StructField("rms", T.DoubleType(), False),
        T.StructField("peak", T.DoubleType(), False),
        T.StructField("clipped_frac", T.DoubleType(), False),
        T.StructField("n_samples", T.LongType(), False),
    ]
)


def _mulaw_decode_byte(c: int) -> int:
    """G.711 µ-law expansion of one code byte to a linear 16-bit sample
    (public ITU-T formula: complement, 3-bit exponent, 4-bit mantissa,
    0x84 bias). Pure integer math — the same expression a SQL oracle
    replays bit-for-bit."""
    c = 255 - c
    mag = (((c & 0x0F) * 8 + 0x84) << ((c >> 4) & 7)) - 0x84
    return -mag if c & 0x80 else mag


_MULAW_TABLE = None


def _mulaw_table():
    import numpy as np

    global _MULAW_TABLE
    if _MULAW_TABLE is None:
        _MULAW_TABLE = np.array(
            [_mulaw_decode_byte(c) for c in range(256)], dtype=np.int16
        )
    return _MULAW_TABLE


def _alaw_decode_byte(c: int) -> int:
    """G.711 A-law expansion of one code byte to a linear 16-bit sample
    (public ITU-T formula / CCITT reference implementation: XOR 0x55,
    3-bit segment, 4-bit quantization; segment 0/1 special-cased; the
    SIGN bit SET means positive). Pure integer math — SQL-replayable."""
    c ^= 0x55
    t = (c & 0x0F) << 4
    seg = (c & 0x70) >> 4
    if seg == 0:
        t += 8
    elif seg == 1:
        t += 0x108
    else:
        t = (t + 0x108) << (seg - 1)
    return t if c & 0x80 else -t


_ALAW_TABLE = None


def _alaw_table():
    import numpy as np

    global _ALAW_TABLE
    if _ALAW_TABLE is None:
        _ALAW_TABLE = np.array(
            [_alaw_decode_byte(c) for c in range(256)], dtype=np.int16
        )
    return _ALAW_TABLE


# IMA/DVI ADPCM tables (public: IMA Digital Audio Pack, Intel/DVI spec)
IMA_STEP = (
    7, 8, 9, 10, 11, 12, 13, 14, 16, 17, 19, 21, 23, 25, 28, 31, 34, 37,
    41, 45, 50, 55, 60, 66, 73, 80, 88, 97, 107, 118, 130, 143, 157, 173,
    190, 209, 230, 253, 279, 307, 337, 371, 408, 449, 494, 544, 598, 658,
    724, 796, 876, 963, 1060, 1166, 1282, 1411, 1552, 1707, 1878, 2066,
    2272, 2499, 2749, 3024, 3327, 3660, 4026, 4428, 4871, 5358, 5894,
    6484, 7132, 7845, 8630, 9493, 10442, 11487, 12635, 13899, 15289,
    16818, 18500, 20350, 22385, 24623, 27086, 29794, 32767,
)
IMA_INDEX = (-1, -1, -1, -1, 2, 4, 6, 8, -1, -1, -1, -1, 2, 4, 6, 8)


def ima_adpcm_step(pred: int, idx: int, nibble: int) -> tuple[int, int]:
    """One IMA ADPCM decode step: (pred, idx) + 4-bit code → next
    (pred, idx). Integer-exact; the SQL oracle replays it as a
    recursive CTE joined to the step/index tables."""
    step = IMA_STEP[idx]
    diff = step >> 3
    if nibble & 4:
        diff += step
    if nibble & 2:
        diff += step >> 1
    if nibble & 1:
        diff += step >> 2
    pred = pred - diff if nibble & 8 else pred + diff
    pred = max(-32768, min(32767, pred))
    idx = max(0, min(88, idx + IMA_INDEX[nibble]))
    return pred, idx


def _ima_decode(
    data: bytes, body_off: int, body_len: int, block_align: int
) -> list[int]:
    """Decode mono IMA ADPCM WAV data: each block is a 4-byte header
    (int16 predictor = sample 0, uint8 step index, reserved) followed by
    4-bit codes, low nibble first. Sequential by construction (each
    sample's state feeds the next) — a python loop, fixture-scale."""
    samples: list[int] = []
    bo = body_off
    end = body_off + body_len
    while bo + 4 <= end and block_align >= 5:
        pred = int.from_bytes(data[bo : bo + 2], "little", signed=True)
        idx = data[bo + 2]
        if idx > 88:
            return []
        samples.append(pred)
        nbytes = min(block_align, end - bo) - 4
        for k in range(nbytes * 2):
            byte = data[bo + 4 + k // 2]
            nibble = (byte & 0x0F) if k % 2 == 0 else (byte >> 4)
            pred, idx = ima_adpcm_step(pred, idx, nibble)
            samples.append(pred)
        bo += block_align
    return samples


# KSDATAFORMAT_SUBTYPE GUID tail (bytes 2..16): every
# WAVE_FORMAT_EXTENSIBLE SubFormat is <code u16 LE> + this suffix.
_KSDATAFORMAT_SUFFIX = (
    b"\x00\x00\x00\x00\x10\x00\x80\x00\x00\xaa\x00\x38\x9b\x71"
)


def wav_pcm_stats(data: bytes | None) -> tuple[float, float, float, int]:
    """Signal-level QA stats from WAV bytes — 16-bit linear PCM (format
    tag 1/16), 8-bit unsigned linear PCM (tag 1/8, widened <<8), 32-bit
    IEEE float (tag 3/32), G.711 µ-law (tag 7/8) or A-law (tag 6/8,
    both expanded through integer tables): RMS and peak (normalized to
    [0, 1]) and the fraction of full-scale (clipped) samples — the
    silence/clipping screens an audio-dataset curation pass runs before
    training. Other formats or malformed input → zeros.

    Vectorized: the payload is reinterpreted (or table-expanded) as one
    numpy array, so cost is memory-bandwidth, not a Python loop.
    """
    import numpy as np

    try:
        if data is None or len(data) < 12:
            return 0.0, 0.0, 0.0, 0
        if data[0:4] != b"RIFF" or data[8:12] != b"WAVE":
            return 0.0, 0.0, 0.0, 0
        pos = 12
        tag = 0
        bits = 0
        balign = 0
        body_off = -1
        body_len = 0
        n = len(data)
        while pos + 8 <= n:
            chunk_id = data[pos : pos + 4]
            (chunk_size,) = struct.unpack_from("<I", data, pos + 4)
            body = pos + 8
            if chunk_id == b"fmt " and chunk_size >= 16 and body + 16 <= n:
                (tag, _ch, _sr, _br, balign, bits) = struct.unpack_from(
                    "<HHIIHH", data, body
                )
                if tag == 0xFFFE and chunk_size >= 40 and body + 40 <= n:
                    # WAVE_FORMAT_EXTENSIBLE (Microsoft multichannel
                    # spec): the real format lives in the SubFormat
                    # GUID's Data1; the rest must be the fixed
                    # KSDATAFORMAT suffix or the stream is rejected.
                    guid = data[body + 24 : body + 40]
                    if guid[2:] == _KSDATAFORMAT_SUFFIX:
                        (tag,) = struct.unpack_from("<H", guid, 0)
                    else:
                        tag = 0
            elif chunk_id == b"data":
                body_off = body
                body_len = min(chunk_size, n - body)
            pos = body + chunk_size + (chunk_size & 1)
        if body_off < 0 or body_len < 1:
            return 0.0, 0.0, 0.0, 0
        if tag == 1 and bits == 16 and body_len >= 2:
            ints = np.frombuffer(
                data, dtype="<i2", count=body_len // 2, offset=body_off
            ).astype(np.float64)
        elif tag == 1 and bits == 8:
            # unsigned 8-bit PCM: midpoint 128, widened to 16-bit range
            codes = np.frombuffer(
                data, dtype=np.uint8, count=body_len, offset=body_off
            )
            ints = (codes.astype(np.float64) - 128.0) * 256.0
        elif tag == 7 and bits == 8:
            codes = np.frombuffer(
                data, dtype=np.uint8, count=body_len, offset=body_off
            )
            ints = _mulaw_table()[codes].astype(np.float64)
        elif tag == 6 and bits == 8:
            codes = np.frombuffer(
                data, dtype=np.uint8, count=body_len, offset=body_off
            )
            ints = _alaw_table()[codes].astype(np.float64)
        elif tag == 0x11 and bits == 4:
            # IMA/DVI ADPCM (mono): sequential nibble state machine
            decoded = _ima_decode(data, body_off, body_len, balign)
            if not decoded:
                return 0.0, 0.0, 0.0, 0
            ints = np.array(decoded, dtype=np.float64)
        elif tag == 3 and bits == 32 and body_len >= 4:
            # IEEE float samples are already normalized; scale up so the
            # shared /32768 below is a no-op (exact power-of-two scaling)
            ints = np.frombuffer(
                data, dtype="<f4", count=body_len // 4, offset=body_off
            ).astype(np.float64) * 32768.0
        else:
            return 0.0, 0.0, 0.0, 0
        pcm = ints / 32768.0
        rms = float(np.sqrt(np.mean(pcm * pcm)))
        peak = float(np.max(np.abs(pcm)))
        clipped = float(np.mean(np.abs(pcm) >= 32767.0 / 32768.0))
        return rms, peak, clipped, int(pcm.size)
    except Exception:
        return 0.0, 0.0, 0.0, 0


@pandas_udf(WAV_STATS_TYPE)
def wav_stats(content: pd.Series) -> pd.DataFrame:
    out = [wav_pcm_stats(b) for b in content]
    return pd.DataFrame(
        {
            "rms": [r for r, _, _, _ in out],
            "peak": [p for _, p, _, _ in out],
            "clipped_frac": [c for _, _, c, _ in out],
            "n_samples": pd.Series(
                [s for _, _, _, s in out], dtype="int64"
            ),
        }
    )


def with_wav_stats(col: Column) -> Column:
    """Struct column ``(rms, peak, clipped_frac, n_samples)`` from WAV
    bytes — Arrow-batched; the only Python work is the header walk, the
    math is numpy-vectorized."""
    return wav_stats(col)


def synth_wav(
    sample_rate: int = 16_000,
    n_samples: int | None = None,
    freq_hz: float = 440.0,
    channels: int = 1,
) -> bytes:
    """Deterministic 16-bit PCM sine-wave WAV for tests — the fixture shape
    the reference's e2e tests generate (tests/end_to_end.rs:332-351):
    exactly ``sample_rate`` samples by default → duration exactly 1.0 s."""
    import math

    if n_samples is None:
        n_samples = sample_rate
    body = bytearray()
    for i in range(n_samples):
        v = int(32767.0 * math.sin(2.0 * math.pi * freq_hz * i / sample_rate))
        frame = struct.pack("<h", v) * channels
        body += frame
    block_align = 2 * channels
    byte_rate = sample_rate * block_align
    data_size = len(body)
    hdr = b"RIFF" + struct.pack("<I", 36 + data_size) + b"WAVE"
    fmt = b"fmt " + struct.pack(
        "<IHHIIHH", 16, 1, channels, sample_rate, byte_rate, block_align, 16
    )
    data = b"data" + struct.pack("<I", data_size)
    return bytes(hdr + fmt + data + body)


def segment_wav_bytes(
    data: bytes | None, seg_seconds: float
) -> list[tuple[int, float, float, bytes]]:
    """Split one WAV payload into fixed-duration standalone WAV segments.

    Returns ``[(seg_idx, start_s, duration_s, riff_bytes), ...]``; each
    segment is a fully valid RIFF/WAVE file (fmt chunk copied verbatim,
    data chunk sliced on frame boundaries) so downstream consumers can
    treat segments exactly like source files. Unparseable input → []
    (the skip-with-warning analog of the reference's decode-failure
    tolerance, /root/reference/src/main.rs:768).
    """
    try:
        if data is None or len(data) < 12 or data[0:4] != b"RIFF" \
                or data[8:12] != b"WAVE":
            return []
        pos = 12
        n = len(data)
        fmt_body = None
        sample_rate = 0
        block_align = 0
        data_off = -1
        data_size = -1
        while pos + 8 <= n:
            chunk_id = data[pos : pos + 4]
            (chunk_size,) = struct.unpack_from("<I", data, pos + 4)
            body = pos + 8
            if chunk_id == b"fmt " and chunk_size >= 16 and body + 16 <= n:
                fmt_body = data[body : body + chunk_size]
                (_t, _c, sample_rate, _br, block_align, _b) = (
                    struct.unpack_from("<HHIIHH", data, body)
                )
            elif chunk_id == b"data":
                data_off = body
                data_size = min(chunk_size, n - body)
            pos = body + chunk_size + (chunk_size & 1)
        if (
            fmt_body is None
            or sample_rate <= 0
            or block_align <= 0
            or data_off < 0
            or data_size < 0
        ):
            return []
        frames = data_size // block_align
        frames_per_seg = max(int(seg_seconds * sample_rate), 1)
        out = []
        for idx, start in enumerate(range(0, frames, frames_per_seg)):
            seg_frames = min(frames_per_seg, frames - start)
            lo = data_off + start * block_align
            seg_body = data[lo : lo + seg_frames * block_align]
            fmt = b"fmt " + struct.pack("<I", len(fmt_body)) + fmt_body
            if len(fmt_body) & 1:
                fmt += b"\x00"
            dchunk = b"data" + struct.pack("<I", len(seg_body)) + seg_body
            riff = (
                b"RIFF"
                + struct.pack("<I", 4 + len(fmt) + len(dchunk))
                + b"WAVE"
                + fmt
                + dchunk
            )
            out.append(
                (
                    idx,
                    start / sample_rate,
                    seg_frames / sample_rate,
                    riff,
                )
            )
        return out
    except Exception:
        return []


SEGMENT_SCHEMA = (
    "path string, seg_idx int, seg_start double,"
    " seg_duration double, seg_bytes binary"
)


def segment_wavs(
    df, content_col: str = "content", path_col: str = "path",
    seg_seconds: float = 0.25,
):
    """Explode whole-file WAV rows into fixed-duration segment rows via
    mapInPandas — the audio-chunking pass a training pipeline runs to
    normalize clip lengths. Arrow-batched; each input batch yields one
    output frame, so memory is bounded by batch size × segment count,
    and the operator parallelizes per input partition with no shuffle.
    """
    import pandas as pd  # noqa: F811 — local for the worker closure

    def gen(batches):
        for pdf in batches:
            rows = []
            for p, b in zip(pdf[path_col], pdf[content_col]):
                for idx, st, dur, sb in segment_wav_bytes(b, seg_seconds):
                    rows.append((p, idx, st, dur, sb))
            yield pd.DataFrame(
                rows,
                columns=[
                    "path", "seg_idx", "seg_start", "seg_duration",
                    "seg_bytes",
                ],
            )

    return df.select(path_col, content_col).mapInPandas(
        gen, SEGMENT_SCHEMA
    )


def synth_wav_md5(doc_id: int) -> bytes:
    """Deterministic 16-bit PCM WAV fixture whose SAMPLES are
    oracle-recomputable: sample i = (first two md5 bytes of
    ``au:{id}:{i}``) - 32768, n = 64 + id % 37 samples, rate
    8000/12000/16000 by id. Feeds q_audio_stats: the real RIFF parse +
    numpy PCM stats must reproduce values a SQL oracle derives from the
    same formula, so header-walk or scaling bugs fail the value hash."""
    import hashlib

    n = 64 + doc_id % 37
    sr = 8000 + (doc_id % 3) * 4000
    body = b"".join(
        struct.pack(
            "<h",
            int(
                hashlib.md5(f"au:{doc_id}:{i}".encode()).hexdigest()[:4], 16
            )
            - 32768,
        )
        for i in range(n)
    )
    hdr = b"RIFF" + struct.pack("<I", 36 + len(body)) + b"WAVE"
    fmt = b"fmt " + struct.pack("<IHHIIHH", 16, 1, 1, sr, sr * 2, 2, 16)
    data = b"data" + struct.pack("<I", len(body))
    return hdr + fmt + data + body


def synth_wav_md5_alaw(doc_id: int) -> bytes:
    """Deterministic A-law WAV fixture (format tag 6, 8-bit codes,
    block_align 1): code i = first md5 byte of ``al:{id}:{i}``,
    n = 40 + id % 23 samples at 8 kHz. Drives the G.711 A-law expansion
    through q_audio_alaw's value-hash oracle."""
    import hashlib

    n = 40 + doc_id % 23
    sr = 8000
    body = bytes(
        int(hashlib.md5(f"al:{doc_id}:{i}".encode()).hexdigest()[:2], 16)
        for i in range(n)
    )
    hdr = b"RIFF" + struct.pack("<I", 36 + len(body)) + b"WAVE"
    fmt = b"fmt " + struct.pack("<IHHIIHH", 16, 6, 1, sr, sr, 1, 8)
    data = b"data" + struct.pack("<I", len(body))
    return hdr + fmt + data + body


def synth_wav_md5_pcm8(doc_id: int) -> bytes:
    """Deterministic unsigned-8-bit PCM WAV fixture (tag 1, bits 8):
    sample i = first md5 byte of ``p8:{id}:{i}``, n = 56 + id % 31 at
    11025 Hz. The decoder must recentre on 128 and widen <<8; the
    oracle replays (v - 128) * 256 / 32768 exactly."""
    import hashlib

    n = 56 + doc_id % 31
    sr = 11025
    body = bytes(
        int(hashlib.md5(f"p8:{doc_id}:{i}".encode()).hexdigest()[:2], 16)
        for i in range(n)
    )
    hdr = b"RIFF" + struct.pack("<I", 36 + len(body)) + b"WAVE"
    fmt = b"fmt " + struct.pack("<IHHIIHH", 16, 1, 1, sr, sr, 1, 8)
    data = b"data" + struct.pack("<I", len(body))
    return hdr + fmt + data + body


def synth_wav_md5_f32(doc_id: int) -> bytes:
    """Deterministic IEEE-float WAV fixture (tag 3, bits 32): sample i =
    ((first two md5 bytes of ``f3:{id}:{i}``) - 32768) / 32768 — a
    16-bit dyadic rational, so the float32 write and float64 read are
    both EXACT and the SQL oracle needs no float32 rounding model.
    n = 32 + id % 19 samples at 16 kHz."""
    import hashlib

    n = 32 + doc_id % 19
    sr = 16000
    body = b"".join(
        struct.pack(
            "<f",
            (
                int(
                    hashlib.md5(f"f3:{doc_id}:{i}".encode()).hexdigest()[:4],
                    16,
                )
                - 32768
            )
            / 32768.0,
        )
        for i in range(n)
    )
    hdr = b"RIFF" + struct.pack("<I", 36 + len(body)) + b"WAVE"
    fmt = b"fmt " + struct.pack("<IHHIIHH", 16, 3, 1, sr, sr * 4, 4, 32)
    data = b"data" + struct.pack("<I", len(body))
    return hdr + fmt + data + body


def synth_wav_md5_ext(doc_id: int) -> bytes:
    """Deterministic WAVE_FORMAT_EXTENSIBLE fixture (tag 0xFFFE, fmt
    chunk 40 bytes: cbSize 22, valid-bits, channel mask, SubFormat
    GUID): even docs wrap PCM16 (SubFormat Data1 = 1), odd docs wrap
    IEEE float32 (= 3) — the two subformats real multichannel WAVs
    use. Sample i = the centered 16-bit md5 value of ``wx:{id}:{i}``;
    dyadic v/32768 storage makes both subformats EXACTLY the same
    signal, so ONE oracle formula covers the whole family and any
    GUID-dispatch bug shows up as a zeroed row."""
    import hashlib

    n = 44 + doc_id % 31
    sr = 8000 + (doc_id % 3) * 4000
    is_f32 = doc_id % 2 == 1
    vals = [
        int(hashlib.md5(f"wx:{doc_id}:{i}".encode()).hexdigest()[:4], 16)
        - 32768
        for i in range(n)
    ]
    if is_f32:
        body = b"".join(struct.pack("<f", v / 32768.0) for v in vals)
        sub, bits, width = 3, 32, 4
    else:
        body = b"".join(struct.pack("<h", v) for v in vals)
        sub, bits, width = 1, 16, 2
    guid = struct.pack("<H", sub) + _KSDATAFORMAT_SUFFIX
    fmt_body = struct.pack(
        "<HHIIHH", 0xFFFE, 1, sr, sr * width, width, bits
    ) + struct.pack("<HHI", 22, bits, 0x4) + guid
    hdr = b"RIFF" + struct.pack("<I", 20 + len(fmt_body) + len(body)) \
        + b"WAVE"
    fmt = b"fmt " + struct.pack("<I", len(fmt_body)) + fmt_body
    data = b"data" + struct.pack("<I", len(body))
    return hdr + fmt + data + body


def resample_linear(
    samples, sr_in: int, sr_out: int
):
    """Linear-interpolation resample of a 1-D sample array (float64 in,
    float64 out). The interpolation is the EXPLICIT two-term form
    ``x0 + f * (x1 - x0)`` (NOT numpy.interp's (1-f)x0 + f x1 — a
    different expression tree rounds differently), evaluated with the
    same IEEE ops a SQL oracle writes, so fixture ratios whose
    positions are dyadic rationals (8k/12k/16k -> 16k) reproduce
    bit-exactly across engines. Output sample j sits at position
    j * (sr_in / sr_out); j runs while the position stays within the
    input."""
    import numpy as np

    x = np.asarray(samples, dtype=np.float64)
    n = x.size
    if n == 0 or sr_in <= 0 or sr_out <= 0:
        return np.empty(0, dtype=np.float64)
    r = sr_in / sr_out
    n_out = int(np.floor((n - 1) / r)) + 1 if r > 0 else 0
    j = np.arange(n_out, dtype=np.float64)
    pos = j * r
    i0 = np.floor(pos).astype(np.int64)
    i0 = np.minimum(i0, n - 1)
    f = pos - i0
    i1 = np.minimum(i0 + 1, n - 1)
    return x[i0] + f * (x[i1] - x[i0])


def downmix_stereo(data: bytes | None) -> tuple[list[float], int]:
    """Decode a 16-bit stereo PCM WAV and downmix to mono as the exact
    per-frame average (l + r) * 0.5 — a power-of-two scaling, so every
    output sample is exactly representable and a SQL oracle replays it
    bit-for-bit. Returns (normalized mono samples, sample_rate); non-
    stereo/malformed input → ([], 0)."""
    import numpy as np

    try:
        if data is None or len(data) < 44 or data[:4] != b"RIFF":
            return [], 0
        pos = 12
        tag = ch = sr = bits = 0
        body_off = -1
        body_len = 0
        n = len(data)
        while pos + 8 <= n:
            cid = data[pos : pos + 4]
            (csz,) = struct.unpack_from("<I", data, pos + 4)
            body = pos + 8
            if cid == b"fmt " and csz >= 16 and body + 16 <= n:
                (tag, ch, sr, _br, _ba, bits) = struct.unpack_from(
                    "<HHIIHH", data, body
                )
            elif cid == b"data":
                body_off = body
                body_len = min(csz, n - body)
            pos = body + csz + (csz & 1)
        if tag != 1 or ch != 2 or bits != 16 or body_off < 0:
            return [], 0
        x = np.frombuffer(
            data, dtype="<i2", count=(body_len // 4) * 2, offset=body_off
        ).astype(np.float64)
        frames = x.reshape(-1, 2)
        mono = (frames[:, 0] + frames[:, 1]) * 0.5 / 32768.0
        return mono.tolist(), int(sr)
    except Exception:
        return [], 0


def synth_wav_dropout(doc_id: int) -> bytes:
    """Deterministic 16-bit PCM WAV with DIGITAL DROPOUTS: sample i is
    forced to exactly 0 when ``(i // 16) % 7 == doc_id % 7`` (16-sample
    silent windows recurring every 112 samples — the transient a dead
    ADC/link produces), else the centered md5 value of ``dr:{id}:{i}``.
    n = 200 + id % 41 samples at 16 kHz. Feeds q_audio_dropout; the
    SQL oracle replays the same CASE + md5 formula."""
    import hashlib

    n = 200 + doc_id % 41
    sr = 16000

    def s(i: int) -> int:
        if (i // 16) % 7 == doc_id % 7:
            return 0
        return (
            int(hashlib.md5(f"dr:{doc_id}:{i}".encode()).hexdigest()[:4],
                16)
            - 32768
        )

    body = b"".join(struct.pack("<h", s(i)) for i in range(n))
    hdr = b"RIFF" + struct.pack("<I", 36 + len(body)) + b"WAVE"
    fmt = b"fmt " + struct.pack("<IHHIIHH", 16, 1, 1, sr, sr * 2, 2, 16)
    data = b"data" + struct.pack("<I", len(body))
    return hdr + fmt + data + body


def synth_wav_md5_stereo(doc_id: int) -> bytes:
    """Deterministic 16-bit STEREO PCM WAV fixture: frame i's left
    sample = md5(``sl:{id}:{i}``) two bytes - 32768, right =
    md5(``sr:{id}:{i}``) likewise; n = 40 + id % 21 frames at 16 kHz,
    interleaved L/R per the RIFF spec."""
    import hashlib

    n = 40 + doc_id % 21
    sr = 16000

    def s(tag: str, i: int) -> int:
        return (
            int(hashlib.md5(f"{tag}:{doc_id}:{i}".encode()).hexdigest()[:4],
                16)
            - 32768
        )

    body = b"".join(
        struct.pack("<hh", s("sl", i), s("sr", i)) for i in range(n)
    )
    hdr = b"RIFF" + struct.pack("<I", 36 + len(body)) + b"WAVE"
    fmt = b"fmt " + struct.pack("<IHHIIHH", 16, 1, 2, sr, sr * 4, 4, 16)
    data = b"data" + struct.pack("<I", len(body))
    return hdr + fmt + data + body


def synth_wav_md5_adpcm(doc_id: int) -> bytes:
    """Deterministic IMA ADPCM WAV fixture (tag 0x11, 4-bit codes,
    mono, ONE block): header predictor = (md5 of ``ap:{id}``) - 32768,
    step index = (md5 of ``ai:{id}``) % 89, nibble k = first hex digit
    of md5(``ad:{id}:{k}``); n_nibbles = 24 + 2*(id % 11) (even, so no
    padding nibble). The SQL oracle replays the decode recurrence as a
    recursive CTE against the same md5 formulas."""
    import hashlib

    n_nib = 24 + 2 * (doc_id % 11)
    sr = 8000
    pred0 = int(hashlib.md5(f"ap:{doc_id}".encode()).hexdigest()[:4], 16) - 32768
    idx0 = int(hashlib.md5(f"ai:{doc_id}".encode()).hexdigest()[:2], 16) % 89
    nibbles = [
        int(hashlib.md5(f"ad:{doc_id}:{k}".encode()).hexdigest()[0], 16)
        for k in range(n_nib)
    ]
    payload = bytearray(struct.pack("<hBB", pred0, idx0, 0))
    for j in range(0, n_nib, 2):
        payload.append(nibbles[j] | (nibbles[j + 1] << 4))
    block_align = len(payload)
    spb = 1 + n_nib
    hdr = b"RIFF" + struct.pack("<I", 40 + len(payload)) + b"WAVE"
    fmt = b"fmt " + struct.pack(
        "<IHHIIHHHH", 20, 0x11, 1, sr,
        sr * block_align // spb, block_align, 4, 2, spb,
    )
    data = b"data" + struct.pack("<I", len(payload))
    return hdr + fmt + data + bytes(payload)


def synth_wav_md5_ulaw(doc_id: int) -> bytes:
    """Deterministic µ-law WAV fixture (format tag 7, 8-bit codes,
    block_align 1): code i = first md5 byte of ``ul:{id}:{i}``,
    n = 48 + id % 29 samples at 8 kHz. Drives the G.711 expansion
    through q_audio_ulaw's value-hash oracle."""
    import hashlib

    n = 48 + doc_id % 29
    sr = 8000
    body = bytes(
        int(hashlib.md5(f"ul:{doc_id}:{i}".encode()).hexdigest()[:2], 16)
        for i in range(n)
    )
    hdr = b"RIFF" + struct.pack("<I", 36 + len(body)) + b"WAVE"
    fmt = b"fmt " + struct.pack("<IHHIIHH", 16, 7, 1, sr, sr, 1, 8)
    data = b"data" + struct.pack("<I", len(body))
    return hdr + fmt + data + body


# ---------------------------------------------------------------------------
# Audio fingerprinting (energy-gradient hash) + near-dup fixtures
# ---------------------------------------------------------------------------

# Near-dup WAV fixture family: docs in the same GROUP (doc_id %
# AFP_GROUPS) share one md5-derived base signal; each doc re-synthesizes
# ONE 16-sample window. Same-group clips fingerprint within a few bits,
# cross-group clips are random — the audio analog of the image-dHash
# fixtures. The fingerprint itself is the Haitsma-Kalker-style
# energy-gradient bit scheme (public: "A Highly Robust Audio
# Fingerprinting System", ISMIR 2002), simplified to one band.
AFP_GROUPS = 29
AFP_WIN = 16           # samples per energy window
AFP_WINDOWS = 65       # windows -> 64 gradient bits (two 32-bit halves)
AFP_SAMPLES = AFP_WIN * AFP_WINDOWS


def _afp_sample(key: str) -> int:
    """First 4 md5 hex digits % 40000 - 20000 (int16-safe)."""
    import hashlib

    return int(hashlib.md5(key.encode()).hexdigest()[:4], 16) % 40000 \
        - 20000


def synth_wav_group(doc_id: int) -> bytes:
    """Deterministic near-dup PCM16 WAV: 1040 samples, base sample i =
    md5('af:{g}:{i}') with g = doc_id % AFP_GROUPS; the doc's one
    perturbed window ((doc_id // groups) % AFP_WINDOWS (65)) is
    re-synthesized from
    md5('afp:{doc_id}:{i}') — both formulas a DuckDB oracle replays."""
    g = doc_id % AFP_GROUPS
    pwin = (doc_id // AFP_GROUPS) % AFP_WINDOWS
    body = b"".join(
        struct.pack(
            "<h",
            _afp_sample(
                f"afp:{doc_id}:{i}" if i // AFP_WIN == pwin
                else f"af:{g}:{i}"
            ),
        )
        for i in range(AFP_SAMPLES)
    )
    hdr = b"RIFF" + struct.pack("<I", 36 + len(body)) + b"WAVE"
    fmt = b"fmt " + struct.pack(
        "<IHHIIHH", 16, 1, 1, 16000, 32000, 2, 16
    )
    data = b"data" + struct.pack("<I", len(body))
    return hdr + fmt + data + body


def wav_pcm16_samples(data: bytes | None):
    """Extract int16 PCM samples from a 16-bit linear PCM WAV (RIFF
    chunk walk, mono or interleaved as-is). Other formats / malformed
    input -> None (keep-with-fallback)."""
    import numpy as np

    try:
        if data is None or len(data) < 12 or data[0:4] != b"RIFF" \
                or data[8:12] != b"WAVE":
            return None
        pos = 12
        tag = bits = 0
        body_off = -1
        body_len = 0
        n = len(data)
        while pos + 8 <= n:
            cid = data[pos : pos + 4]
            (csize,) = struct.unpack_from("<I", data, pos + 4)
            body = pos + 8
            if cid == b"fmt " and csize >= 16 and body + 16 <= n:
                (tag, _ch, _sr, _br, _ba, bits) = struct.unpack_from(
                    "<HHIIHH", data, body
                )
            elif cid == b"data":
                body_off = body
                body_len = min(csize, n - body)
            pos = body + csize + (csize & 1)
        if tag != 1 or bits != 16 or body_off < 0 or body_len < 2:
            return None
        return np.frombuffer(
            data, dtype="<i2", count=body_len // 2, offset=body_off
        )
    except Exception:
        return None


def wav_pcm16_frames(data: bytes | None):
    """(interleaved int16 samples, sample_rate, channels) from a
    16-bit linear PCM WAV, or None. Same RIFF walk as
    ``wav_pcm16_samples`` but keeps the fmt chunk's channel count and
    rate so channel-preserving consumers (FLAC transcode) don't
    collapse multichannel audio to mono. Trailing bytes that don't
    fill a whole inter-channel frame are dropped."""
    import numpy as np

    try:
        if data is None or len(data) < 12 or data[0:4] != b"RIFF" \
                or data[8:12] != b"WAVE":
            return None
        pos = 12
        tag = bits = ch = sr = 0
        body_off = -1
        body_len = 0
        n = len(data)
        while pos + 8 <= n:
            cid = data[pos : pos + 4]
            (csize,) = struct.unpack_from("<I", data, pos + 4)
            body = pos + 8
            if cid == b"fmt " and csize >= 16 and body + 16 <= n:
                (tag, ch, sr, _br, _ba, bits) = struct.unpack_from(
                    "<HHIIHH", data, body
                )
            elif cid == b"data":
                body_off = body
                body_len = min(csize, n - body)
            pos = body + csize + (csize & 1)
        if tag != 1 or bits != 16 or body_off < 0 or body_len < 2 \
                or not 1 <= ch <= 8 or sr <= 0:
            return None
        frames = body_len // (2 * ch)
        if frames == 0:
            return None
        s = np.frombuffer(
            data, dtype="<i2", count=frames * ch, offset=body_off
        )
        return s, sr, ch
    except Exception:
        return None


def audio_fingerprint(data: bytes | None) -> tuple[int, int] | None:
    """64-bit energy-gradient fingerprint as two NON-NEGATIVE 32-bit
    halves (hi = bits 0..31, lo = bits 32..63, the dHash convention):
    windowed sum of |sample| (integer-exact), bit w = energy[w] >
    energy[w+1]. 64 bits (not 32) so LSH bands can be 16 bits wide —
    the band KEY SPACE is the scale dial: an equi-join on w-bit band
    values costs ~N^2/2^w per band, so fingerprint width must grow
    with corpus size exactly like the hyperplane count in
    tools/scale_smoke. Needs the full AFP_SAMPLES frame count;
    anything else -> None."""
    import numpy as np

    s = wav_pcm16_samples(data)
    if s is None or s.size < AFP_SAMPLES:
        return None
    e = (
        np.abs(s[:AFP_SAMPLES].astype(np.int64))
        .reshape(AFP_WINDOWS, AFP_WIN)
        .sum(axis=1)
    )
    bits = (e[:-1] > e[1:]).astype(np.int64)
    w = 1 << (np.arange(64, dtype=np.int64) % 32)
    return int((bits[:32] * w[:32]).sum()), int((bits[32:] * w[32:]).sum())


def with_audio_fingerprint(df, content_col: str = "content"):
    """Attach ``fp_hi`` / ``fp_lo`` (the 64-bit energy-gradient
    fingerprint halves, NULL for undecodable content) via one
    Arrow-batched pandas UDF."""
    from pyspark.sql import functions as F

    @pandas_udf("struct<fp_hi: long, fp_lo: long>")
    def _fp(content: pd.Series) -> pd.DataFrame:
        his: list[int | None] = []
        los: list[int | None] = []
        for b in content:
            r = audio_fingerprint(b)
            his.append(None if r is None else r[0])
            los.append(None if r is None else r[1])
        return pd.DataFrame({"fp_hi": his, "fp_lo": los})

    return df.withColumn("_fp", _fp(F.col(content_col))).select(
        "*", "_fp.fp_hi", "_fp.fp_lo"
    ).drop("_fp")


def synth_wav_vad(doc_id: int) -> bytes:
    """Deterministic VAD fixture: 6 + id % 5 frames of 40 samples each;
    frame b is VOICED iff the first md5 byte of ``vd:{id}:{b}`` >= 128
    (a fair coin), in which case sample i of the frame is
    ±(8192 + h16 % 8192) (alternating sign, |value| in [8192, 16383] —
    safely above any sane threshold); silent frames are all zeros.
    The voiced/silent pattern — and therefore every VAD statistic —
    has a closed-form SQL oracle."""
    import hashlib

    n_frames = 6 + doc_id % 5
    samples = []
    for b in range(n_frames):
        hb = int(
            hashlib.md5(f"vd:{doc_id}:{b}".encode()).hexdigest()[:2], 16
        )
        if hb >= 128:
            for i in range(40):
                h16 = int(
                    hashlib.md5(
                        f"vd:{doc_id}:{b}:{i}".encode()
                    ).hexdigest()[:4],
                    16,
                )
                mag = 8192 + h16 % 8192
                samples.append(mag if i % 2 == 0 else -mag)
        else:
            samples.extend([0] * 40)
    body = b"".join(struct.pack("<h", s) for s in samples)
    sr = 8000
    hdr = b"RIFF" + struct.pack("<I", 36 + len(body)) + b"WAVE"
    fmt = b"fmt " + struct.pack("<IHHIIHH", 16, 1, 1, sr, sr * 2, 2, 16)
    data = b"data" + struct.pack("<I", len(body))
    return hdr + fmt + data + body


def vad_segments(
    data: bytes | None, frame: int = 40, thresh: float = 0.1
):
    """Energy-threshold voice-activity segmentation — the pass that
    turns a long recording into training utterances (the reference
    ingests whole files only, src/main.rs:760; segmentation is the
    engine-side extension every speech pipeline needs): decode PCM16,
    split into ``frame``-sample windows (the trailing partial window
    is dropped, standard practice), mark a window voiced when its
    mean |amplitude| (normalized to [0, 1]) exceeds ``thresh``, and
    merge consecutive voiced windows into segments. Returns
    ``(n_frames, n_voiced, n_segments, longest_run)`` or ``None`` for
    undecodable input."""
    import numpy as np

    s = wav_pcm16_samples(data)
    if s is None:
        return None
    n_frames = s.size // frame
    if n_frames == 0:
        return 0, 0, 0, 0
    w = (
        np.abs(s[: n_frames * frame].astype(np.float64)) / 32768.0
    ).reshape(n_frames, frame)
    voiced = w.mean(axis=1) > thresh
    n_voiced = int(voiced.sum())
    n_segments = 0
    longest = 0
    run = 0
    for v in voiced:
        if v:
            run += 1
            if run == 1:
                n_segments += 1
            longest = max(longest, run)
        else:
            run = 0
    return n_frames, n_voiced, n_segments, longest
