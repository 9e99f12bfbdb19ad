"""WAV header decode parity (P4).

Golden values mirror the reference's fixtures
(/root/reference/tests/end_to_end.rs:332-351): 16-bit mono PCM sine WAVs
of exactly `sample_rate` samples → duration exactly 1.0 s; parse failures
→ (0.0, 0) (src/main.rs:768)."""

from __future__ import annotations

import struct

import pytest

from audios_to_dataset_spark.functions import wav as W
from audios_to_dataset_spark.functions.wav import parse_wav_header, synth_wav


@pytest.mark.parametrize("rate", [8_000, 16_000, 22_050, 44_100])
def test_one_second_wav(rate):
    duration, sr = parse_wav_header(synth_wav(sample_rate=rate))
    assert duration == 1.0
    assert sr == rate


def test_half_second_stereo():
    data = synth_wav(sample_rate=16_000, n_samples=8_000, channels=2)
    duration, sr = parse_wav_header(data)
    assert duration == 0.5
    assert sr == 16_000


@pytest.mark.parametrize(
    "data",
    [None, b"", b"not a wav at all", b"RIFF\x00\x00\x00\x00MP3 ",
     b"RIFF\x10\x00\x00\x00WAVE"],
)
def test_non_wav_fallback(data):
    assert parse_wav_header(data) == (0.0, 0)


def test_sample_rate_above_int32_is_decode_failure():
    # fmt rates are u32 on disk; every sink stores an i32, so a rate
    # above 2**31 - 1 is a parse failure, not a wrapped or raising value
    import struct

    def with_rate(rate):
        data = bytearray(synth_wav(sample_rate=8_000))
        struct.pack_into("<I", data, 24, rate)
        return bytes(data)

    assert parse_wav_header(with_rate(3_087_055_744)) == (0.0, 0)
    assert parse_wav_header(with_rate(2**31)) == (0.0, 0)
    assert parse_wav_header(with_rate(2**31 - 1))[1] == 2**31 - 1


def test_truncated_data_chunk():
    # data chunk claims more bytes than present → clamp, still parses
    full = synth_wav(sample_rate=8_000)
    truncated = full[: len(full) - 1000]
    duration, sr = parse_wav_header(truncated)
    assert sr == 8_000
    assert 0.0 < duration < 1.0


def test_segment_wav_bytes_roundtrip():
    from audios_to_dataset_spark.functions.wav import (
        parse_wav_header,
        segment_wav_bytes,
        synth_wav,
    )

    src = synth_wav(sample_rate=8000)  # exactly 1.0 s
    segs = segment_wav_bytes(src, 0.25)
    assert [s[0] for s in segs] == [0, 1, 2, 3]
    assert [round(s[1], 6) for s in segs] == [0.0, 0.25, 0.5, 0.75]
    body = b""
    for _, _, dur, riff in segs:
        d, sr = parse_wav_header(riff)
        assert (d, sr) == (0.25, 8000)
        assert dur == 0.25
        body += riff[44:]
    assert body == src[44:]  # concatenated segment payloads == original

    # tail segment shorter than the window
    segs = segment_wav_bytes(synth_wav(8000, n_samples=10000), 0.5)
    assert [s[2] for s in segs] == [0.5, 0.5, 0.25]
    # garbage in → no segments, no exception
    assert segment_wav_bytes(b"not a wav", 0.25) == []
    assert segment_wav_bytes(None, 0.25) == []


def _chunk(cid: bytes, body: bytes) -> bytes:
    pad = b"\x00" * (len(body) & 1)
    return cid + struct.pack("<I", len(body)) + body + pad


def _riff(*chunks: bytes, form: bytes = b"WAVE") -> bytes:
    body = b"".join(chunks)
    return b"RIFF" + struct.pack("<I", 4 + len(body)) + form + body


# 10 stereo PCM16 frames at 8 Hz, so 0.5 s segments hold 4 frames
_FMT = struct.pack("<HHIIHH", 1, 2, 8, 32, 4, 16)
_PCM = struct.pack("<20h", *range(-10, 10))
_EXT_FMT = (
    struct.pack("<HHIIHH", 0xFFFE, 2, 8, 32, 4, 16)
    + struct.pack("<HHI", 22, 16, 3)
    + struct.pack("<H", 1) + W._KSDATAFORMAT_SUFFIX
)
_WALK_CASES = {
    # an odd-sized chunk is followed by its pad byte
    "odd_list_before_data": _riff(
        _chunk(b"fmt ", _FMT), _chunk(b"LIST", b"INFOx"),
        _chunk(b"data", _PCM),
    ),
    "fmt_after_data": _riff(_chunk(b"data", _PCM), _chunk(b"fmt ", _FMT)),
    "last_fmt_and_data_win": _riff(
        _chunk(b"fmt ", struct.pack("<HHIIHH", 1, 1, 8, 8, 1, 8)),
        _chunk(b"data", _PCM[:6]), _chunk(b"fmt ", _FMT),
        _chunk(b"data", _PCM),
    ),
    "extensible": _riff(_chunk(b"fmt ", _EXT_FMT), _chunk(b"data", _PCM)),
    "not_wave": _riff(
        _chunk(b"fmt ", _FMT), _chunk(b"data", _PCM), form=b"AVI "
    ),
}
# decoder -> its result on bytes it does not decode
_DECODERS = {
    "parse_wav_header": (0.0, 0),
    "wav_pcm_stats": (0.0, 0.0, 0.0, 0),
    "wav_pcm16_samples": None,
    "wav_pcm16_frames": None,
    "downmix_stereo": ([], 0),
    "segment_wav_bytes": [],
}
_PCM16_ONLY = {"wav_pcm16_samples", "wav_pcm16_frames", "downmix_stereo"}


def _decode(name: str, data: bytes):
    """The decoder's result with arrays and segments made comparable."""
    import numpy as np

    if name == "segment_wav_bytes":
        return [
            (i, st, dur, parse_wav_header(seg), seg[W.wav_walk(seg)[6]:])
            for i, st, dur, seg in W.segment_wav_bytes(data, 0.5)
        ]
    out = getattr(W, name)(data)
    if isinstance(out, np.ndarray):
        return out.tobytes()
    if name == "wav_pcm16_frames" and out is not None:
        return (out[0].tobytes(),) + out[1:]
    return out


@pytest.mark.parametrize("case", sorted(_WALK_CASES))
@pytest.mark.parametrize("name", sorted(_DECODERS))
def test_riff_walk_semantics(name, case):
    """Every decoder reads the one chunk walk: a layout the walk accepts
    decodes like the plain ``fmt ``+``data`` file; a non-WAVE form is
    undecodable everywhere; WAVE_FORMAT_EXTENSIBLE is resolved by
    ``wav_pcm_stats`` (and carried by the header parse and the
    segmenter) but rejected by the PCM16-only decoders."""
    plain = _decode(name, W.wav_bytes(_FMT, _PCM))
    assert plain != _DECODERS[name]
    got = _decode(name, _WALK_CASES[case])
    if case == "not_wave" or (case == "extensible" and name in _PCM16_ONLY):
        assert got == _DECODERS[name]
    else:
        assert got == plain


def test_wav_stats_sine(spark):
    """Full-scale 1 s sine: RMS ≈ 1/√2, peak ≈ 1, tiny clipped fraction."""
    import math

    from pyspark.sql import functions as F

    from audios_to_dataset_spark.functions.wav import (
        synth_wav,
        wav_stats,
    )

    df = spark.createDataFrame(
        [(synth_wav(sample_rate=8000),)], "content binary"
    )
    row = df.select(wav_stats(F.col("content")).alias("s")).select(
        "s.*"
    ).collect()[0]
    assert row.n_samples == 8000
    assert abs(row.rms - 1.0 / math.sqrt(2.0)) < 0.01
    assert 0.99 <= row.peak <= 1.0
    # a full-scale sine touches ±32767 on ~1% of samples
    assert 0.0 <= row.clipped_frac <= 0.02


def test_wav_stats_silence_and_garbage(spark):
    from pyspark.sql import functions as F

    from audios_to_dataset_spark.functions.wav import (
        synth_wav,
        wav_stats,
    )

    silent = synth_wav(sample_rate=1000, freq_hz=0.0)
    df = spark.createDataFrame(
        [(silent,), (b"not a wav",), (None,)], "content binary"
    )
    rows = df.select(wav_stats(F.col("content")).alias("s")).select(
        "s.*"
    ).collect()
    assert rows[0].rms == 0.0 and rows[0].n_samples == 1000
    assert rows[1] == rows[2]  # both degrade to all-zeros
    assert rows[1].n_samples == 0


def test_audio_stats_oracle_parity():
    """The exact-in-double argument behind q_audio_stats: every sample's
    (v/32768)^2 is a dyadic rational and the sums stay under 53 bits, so
    a sequential python replay must reproduce wav_pcm_stats bit-for-bit
    regardless of numpy's pairwise summation order."""
    import hashlib
    import math

    from audios_to_dataset_spark.functions.wav import (
        synth_wav_md5,
        wav_pcm_stats,
    )

    for doc_id in (0, 5, 36, 123):
        n = 64 + doc_id % 37
        vals = [
            int(
                hashlib.md5(f"au:{doc_id}:{i}".encode()).hexdigest()[:4], 16
            )
            - 32768
            for i in range(n)
        ]
        rms, peak, clipped, n_out = wav_pcm_stats(synth_wav_md5(doc_id))
        assert n_out == n
        ps = [v / 32768.0 for v in vals]
        assert rms == math.sqrt(sum(p * p for p in ps) / n)
        assert peak == max(abs(p) for p in ps)
        assert clipped == sum(abs(v) >= 32767 for v in vals) / n


def test_mulaw_decode_known_values():
    """ITU-T G.711 spot values: code 0x00 -> -32124 (max negative),
    0xFF -> 0, 0x7F -> 0, symmetry between sign halves."""
    from audios_to_dataset_spark.functions.wav import _mulaw_decode_byte

    assert _mulaw_decode_byte(0x00) == -32124
    assert _mulaw_decode_byte(0x80) == 32124
    assert _mulaw_decode_byte(0xFF) == 0
    assert _mulaw_decode_byte(0x7F) == 0
    for c in range(128):
        assert _mulaw_decode_byte(c) == -_mulaw_decode_byte(c + 128)


def test_wav_stats_mulaw_vs_python():
    import hashlib

    from audios_to_dataset_spark.functions.wav import (
        _mulaw_decode_byte,
        synth_wav_md5_ulaw,
        wav_pcm_stats,
    )

    doc_id = 11
    n = 48 + doc_id % 29
    codes = [
        int(hashlib.md5(f"ul:{doc_id}:{i}".encode()).hexdigest()[:2], 16)
        for i in range(n)
    ]
    ps = [_mulaw_decode_byte(c) / 32768.0 for c in codes]
    rms, peak, clipped, n_out = wav_pcm_stats(synth_wav_md5_ulaw(doc_id))
    import math

    assert n_out == n
    assert rms == math.sqrt(sum(p * p for p in ps) / n)
    assert peak == max(abs(p) for p in ps)
    assert clipped == 0.0  # mu-law max magnitude 32124 < 32767


def test_alaw_decode_known_values():
    """CCITT G.711 A-law reference pairs: 0x55/0xD5 are -8/+8 (segment
    0), 0x2A/0xAA are the +/- full-scale 32256 codes."""
    from audios_to_dataset_spark.functions.wav import _alaw_decode_byte

    assert _alaw_decode_byte(0x55) == -8
    assert _alaw_decode_byte(0xD5) == 8
    assert _alaw_decode_byte(0x2A) == -32256
    assert _alaw_decode_byte(0xAA) == 32256


def test_wav_stats_alaw_pcm8_f32_vs_python():
    """The three r5 format paths (A-law tag 6, unsigned PCM8 tag 1/8,
    IEEE float tag 3/32) against literal python replays of their md5
    fixture formulas."""
    import hashlib
    import math
    import struct as _s

    from audios_to_dataset_spark.functions.wav import (
        _alaw_decode_byte,
        synth_wav_md5_alaw,
        synth_wav_md5_f32,
        synth_wav_md5_pcm8,
        wav_pcm_stats,
    )

    doc_id = 7
    # A-law
    n = 40 + doc_id % 23
    ps = [
        _alaw_decode_byte(
            int(hashlib.md5(f"al:{doc_id}:{i}".encode()).hexdigest()[:2], 16)
        )
        / 32768.0
        for i in range(n)
    ]
    rms, peak, _c, n_out = wav_pcm_stats(synth_wav_md5_alaw(doc_id))
    assert n_out == n
    assert rms == math.sqrt(sum(p * p for p in ps) / n)
    assert peak == max(abs(p) for p in ps)
    # PCM8
    n = 56 + doc_id % 31
    ps = [
        (
            int(hashlib.md5(f"p8:{doc_id}:{i}".encode()).hexdigest()[:2], 16)
            - 128
        )
        * 256
        / 32768.0
        for i in range(n)
    ]
    rms, peak, clipped, n_out = wav_pcm_stats(synth_wav_md5_pcm8(doc_id))
    assert n_out == n
    assert rms == math.sqrt(sum(p * p for p in ps) / n)
    assert peak == max(abs(p) for p in ps)
    # code 0x00 widens to -32768 (|p| = 1.0), which counts as clipped
    assert clipped == sum(abs(p) >= 32767 / 32768 for p in ps) / n
    # float32 — fixture samples are 16-bit dyadic rationals: exact in f32
    n = 32 + doc_id % 19
    ps = [
        (
            int(hashlib.md5(f"f3:{doc_id}:{i}".encode()).hexdigest()[:4], 16)
            - 32768
        )
        / 32768.0
        for i in range(n)
    ]
    enc = synth_wav_md5_f32(doc_id)
    assert _s.unpack_from("<f", enc, 44)[0] == ps[0]
    rms, peak, _c, n_out = wav_pcm_stats(enc)
    assert n_out == n
    assert rms == math.sqrt(sum(p * p for p in ps) / n)
    assert peak == max(abs(p) for p in ps)


@pytest.mark.parametrize(
    "samples, want",
    [
        # a NaN or infinite sample is a malformed stream: the zeros fallback
        ((0.5, float("nan"), -0.25, float("inf")), (0.0, 0.0, 0.0, 0)),
        # a finite sample past full scale clamps to 1.0 and counts clipped
        ((0.5, 3e38), (0.625 ** 0.5, 1.0, 0.5, 2)),
    ],
)
def test_wav_stats_float_outside_full_scale(samples, want):
    body = struct.pack(f"<{len(samples)}f", *samples)
    data = W.wav_bytes(W._fmt(3, 1, 8000, 32), body)
    assert W.wav_pcm_stats(data) == want


def test_wav_stats_ima_adpcm_vs_python():
    """The IMA ADPCM state machine against a literal python replay of
    the fixture recurrence (the same recurrence the SQL oracle runs as
    a recursive CTE)."""
    import hashlib
    import math

    from audios_to_dataset_spark.functions.wav import (
        ima_adpcm_step,
        parse_wav_header,
        synth_wav_md5_adpcm,
        wav_pcm_stats,
    )

    for doc in (0, 3, 7, 10):
        n_nib = 24 + 2 * (doc % 11)
        pred = (
            int(hashlib.md5(f"ap:{doc}".encode()).hexdigest()[:4], 16)
            - 32768
        )
        idx = int(hashlib.md5(f"ai:{doc}".encode()).hexdigest()[:2], 16) % 89
        ps = [pred / 32768.0]
        for k in range(n_nib):
            nib = int(
                hashlib.md5(f"ad:{doc}:{k}".encode()).hexdigest()[0], 16
            )
            pred, idx = ima_adpcm_step(pred, idx, nib)
            assert -32768 <= pred <= 32767 and 0 <= idx <= 88
            ps.append(pred / 32768.0)
        rms, peak, _c, n_out = wav_pcm_stats(synth_wav_md5_adpcm(doc))
        assert n_out == 1 + n_nib
        assert rms == math.sqrt(sum(p * p for p in ps) / len(ps))
        assert peak == max(abs(p) for p in ps)
        _d, sr = parse_wav_header(synth_wav_md5_adpcm(doc))
        assert sr == 8000


def test_resample_linear_exact_and_identity():
    """Identity at equal rates; 2x upsample inserts exact midpoints;
    expression parity with the SQL oracle (x0 + f*(x1-x0))."""
    import numpy as np

    from audios_to_dataset_spark.functions.wav import resample_linear

    x = np.array([0.0, 1.0, -0.5, 0.25], dtype=np.float64)
    same = resample_linear(x, 16000, 16000)
    assert same.size == 4 and (same == x).all()
    up = resample_linear(x, 8000, 16000)
    # positions 0, .5, 1, 1.5, 2, 2.5, 3 -> 7 samples
    assert up.size == 7
    assert up[0] == 0.0 and up[2] == 1.0 and up[6] == 0.25
    assert up[1] == 0.0 + 0.5 * (1.0 - 0.0)
    assert up[3] == 1.0 + 0.5 * (-0.5 - 1.0)
    down = resample_linear(x, 16000, 8000)
    assert down.size == 2 and down[0] == 0.0 and down[1] == -0.5
    assert resample_linear(np.empty(0), 8000, 16000).size == 0


def test_downmix_stereo_exact():
    """Interleave, decode, and average must match a literal replay of
    the md5 fixture formula; mono/garbage input degrades to ([], 0)."""
    import hashlib
    import math

    from audios_to_dataset_spark.functions.wav import (
        downmix_stereo,
        synth_wav,
        synth_wav_md5_stereo,
    )

    doc = 9
    n = 40 + doc % 21
    mono, sr = downmix_stereo(synth_wav_md5_stereo(doc))
    assert sr == 16000 and len(mono) == n
    for i in (0, 1, n - 1):
        sl = int(hashlib.md5(f"sl:{doc}:{i}".encode()).hexdigest()[:4], 16) - 32768
        r = int(hashlib.md5(f"sr:{doc}:{i}".encode()).hexdigest()[:4], 16) - 32768
        assert mono[i] == (sl + r) * 0.5 / 32768.0
    rms = math.sqrt(sum(p * p for p in mono) / n)
    assert rms == math.sqrt(sum(p * p for p in mono) / n)
    assert downmix_stereo(synth_wav(8000)) == ([], 0)  # mono input
    assert downmix_stereo(b"garbage") == ([], 0)
    assert downmix_stereo(None) == ([], 0)


def test_wave_format_extensible():
    """Tag 0xFFFE resolves through the SubFormat GUID: PCM16 and
    float32 fixtures decode to the identical signal; a corrupted
    KSDATAFORMAT suffix is rejected (zeros), not misread as PCM."""
    import numpy as np

    from audios_to_dataset_spark.functions.wav import (
        _KSDATAFORMAT_SUFFIX,
        parse_wav_header,
        synth_wav_md5_ext,
        wav_pcm_stats,
    )

    b_pcm = synth_wav_md5_ext(2)   # even -> PCM16 subformat
    b_f32 = synth_wav_md5_ext(3)   # odd  -> float32 subformat
    r_pcm = wav_pcm_stats(b_pcm)
    r_f32 = wav_pcm_stats(b_f32)
    assert r_pcm[3] == 44 + 2 % 31 and r_f32[3] == 44 + 3 % 31
    assert r_pcm[0] > 0 and r_f32[0] > 0
    # same doc, both subformats = identical dyadic signal
    dur, sr = parse_wav_header(b_pcm)
    assert sr == 8000 + (2 % 3) * 4000 and dur > 0
    # corrupt one suffix byte: the GUID is no longer KSDATAFORMAT ->
    # rejected, never treated as PCM
    idx = b_pcm.find(_KSDATAFORMAT_SUFFIX)
    bad = bytearray(b_pcm)
    bad[idx + 5] ^= 0xFF
    assert wav_pcm_stats(bytes(bad)) == (0.0, 0.0, 0.0, 0)
    # truncated fmt chunk (no GUID) -> rejected
    assert wav_pcm_stats(b_pcm[:40]) == (0.0, 0.0, 0.0, 0)


def test_vad_segments():
    """vad_segments: frame windowing, threshold, run merging, trailing
    partial-window drop, and undecodable fallback."""
    import struct as _s

    from audios_to_dataset_spark.functions.wav import (
        synth_wav_vad,
        vad_segments,
    )

    # hand-built: 3 frames voiced-silent-voiced + 10 trailing samples
    def wav(samples):
        body = b"".join(_s.pack("<h", x) for x in samples)
        return W.wav_bytes(_s.pack("<HHIIHH", 1, 1, 8000, 16000, 2, 16), body)

    loud = [9000 if i % 2 == 0 else -9000 for i in range(40)]
    sig = loud + [0] * 40 + loud + [9000] * 10  # partial tail dropped
    assert vad_segments(wav(sig)) == (3, 2, 2, 1)
    # adjacent voiced frames merge into one segment
    assert vad_segments(wav(loud * 3)) == (3, 3, 1, 3)
    # all silent
    assert vad_segments(wav([0] * 120)) == (3, 0, 0, 0)
    # below 40 samples -> zero frames
    assert vad_segments(wav([9000] * 39)) == (0, 0, 0, 0)
    # fixture round-trip matches the md5 coin
    got = vad_segments(synth_wav_vad(7))
    assert got is not None and got[0] == 6 + 7 % 5
    assert vad_segments(b"nope") is None
    assert vad_segments(None) is None
