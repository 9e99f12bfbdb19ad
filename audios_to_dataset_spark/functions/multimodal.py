"""Multimodal columns: image/audio/video as opaque binary + typed metadata.

The large-scale-training-data pattern: media travel as ``binary`` columns
(the same shape as the audio pipeline's ``content``), and every transform
is an Arrow-batched ``mapInPandas`` whose schema/partitioning/batch
contract is real and tested even where the heavy codec is not available
in this container.

What is REAL here:
- image header decode (PNG / JPEG / GIF / BMP dimensions) — pure-Python
  header walks, no codec needed (same spirit as the WAV header decode,
  /root/reference/src/main.rs:760-769)
- audio decode — delegates to functions.wav (PCM/G.711/float/ADPCM)
  and functions.flac (Rice-coded fixed-predictor FLAC)
- deterministic fake feature extraction (md5-seeded unit vector) — real
  schema ``array<float>``, real batch plumbing, reproducible for tests
- the mapInPandas iterator protocol, spill-safe batching, NULL handling

- REAL pixel decode + nearest-neighbor resize + pixel stats for
  uncompressed 24-bit BMP (encode_bmp/decode_bmp_pixels/resize_nn),
  stdlib-zlib PNG (all five row filters), pure-python-LZW GIF, baseline
  AND progressive JPEG (functions.jpeg: Huffman + numpy IDCT +
  T.81 §G successive approximation), raw-RGB AVI, MJPEG-in-AVI frames,
  Truevision TGA (type 2 + RLE), Windows ICO (DIB and embedded-PNG
  payloads), binary Netpbm (P5/P6), baseline TIFF (2-strip,
  PackBits, both byte orders), lossless WebP (functions.vp8l: the
  full VP8L entropy layer), QOI (functions.qoi: the complete spec,
  all six chunk ops), THREE INTER-FRAME paths —
  MS-RLE8 (BI_RLE8: row-granular delta frames over a persistent
  framebuffer), MS Video 1 ('CRAM': 4x4 block skip runs +
  1/2/8-color opcodes), and ANIMATED GIF (GCE disposal-method
  compositing over a persistent canvas) — plus JPEG metadata
  scrubbing (strip_jpeg_metadata: APP1/COM segment drop with a
  pixel-preservation proof) — each value-hash-oracled (q_image_resize
  / q_png_pixels / q_gif_pixels / q_jpeg_pixels / q_jpeg_progressive /
  q_video_frames / q_mjpeg_frames / q_rle_frames / q_msvc_frames /
  q_tga_pixels / q_ico_pixels / q_pnm_pixels / q_tiff_pixels /
  q_webp_pixels / q_qoi_pixels / q_gif_anim / q_exif_scrub)

What is STUBBED (no PIL/ffmpeg in the container):
- pixel decode for arithmetic/hierarchical/lossless JPEG → None
- frame extraction for motion-compensated codecs (H.264/VP9/AV1 —
  they need an ffmpeg binding) → raises NotImplementedError unless
  av/ffmpeg importable

Scale notes: media rows are large (MBs); transforms repartition by
byte-size budget, not row count, so a 1000-executor cluster gets balanced
tasks (`partition_by_size_budget`). Never collect media columns.
"""

from __future__ import annotations

import hashlib
import struct
from collections.abc import Callable, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

# ---------------------------------------------------------------------------
# Image header decode (real)
# ---------------------------------------------------------------------------

IMAGE_INFO_TYPE = T.StructType(
    [
        T.StructField("format", T.StringType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
    ]
)


def parse_image_header(data: bytes | None) -> tuple[str | None, int, int]:
    """(format, width, height) from magic bytes + header fields; unknown or
    truncated input → (None, 0, 0). Pure Python, no codecs."""
    try:
        if not data or len(data) < 12:
            return None, 0, 0
        if data[:8] == b"\x89PNG\r\n\x1a\n" and data[12:16] == b"IHDR":
            w, h = struct.unpack(">II", data[16:24])
            return "png", w, h
        if data[:6] in (b"GIF87a", b"GIF89a"):
            w, h = struct.unpack("<HH", data[6:10])
            return "gif", w, h
        if data[:2] == b"BM":
            w, h = struct.unpack("<ii", data[18:26])
            return "bmp", w, abs(h)
        if data[:4] in (b"II*\x00", b"MM\x00*"):  # TIFF: walk IFD0
            little = data[:2] == b"II"
            e = "<" if little else ">"
            (ifd,) = struct.unpack_from(e + "I", data, 4)
            if ifd + 2 > len(data):
                return "tiff", 0, 0
            (n_ent,) = struct.unpack_from(e + "H", data, ifd)
            w = h = 0
            for k in range(n_ent):
                off = ifd + 2 + 12 * k
                if off + 12 > len(data):
                    break
                tag_id, typ = struct.unpack_from(e + "HH", data, off)
                if typ == 3:  # SHORT, value inline in first 2 bytes
                    (val,) = struct.unpack_from(e + "H", data, off + 8)
                elif typ == 4:  # LONG
                    (val,) = struct.unpack_from(e + "I", data, off + 8)
                else:
                    continue
                if tag_id == 256:
                    w = val
                elif tag_id == 257:
                    h = val
            return "tiff", w, h
        if data[:4] == b"RIFF" and data[8:12] == b"WEBP":
            fourcc = data[12:16]
            if fourcc == b"VP8L" and len(data) >= 25 and data[20] == 0x2F:
                bits = struct.unpack_from("<I", data, 21)[0]
                return "webp", (bits & 0x3FFF) + 1, ((bits >> 14) & 0x3FFF) + 1
            if fourcc == b"VP8X" and len(data) >= 30:
                w = int.from_bytes(data[24:27], "little") + 1
                h = int.from_bytes(data[27:30], "little") + 1
                return "webp", w, h
            if (
                fourcc == b"VP8 "
                and len(data) >= 30
                and data[23:26] == b"\x9d\x01\x2a"
            ):
                (w,) = struct.unpack_from("<H", data, 26)
                (h,) = struct.unpack_from("<H", data, 28)
                return "webp", w & 0x3FFF, h & 0x3FFF
            return "webp", 0, 0
        if data[:4] == b"qoif" and len(data) >= 14:  # QOI
            w, h = struct.unpack_from(">II", data, 4)
            return "qoi", w, h
        if data[:4] == b"\x00\x00\x01\x00":  # ICO: dims from entry 0
            entry = _ico_entry0(data)
            if entry is None:
                return None, 0, 0
            w, h = data[6], data[7]
            return "ico", w or 256, h or 256
        if data[:1] == b"P" and data[1:2] in (b"4", b"5", b"6"):
            # binary Netpbm
            fmt = {b"4": "pbm", b"5": "pgm", b"6": "ppm"}[data[1:2]]
            px = decode_pnm_pixels(data)
            if px is None:
                return fmt, 0, 0
            return fmt, px.shape[1], px.shape[0]
        if data[:2] == b"\xff\xd8":  # JPEG: scan for a SOF marker
            pos = 2
            n = len(data)
            while pos + 9 < n:
                if data[pos] != 0xFF:
                    pos += 1
                    continue
                marker = data[pos + 1]
                if 0xC0 <= marker <= 0xCF and marker not in (
                    0xC4, 0xC8, 0xCC
                ):
                    h, w = struct.unpack(">HH", data[pos + 5 : pos + 9])
                    return "jpeg", w, h
                (seg_len,) = struct.unpack(">H", data[pos + 2 : pos + 4])
                pos += 2 + seg_len
            return "jpeg", 0, 0
        return None, 0, 0
    except Exception:
        return None, 0, 0


def with_image_info(df: DataFrame, content_col: str = "content") -> DataFrame:
    """Append an ``image`` struct column decoded from headers via
    mapInPandas (batch-iterating, so a huge media partition never
    materializes as one pandas frame)."""
    out_schema = T.StructType(
        list(df.schema.fields) + [T.StructField("image", IMAGE_INFO_TYPE)]
    )

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            info = [parse_image_header(b) for b in pdf[content_col]]
            pdf = pdf.copy()
            pdf["image"] = [
                {"format": f, "width": w, "height": h} for f, w, h in info
            ]
            yield pdf

    return df.mapInPandas(decode, out_schema)


# ---------------------------------------------------------------------------
# Deterministic fake feature extraction (real plumbing, fake model)
# ---------------------------------------------------------------------------


def fake_embedding(data: bytes | None, dim: int = 16) -> list[float]:
    """Deterministic unit vector seeded by the content digest — a stand-in
    for a real encoder with identical schema and distribution properties
    (reproducible across engines/runs for tests)."""
    if data is None:
        data = b""
    seed = int.from_bytes(hashlib.md5(data).digest()[:8], "big")
    rng = np.random.default_rng(seed)
    v = rng.standard_normal(dim)
    norm = float(np.linalg.norm(v))
    return [float(x) for x in (v / norm if norm > 0 else v)]


def with_content_embedding(
    df: DataFrame, content_col: str = "content", dim: int = 16
) -> DataFrame:
    """Append ``embedding array<float>`` via mapInPandas."""
    out_schema = T.StructType(
        list(df.schema.fields)
        + [T.StructField("embedding", T.ArrayType(T.FloatType()))]
    )

    def encode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            pdf = pdf.copy()
            pdf["embedding"] = [
                fake_embedding(b, dim) for b in pdf[content_col]
            ]
            yield pdf

    return df.mapInPandas(encode, out_schema)


# ---------------------------------------------------------------------------
# REAL pixel ops for uncompressed 24-bit BMP (no codec required)
# ---------------------------------------------------------------------------


def encode_bmp(px: np.ndarray) -> bytes:
    """Encode an (h, w, 3) uint8 RGB array as an uncompressed 24-bit
    BI_RGB BMP (bottom-up rows, 4-byte row padding). Pure struct+numpy —
    the Windows BMP container needs no codec, which is what makes the
    pixel path REAL in this container while PNG/JPEG stay PIL-gated."""
    h, w, _ = px.shape
    row_size = (w * 3 + 3) & ~3
    img_size = row_size * h
    bgr = px[::-1, :, ::-1]
    rows = np.zeros((h, row_size), dtype=np.uint8)
    rows[:, : w * 3] = bgr.reshape(h, w * 3)
    hdr = b"BM" + struct.pack("<IHHI", 14 + 40 + img_size, 0, 0, 54)
    dib = struct.pack(
        "<IiiHHIIiiII", 40, w, h, 1, 24, 0, img_size, 2835, 2835, 0, 0
    )
    return hdr + dib + rows.tobytes()


def decode_bmp_pixels(data: bytes | None) -> np.ndarray | None:
    """Decode an uncompressed 24-bit BI_RGB BMP to an (h, w, 3) uint8 RGB
    array (top-down). Anything else — other bit depths, compression,
    truncation, non-BMP magic — returns None (the keep-with-fallback
    contract shared with the WAV decoder)."""
    try:
        if not data or len(data) < 54 or data[:2] != b"BM":
            return None
        (off,) = struct.unpack_from("<I", data, 10)
        dib_size, w, h = struct.unpack_from("<Iii", data, 14)
        (bpp,) = struct.unpack_from("<H", data, 28)
        (comp,) = struct.unpack_from("<I", data, 30)
        if dib_size < 40 or bpp != 24 or comp != 0 or w <= 0 or h == 0:
            return None
        habs = abs(h)
        row_size = (w * 3 + 3) & ~3
        if len(data) < off + row_size * habs:
            return None
        arr = np.frombuffer(
            data, dtype=np.uint8, count=row_size * habs, offset=off
        ).reshape(habs, row_size)
        rgb = arr[:, : w * 3].reshape(habs, w, 3)[:, :, ::-1]
        return rgb[::-1] if h > 0 else rgb
    except Exception:
        return None


def resize_nn(px: np.ndarray, out_w: int, out_h: int) -> np.ndarray:
    """Nearest-neighbor resize by integer index maps: output pixel (j, i)
    samples source (floor(j*h/out_h), floor(i*w/out_w)) — the same rule a
    SQL oracle can replay coordinate-by-coordinate. Vectorized fancy
    indexing; no interpolation floats anywhere."""
    h, w, _ = px.shape
    ix = (np.arange(out_w) * w) // out_w
    iy = (np.arange(out_h) * h) // out_h
    return np.ascontiguousarray(px[iy][:, ix])


def _resize_images_codec_free(
    df: DataFrame, width: int, height: int, content_col: str = "content"
) -> DataFrame:
    """resize_images fallback when PIL is absent: BMP→BMP, PNG→PNG, and
    GIF/baseline-JPEG→PNG (decoded truecolor pixels re-encode losslessly
    as PNG — our GIF encoder is palette-bound and our JPEG encoder is a
    fixture writer, not a compressor) via the real decode/NN-resize/
    encode path; other bytes unchanged. Known narrowing vs the PIL path:
    RGBA PNG input is re-encoded as RGB (``decode_png_pixels`` drops the
    alpha plane; the PIL path preserves the source mode)."""
    out_schema = df.schema

    def go(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for b in pdf[content_col]:
                px = decode_image_pixels(b)
                if px is None:
                    out.append(b)
                elif bytes(b[:2]) == b"BM":
                    out.append(encode_bmp(resize_nn(px, width, height)))
                else:
                    out.append(encode_png(resize_nn(px, width, height)))
            pdf = pdf.copy()
            pdf[content_col] = out
            yield pdf

    return df.mapInPandas(go, out_schema)


def resize_images_bmp(
    df: DataFrame, width: int, height: int, content_col: str = "content"
) -> DataFrame:
    """REAL pixel resize for uncompressed 24-bit BMPs — decode →
    nearest-neighbor sample → re-encode, Arrow-batched. Non-BMP or
    malformed bytes pass through unchanged. Scale shape: stateless
    per-row transform; partition by byte budget upstream for MB-sized
    media rows."""
    out_schema = df.schema

    def go(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for b in pdf[content_col]:
                px = decode_bmp_pixels(b)
                out.append(
                    encode_bmp(resize_nn(px, width, height))
                    if px is not None
                    else b
                )
            pdf = pdf.copy()
            pdf[content_col] = out
            yield pdf

    return df.mapInPandas(go, out_schema)


def with_pixel_mean(
    df: DataFrame, content_col: str = "content", out_col: str = "mean_px"
) -> DataFrame:
    """Mean pixel value of any decode_image_pixels-decodable image
    (BMP/PNG/GIF/baseline JPEG; exact integer sum / count, so the double
    is engine-reproducible); NULL for undecodable bytes."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def _mean(content: pd.Series) -> pd.Series:
        vals = []
        for b in content:
            px = decode_image_pixels(b)
            vals.append(
                int(px.astype(np.int64).sum()) / px.size
                if px is not None
                else None
            )
        return pd.Series(vals, dtype="float64")

    return df.withColumn(out_col, _mean(F.col(content_col)))


def synth_gray_png(doc_id: int) -> bytes:
    """Deterministic grayscale PNG fixture with CYCLED row filters: dims
    from the id, pixel (x, y) = first md5 byte of ``pn:{id}:{x}:{y}`` —
    the decode must undo zlib + all five PNG filters to reproduce the
    oracle-recomputable values."""
    w0 = 12 + doc_id % 9
    h0 = 12 + doc_id % 7
    px = np.empty((h0, w0, 3), dtype=np.uint8)
    for y in range(h0):
        for x in range(w0):
            v = int(
                hashlib.md5(f"pn:{doc_id}:{x}:{y}".encode()).hexdigest()[:2],
                16,
            )
            px[y, x, :] = v
    return encode_png(px, cycle_filters=True)


def synth_gray_bmp(doc_id: int) -> bytes:
    """Deterministic grayscale BMP fixture: dims derived from the id,
    pixel (x, y) = first md5 byte of ``px:{id}:{x}:{y}`` — the formula a
    DuckDB oracle can recompute per coordinate, so a full value-hash
    check covers the entire encode → decode → resize pixel path."""
    w0 = 16 + doc_id % 17
    h0 = 16 + doc_id % 13
    px = np.empty((h0, w0, 3), dtype=np.uint8)
    for y in range(h0):
        for x in range(w0):
            v = int(
                hashlib.md5(f"px:{doc_id}:{x}:{y}".encode()).hexdigest()[:2],
                16,
            )
            px[y, x, :] = v
    return encode_bmp(px)


def with_fixture(
    df: DataFrame, synth: Callable[[int], bytes | None]
) -> DataFrame:
    """Set ``content`` to the fixture bytes ``synth(doc_id)`` of each row
    through one scalar pandas UDF; a NULL id gets NULL content. Every
    multimodal fixture query builds its media column here. The UDF keeps
    the name ``_synth``: it is the ``_synth(doc_id#…)`` argument that
    plan_audit's DuplicatedPythonEval flag and test_udf_dup_gate read."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("binary")
    def _synth(ids: pd.Series) -> pd.Series:
        return pd.Series([None if pd.isna(i) else synth(int(i)) for i in ids])

    return df.withColumn("content", _synth(F.col("doc_id")))


# ---------------------------------------------------------------------------
# Stubbed pixel/video ops (clearly marked; real signatures)
# ---------------------------------------------------------------------------


def resize_images(
    df: DataFrame,
    width: int,
    height: int,
    content_col: str = "content",
) -> DataFrame:
    """Pixel resize. With PIL present, any format PIL reads; without it,
    falls back to the REAL codec-free path — BMP, non-interlaced 8-bit
    PNG, GIF, and baseline JPEG decode via decode_image_pixels,
    nearest-neighbor resize, re-encode (BMP→BMP, PNG/GIF/JPEG→PNG) —
    and passes other formats through unchanged. Codec-free narrowing:
    RGBA PNGs come back RGB (alpha dropped), unlike the PIL path which
    preserves source mode."""
    try:
        from PIL import Image  # noqa: F401
    except ImportError:
        return _resize_images_codec_free(df, width, height, content_col)

    import io

    out_schema = df.schema

    def resize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from PIL import Image

        for pdf in batches:
            out = []
            for b in pdf[content_col]:
                img = Image.open(io.BytesIO(b))
                # capture before resize(): the resized copy has
                # .format=None, which would silently re-encode
                # everything as PNG
                fmt = img.format or "PNG"
                buf = io.BytesIO()
                img.resize((width, height)).save(buf, format=fmt)
                out.append(buf.getvalue())
            pdf = pdf.copy()
            pdf[content_col] = out
            yield pdf

    return df.mapInPandas(resize, out_schema)


def sample_video_frames(
    df: DataFrame,
    every_n: int = 2,
    id_col: str = "doc_id",
    content_col: str = "content",
    *,
    every_n_seconds: float | None = None,
) -> DataFrame:
    """Video frame sampling — REAL for AVI containers: raw-RGB '00db'
    streams and MJPEG '00dc' streams (each frame a baseline JPEG,
    decoded by functions.jpeg) both run codec-free end-to-end via
    ``sample_avi_frames``. Containers this build genuinely cannot decode
    (MP4/MKV, H.264/VP9/AV1 — they need an ffmpeg binding) emit no rows
    for that input (the same skip-with-fallback contract as every other
    decoder here); wire PyAV in place of decode_avi_frames to widen
    coverage.

    ``every_n_seconds`` was the pre-r5 time-based parameter; the sampler
    is now frame-index based (``every_n``). Passing the old keyword
    raises rather than silently re-interpreting the value (ADVICE r5)."""
    if every_n_seconds is not None:
        raise TypeError(
            "sample_video_frames(every_n_seconds=...) was replaced by the"
            " frame-index parameter every_n=<int>; convert with"
            " every_n = round(every_n_seconds * fps) for your stream"
        )
    return sample_avi_frames(df, every_n, id_col, content_col)


def decode_mc_video_frames(
    data: bytes | None, every_n: int = 1
) -> list[tuple[int, np.ndarray]]:
    """Frame extraction for MOTION-COMPENSATED containers/codecs
    (MP4/MKV/WebM carrying H.264/H.265/VP9/AV1) — the one decode
    family this build cannot do codec-free. Delegates to PyAV when it
    is importable and raises ``NotImplementedError`` otherwise (the
    documented gate: a stub with a real signature, never a fake
    decode). Returns [(frame_index, HxWx3 uint8 RGB), ...] for every
    ``every_n``-th frame of the first video stream.

    Exercised by tests/test_mc_video_av.py: the decode path runs
    end-to-end (PyAV-encoded fixture -> this function) wherever ``av``
    is installed, and the refusal contract is asserted where it isn't.
    Batch shape note for the Spark callers: wire this inside
    ``mapInPandas`` exactly like ``sample_avi_frames`` — one video per
    row, frames exploded to rows, so a 100 TB corpus never
    materializes more than one pandas batch of frames per task."""
    try:
        import av
    except ImportError as e:  # pragma: no cover - exercised via tests
        raise NotImplementedError(
            "motion-compensated video (H.264/VP9/AV1) needs PyAV;"
            " install 'av' to enable this path"
        ) from e
    import io

    if not data or every_n < 1:
        return []
    out: list[tuple[int, np.ndarray]] = []
    # Decoders never raise on corrupt/mismatched streams (the contract
    # the 16-format mutation fuzz enforces repo-wide, ADVICE r8): an
    # audio-only container, a truncated moov box, or mid-stream damage
    # returns the frames decoded so far (possibly []), same as the
    # pure-Python decoders' None/empty fallback.
    try:
        with av.open(io.BytesIO(bytes(data))) as container:
            if not container.streams.video:
                return []
            for i, frame in enumerate(container.decode(video=0)):
                if i % every_n == 0:
                    out.append((i, frame.to_ndarray(format="rgb24")))
    except av.AVError:
        return out
    except (ValueError, OSError):  # PyAV wraps some demux errors as these
        return out
    return out


# ---------------------------------------------------------------------------
# REAL PNG decode via stdlib zlib (no PIL) — 8-bit RGB/RGBA, no interlace
# ---------------------------------------------------------------------------


def _png_filter_row(
    cur: np.ndarray, prev: np.ndarray, bpp: int, ft: int
) -> np.ndarray:
    """Apply PNG filter ``ft`` to one raw row (mod-256, per spec §9).
    ``a``/``b``/``c`` reference RAW neighbors because the decoder's
    reconstruction equals the raw bytes."""
    a = np.concatenate([np.zeros(bpp, dtype=np.int64), cur[:-bpp]])
    b = prev
    c = np.concatenate([np.zeros(bpp, dtype=np.int64), prev[:-bpp]])
    if ft == 0:
        out = cur
    elif ft == 1:
        out = cur - a
    elif ft == 2:
        out = cur - b
    elif ft == 3:
        out = cur - ((a + b) >> 1)
    elif ft == 4:
        p = a + b - c
        pa, pb, pc = np.abs(p - a), np.abs(p - b), np.abs(p - c)
        pred = np.where(
            (pa <= pb) & (pa <= pc), a, np.where(pb <= pc, b, c)
        )
        out = cur - pred
    else:
        raise ValueError(ft)
    return out & 0xFF


def encode_png(
    px: np.ndarray, cycle_filters: bool = False, interlace: bool = False
) -> bytes:
    """Encode an (h, w, 3) uint8 RGB array as an 8-bit PNG (one zlib
    IDAT). stdlib-only. ``cycle_filters`` writes row y with filter
    y % 5, so a round-trip exercises every filter's decode path against
    a real zlib stream (the fixture mode q_png_pixels uses);
    ``interlace`` writes the Adam7 layout (7 independently-filtered
    pass sub-images)."""
    import zlib

    h, w, _ = px.shape

    def chunk(tag: bytes, body: bytes) -> bytes:
        return (
            struct.pack(">I", len(body))
            + tag
            + body
            + struct.pack(">I", zlib.crc32(tag + body) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 1 if interlace else 0)
    parts = []

    def emit(img: np.ndarray) -> None:
        ph, pw, _ = img.shape
        stride = pw * 3
        flat = img.reshape(ph, stride).astype(np.int64)
        for y in range(ph):
            ft = (y % 5) if cycle_filters else 0
            prev = (
                flat[y - 1] if y > 0 else np.zeros(stride, dtype=np.int64)
            )
            filtered = _png_filter_row(flat[y], prev, 3, ft)
            parts.append(bytes([ft]) + filtered.astype(np.uint8).tobytes())

    if interlace:
        for x0, y0, dx, dy in _ADAM7:
            sub = px[y0::dy, x0::dx]
            if sub.size:
                emit(np.ascontiguousarray(sub))
    else:
        emit(px)
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(b"".join(parts)))
        + chunk(b"IEND", b"")
    )


def _png_unfilter(
    raw: np.ndarray, h: int, stride: int, bpp: int
) -> np.ndarray:
    """Undo PNG row filters (spec section 9): rows arrive as
    (filter_byte, stride bytes). Filters None/Up are vectorized; the
    sequential Sub/Average/Paeth recurrences run per byte — acceptable
    for fixture-scale images, and exact per the spec's mod-256 math."""
    out = np.zeros((h, stride), dtype=np.int64)
    pos = 0
    for y in range(h):
        ft = int(raw[pos])
        row = raw[pos + 1 : pos + 1 + stride].astype(np.int64)
        pos += 1 + stride
        prev = out[y - 1] if y > 0 else np.zeros(stride, dtype=np.int64)
        if ft == 0:
            cur = row
        elif ft == 2:
            cur = (row + prev) & 0xFF
        elif ft == 1:
            cur = row.copy()
            for i in range(bpp, stride):
                cur[i] = (cur[i] + cur[i - bpp]) & 0xFF
        elif ft == 3:
            cur = row.copy()
            for i in range(stride):
                a = cur[i - bpp] if i >= bpp else 0
                cur[i] = (cur[i] + ((a + prev[i]) >> 1)) & 0xFF
        elif ft == 4:
            cur = row.copy()
            for i in range(stride):
                a = cur[i - bpp] if i >= bpp else 0
                b = prev[i]
                c = prev[i - bpp] if i >= bpp else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pr = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                cur[i] = (cur[i] + pr) & 0xFF
        else:
            raise ValueError(f"bad filter {ft}")
        out[y] = cur
    return out.astype(np.uint8)


# Adam7 pass grid: (x0, y0, dx, dy) per pass (PNG spec section 8.2)
_ADAM7 = (
    (0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
    (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2),
)


def decode_png_pixels(data: bytes | None) -> np.ndarray | None:
    """Decode an 8-bit PNG to (h, w, 3) uint8 RGB via stdlib zlib —
    truecolor (ctype 2), truecolor+alpha (6, alpha dropped), and
    PALETTE (3, mapped through PLTE; tRNS transparency dropped like
    alpha), each in both progressive-scan and Adam7-INTERLACED layout
    (each of the 7 passes is an independently-filtered sub-image,
    scattered back on the pass grid). All five row filters per the
    spec. 16-bit depth decodes by taking each sample's high byte (the
    libpng strip_16 / PIL convention). Sub-8-bit depths → None
    (keep-with-fallback)."""
    import zlib

    try:
        if not data or data[:8] != b"\x89PNG\r\n\x1a\n":
            return None
        pos = 8
        w = h = 0
        channels = 0
        depth = 0
        interlaced = False
        palette: np.ndarray | None = None
        ctype = -1
        idat = b""
        n = len(data)
        while pos + 8 <= n:
            (size,) = struct.unpack_from(">I", data, pos)
            tag = data[pos + 4 : pos + 8]
            body = data[pos + 8 : pos + 8 + size]
            if tag == b"IHDR":
                w, h, depth, ctype, comp, filt, inter = struct.unpack(
                    ">IIBBBBB", body
                )
                if depth not in (8, 16) or comp != 0 or filt != 0 \
                        or inter > 1:
                    return None
                if depth == 16 and ctype == 3:
                    return None  # spec: palette depth is <= 8
                interlaced = inter == 1
                channels = {2: 3, 3: 1, 6: 4}.get(ctype, 0)
                if channels == 0:
                    return None
            elif tag == b"PLTE":
                if len(body) % 3 or not body:
                    return None
                palette = np.frombuffer(body, dtype=np.uint8).reshape(-1, 3)
            elif tag == b"IDAT":
                idat += body
            elif tag == b"IEND":
                break
            pos += 12 + size
        if w <= 0 or h <= 0 or not idat:
            return None
        if ctype == 3 and palette is None:
            return None
        raw = np.frombuffer(zlib.decompress(idat), dtype=np.uint8)
        bpp = channels * (depth // 8)  # filter unit = bytes per pixel
        if interlaced:
            px = np.zeros((h, w, bpp), dtype=np.uint8)
            off = 0
            for x0, y0, dx, dy in _ADAM7:
                pw = (w - x0 + dx - 1) // dx
                ph = (h - y0 + dy - 1) // dy
                if pw <= 0 or ph <= 0:
                    continue
                stride = pw * bpp
                need = ph * (stride + 1)
                sub = _png_unfilter(
                    raw[off : off + need], ph, stride, bpp
                ).reshape(ph, pw, bpp)
                off += need
                px[y0::dy, x0::dx] = sub
            if off != raw.size:
                return None
        else:
            stride = w * bpp
            if raw.size != h * (stride + 1):
                return None
            px = _png_unfilter(raw, h, stride, bpp).reshape(h, w, bpp)
        if depth == 16:
            px = px[:, :, 0::2]  # network byte order: MSB first
        if ctype == 3:
            idx = px[:, :, 0]
            if int(idx.max(initial=0)) >= palette.shape[0]:
                return None
            return np.ascontiguousarray(palette[idx])
        return np.ascontiguousarray(px[:, :, :3])
    except Exception:
        return None


def encode_png16(px16: np.ndarray, interlace: bool = False) -> bytes:
    """Encode an (h, w, 3) uint16 array as a 16-bit truecolor PNG
    (network byte order, filter unit 6 bytes/pixel, rows cycling the
    five filters), progressive or Adam7."""
    import zlib

    h, w, _ = px16.shape

    def chunk(tag: bytes, body: bytes) -> bytes:
        return (
            struct.pack(">I", len(body))
            + tag
            + body
            + struct.pack(">I", zlib.crc32(tag + body) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", w, h, 16, 2, 0, 0, 1 if interlace else 0)
    parts = []

    def emit(img: np.ndarray) -> None:
        ph, pw, _ = img.shape
        stride = pw * 6
        flat = np.frombuffer(
            img.astype(">u2").tobytes(), dtype=np.uint8
        ).reshape(ph, stride).astype(np.int64)
        for y in range(ph):
            ft = y % 5
            prev = (
                flat[y - 1] if y > 0 else np.zeros(stride, dtype=np.int64)
            )
            filtered = _png_filter_row(flat[y], prev, 6, ft)
            parts.append(bytes([ft]) + filtered.astype(np.uint8).tobytes())

    if interlace:
        for x0, y0, dx, dy in _ADAM7:
            sub = px16[y0::dy, x0::dx]
            if sub.size:
                emit(np.ascontiguousarray(sub))
    else:
        emit(px16)
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(b"".join(parts)))
        + chunk(b"IEND", b"")
    )


def synth_png16(doc_id: int) -> bytes:
    """Deterministic 16-bit truecolor PNG fixture: dims (6 + id%9,
    5 + id%8), channel c of pixel (x, y) = hex chars [4c, 4c+4) of
    md5(``p6:{id}:{x}:{y}``) as a 16-bit value. The decoder's MSB
    downconversion makes the expected 8-bit value the FIRST hex pair of
    each channel's quad — oracle-recomputable."""
    w0 = 6 + doc_id % 9
    h0 = 5 + doc_id % 8
    px = np.empty((h0, w0, 3), dtype=np.uint16)
    for y in range(h0):
        for x in range(w0):
            hx = hashlib.md5(f"p6:{doc_id}:{x}:{y}".encode()).hexdigest()
            for c in range(3):
                px[y, x, c] = int(hx[4 * c : 4 * c + 4], 16)
    return encode_png16(px, interlace=False)


def encode_png_palette(
    idx2d: np.ndarray, palette: np.ndarray, interlace: bool = False
) -> bytes:
    """Encode an (h, w) uint8 index array + (n, 3) palette as an 8-bit
    indexed PNG (ctype 3), progressive or Adam7-interlaced; every row
    (or pass-row) cycles the five filters like encode_png's fixture
    mode, so the decode exercises the full filter set per pass."""
    import zlib

    h, w = idx2d.shape

    def chunk(tag: bytes, body: bytes) -> bytes:
        return (
            struct.pack(">I", len(body))
            + tag
            + body
            + struct.pack(">I", zlib.crc32(tag + body) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", w, h, 8, 3, 0, 0, 1 if interlace else 0)
    parts = []

    def emit(img: np.ndarray) -> None:
        ph, pw = img.shape
        flat = img.reshape(ph, pw).astype(np.int64)
        for y in range(ph):
            ft = y % 5
            prev = (
                flat[y - 1] if y > 0 else np.zeros(pw, dtype=np.int64)
            )
            filtered = _png_filter_row(flat[y], prev, 1, ft)
            parts.append(bytes([ft]) + filtered.astype(np.uint8).tobytes())

    if interlace:
        for x0, y0, dx, dy in _ADAM7:
            sub = idx2d[y0::dy, x0::dx]
            if sub.size:
                emit(sub)
    else:
        emit(idx2d)
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"PLTE", palette.astype(np.uint8).tobytes())
        + chunk(b"IDAT", zlib.compress(b"".join(parts)))
        + chunk(b"IEND", b"")
    )


def decode_image_pixels(data: bytes | None) -> np.ndarray | None:
    """Dispatch pixel decode by magic bytes: BMP, PNG, GIF, baseline +
    progressive JPEG (functions.jpeg: pure-python Huffman + numpy IDCT),
    ICO (DIB or embedded-PNG payloads), and binary Netpbm (P5/P6) are
    all REAL codec-free paths; arithmetic-coded JPEG → None."""
    if not data or len(data) < 8:
        return None
    if data[:2] == b"BM":
        return decode_bmp_pixels(data)
    if data[:8] == b"\x89PNG\r\n\x1a\n":
        return decode_png_pixels(data)
    if data[:6] in (b"GIF87a", b"GIF89a"):
        return decode_gif_pixels(data)
    if data[:2] == b"\xff\xd8":
        from .jpeg import decode_jpeg_pixels

        return decode_jpeg_pixels(data)
    if data[:4] == b"\x00\x00\x01\x00":
        return decode_ico_pixels(data)
    if data[:1] == b"P" and data[1:2] in (b"4", b"5", b"6"):
        return decode_pnm_pixels(data)
    if data[:4] in (b"II*\x00", b"MM\x00*"):
        return decode_tiff_pixels(data)
    if data[:4] == b"RIFF" and data[8:12] == b"WEBP":
        from .vp8l import decode_vp8l_pixels

        return decode_vp8l_pixels(data)
    return None


# ---------------------------------------------------------------------------
# REAL GIF decode (pure-python LZW) — 8-bit global palette, no interlace
# ---------------------------------------------------------------------------


def encode_gif_gray(
    px2d: np.ndarray,
    interlace: bool = False,
    local_palette: bool = False,
) -> bytes:
    """Encode an (h, w) uint8 grayscale array as a GIF89a with a 256-gray
    palette — GLOBAL by default, or a LOCAL color table on the image
    descriptor (``local_palette``; the screen descriptor then carries no
    GCT). ``interlace`` writes rows in the 4-pass GIF order. The LZW
    stream uses literal 9-bit codes with a CLEAR every 250 symbols
    (valid per spec; the decoder must still run full LZW bookkeeping to
    read it)."""
    h, w = px2d.shape
    palette = bytes(v for i in range(256) for v in (i, i, i))
    if local_palette:
        hdr = b"GIF89a" + struct.pack("<HHBBB", w, h, 0x77, 0, 0)
        ipacked = (0x40 if interlace else 0) | 0x87
        img_desc = (
            b"\x2c" + struct.pack("<HHHHB", 0, 0, w, h, ipacked) + palette
        )
    else:
        hdr = b"GIF89a" + struct.pack("<HHBBB", w, h, 0xF7, 0, 0) + palette
        ipacked = 0x40 if interlace else 0
        img_desc = b"\x2c" + struct.pack("<HHHHB", 0, 0, w, h, ipacked)
    if interlace:
        import numpy as _np

        order = _np.concatenate(
            [
                _np.arange(0, h, 8),
                _np.arange(4, h, 8),
                _np.arange(2, h, 4),
                _np.arange(1, h, 2),
            ]
        )
        px2d = px2d[order]
    # LZW: min code size 8 → codes are 9-bit until the table grows
    out_bits: list[int] = []

    def emit(code: int, nbits: int) -> None:
        for k in range(nbits):
            out_bits.append((code >> k) & 1)

    CLEAR, _EOI = 256, 257
    emit(CLEAR, 9)
    for idx, v in enumerate(px2d.flatten()):
        if idx and idx % 250 == 0:
            emit(CLEAR, 9)
        emit(int(v), 9)
    emit(_EOI, 9)
    data = bytearray()
    for i in range(0, len(out_bits), 8):
        byte = 0
        for k, bit in enumerate(out_bits[i : i + 8]):
            byte |= bit << k
        data.append(byte)
    blocks = b"".join(
        bytes([min(255, len(data) - i)]) + bytes(data[i : i + 255])
        for i in range(0, len(data), 255)
    )
    return hdr + img_desc + b"\x08" + blocks + b"\x00" + b"\x3b"


def decode_gif_pixels(data: bytes | None) -> np.ndarray | None:
    """Decode the first image of a GIF to (h, w, 3) uint8 RGB — full
    LZW (variable code width, CLEAR/EOI, table growth), pure python.
    Global AND local color tables, and the 4-pass GIF interlace row
    order, are all handled; transparency extensions are skipped (no
    alpha in the RGB contract). No palette at all → None
    (keep-with-fallback)."""
    try:
        if not data or len(data) < 13 or data[:6] not in (
            b"GIF87a",
            b"GIF89a",
        ):
            return None
        w, h, packed = struct.unpack_from("<HHB", data, 6)
        pos = 13
        palette = None
        if packed & 0x80:
            gct_size = 2 << (packed & 0x07)
            palette = np.frombuffer(
                data, dtype=np.uint8, count=gct_size * 3, offset=pos
            ).reshape(gct_size, 3)
            pos += gct_size * 3
        # skip extensions until the image descriptor
        while pos < len(data) and data[pos] == 0x21:
            pos += 2
            while data[pos]:
                pos += 1 + data[pos]
            pos += 1
        if pos >= len(data) or data[pos] != 0x2C:
            return None
        _x, _y, iw, ih, ipacked = struct.unpack_from("<HHHHB", data, pos + 1)
        interlaced = bool(ipacked & 0x40)
        pos += 10
        if ipacked & 0x80:  # local color table overrides the global one
            lct_size = 2 << (ipacked & 0x07)
            palette = np.frombuffer(
                data, dtype=np.uint8, count=lct_size * 3, offset=pos
            ).reshape(lct_size, 3)
            pos += lct_size * 3
        if palette is None:
            return None
        gct_size = palette.shape[0]
        min_code = data[pos]
        pos += 1
        stream = bytearray()
        while pos < len(data) and data[pos]:
            n = data[pos]
            stream += data[pos + 1 : pos + 1 + n]
            pos += 1 + n
        CLEAR, EOI = 1 << min_code, (1 << min_code) + 1
        table: list[bytes] = []

        def reset() -> int:
            table.clear()
            table.extend(bytes([i]) for i in range(1 << min_code))
            table.append(b"")  # CLEAR
            table.append(b"")  # EOI
            return min_code + 1

        width = reset()
        acc = 0
        nbits = 0
        prev: bytes | None = None
        out = bytearray()
        done = False  # EOI ends the whole stream, not just the inner loop:
        # trailing padding bytes after EOI must not re-enter the decoder
        # (they would hit the invalid-code branch and reject the image).
        for byte in stream:
            if done:
                break
            acc |= byte << nbits
            nbits += 8
            while nbits >= width:
                code = acc & ((1 << width) - 1)
                acc >>= width
                nbits -= width
                if code == CLEAR:
                    width = reset()
                    prev = None
                    continue
                if code == EOI:
                    nbits = 0
                    acc = 0
                    done = True
                    break
                if code < len(table):
                    entry = table[code]
                elif code == len(table) and prev is not None:
                    entry = prev + prev[:1]
                else:
                    return None
                out += entry
                if prev is not None:
                    table.append(prev + entry[:1])
                    if len(table) == (1 << width) and width < 12:
                        width += 1
                prev = entry
        if len(out) < iw * ih:
            return None
        idx = np.frombuffer(bytes(out[: iw * ih]), dtype=np.uint8)
        if int(idx.max(initial=0)) >= gct_size:
            return None
        rows = palette[idx].reshape(ih, iw, 3)
        if interlaced:
            # 4-pass row order: 0,8,16… then 4,12… then 2,6,10… then odd
            order = np.concatenate(
                [
                    np.arange(0, ih, 8),
                    np.arange(4, ih, 8),
                    np.arange(2, ih, 4),
                    np.arange(1, ih, 2),
                ]
            )
            px = np.empty_like(rows)
            px[order] = rows
            return px
        return rows
    except Exception:
        return None


def synth_gray_gif(doc_id: int) -> bytes:
    """Deterministic grayscale GIF fixture: dims from the id, pixel
    (x, y) = first md5 byte of ``gf:{id}:{x}:{y}``."""
    w0 = 10 + doc_id % 7
    h0 = 10 + doc_id % 5
    px = np.empty((h0, w0), dtype=np.uint8)
    for y in range(h0):
        for x in range(w0):
            px[y, x] = int(
                hashlib.md5(f"gf:{doc_id}:{x}:{y}".encode()).hexdigest()[:2],
                16,
            )
    return encode_gif_gray(px)


def synth_pal_png(doc_id: int) -> bytes:
    """Deterministic Adam7-INTERLACED palette PNG fixture: dims
    (9 + id%12, 7 + id%10) — odd sizes leave some passes empty —
    64-entry palette with entry j = first three md5 byte-pairs of
    ``pc:{id}:{j}``, pixel index (x, y) = (first md5 byte of
    ``pi:{id}:{x}:{y}``) % 64. One fixture covers palette mapping,
    the 7-pass scatter, and the per-pass filter cycle; every channel
    value is oracle-recomputable."""
    w0 = 9 + doc_id % 12
    h0 = 7 + doc_id % 10
    pal = np.empty((64, 3), dtype=np.uint8)
    for j in range(64):
        hx = hashlib.md5(f"pc:{doc_id}:{j}".encode()).hexdigest()
        pal[j] = [int(hx[0:2], 16), int(hx[2:4], 16), int(hx[4:6], 16)]
    idx = np.empty((h0, w0), dtype=np.uint8)
    for y in range(h0):
        for x in range(w0):
            idx[y, x] = (
                int(
                    hashlib.md5(
                        f"pi:{doc_id}:{x}:{y}".encode()
                    ).hexdigest()[:2],
                    16,
                )
                % 64
            )
    return encode_png_palette(idx, pal, interlace=True)


def synth_media_or_null(doc_id: int) -> bytes | None:
    """A media fixture cycling the decoder families by ``doc_id % 5``
    (1=PNG, 2=GIF, 3=baseline JPEG, 4=progressive JPEG) with NULL bytes
    for ``doc_id % 5 == 0`` (``with_fixture`` gives NULL ids NULL bytes
    too) — the dirty-corpus shape where a fetch failed or a row lost its
    key. Exists for q_media_null_content, the one fixture query that
    stays eligible for the ``--nulls`` sweep: every decoder must map NULL
    content to NULL outputs instead of crashing the batch."""
    from .jpeg import synth_gray_jpeg, synth_gray_jpeg_progressive

    fam = doc_id % 5
    if fam == 0:
        return None
    return (synth_gray_png, synth_gray_gif, synth_gray_jpeg,
            synth_gray_jpeg_progressive)[fam - 1](doc_id)


def synth_gray_gif_interlaced(doc_id: int) -> bytes:
    """Deterministic grayscale GIF fixture in the 4-pass INTERLACED row
    order with a LOCAL color table (no GCT on the screen descriptor):
    dims from the id, pixel (x, y) = first md5 byte of
    ``gi:{id}:{x}:{y}``."""
    w0 = 8 + doc_id % 9
    h0 = 9 + doc_id % 11
    px = np.empty((h0, w0), dtype=np.uint8)
    for y in range(h0):
        for x in range(w0):
            px[y, x] = int(
                hashlib.md5(f"gi:{doc_id}:{x}:{y}".encode()).hexdigest()[:2],
                16,
            )
    return encode_gif_gray(px, interlace=True, local_palette=True)


# ---------------------------------------------------------------------------
# REAL video frame extraction for uncompressed raw-RGB AVI (no codec)
# ---------------------------------------------------------------------------


def encode_avi_raw(frames: list[np.ndarray], fps: int = 10) -> bytes:
    """Encode (h, w, 3) uint8 RGB frames as a minimal uncompressed AVI
    ('DIB ' video stream; each '00db' chunk is a bottom-up padded BGR
    bitmap, exactly the BMP pixel layout). RIFF throughout — the same
    chunk grammar the WAV decoder walks, so no codec is needed on
    either side."""
    h, w, _ = frames[0].shape
    row_size = (w * 3 + 3) & ~3
    frame_size = row_size * h

    def chunk(fourcc: bytes, body: bytes) -> bytes:
        pad = b"\x00" if len(body) & 1 else b""
        return fourcc + struct.pack("<I", len(body)) + body + pad

    def lst(fourcc: bytes, body: bytes) -> bytes:
        return chunk(b"LIST", fourcc + body)

    avih = struct.pack(
        "<IIIIIIIIIIIIII",
        1_000_000 // fps, frame_size * fps, 0, 0x10, len(frames),
        0, 1, frame_size, w, h, 0, 0, 0, 0,
    )
    strh = (
        b"vidsDIB "
        + struct.pack(
            "<IHHIIIIIIII", 0, 0, 0, 0, 1, fps, 0, len(frames),
            frame_size, 0, 0,
        )
        + struct.pack("<hhhh", 0, 0, w, h)
    )
    strf = struct.pack(
        "<IiiHHIIiiII", 40, w, h, 1, 24, 0, frame_size, 2835, 2835, 0, 0
    )
    hdrl = lst(
        b"hdrl", chunk(b"avih", avih) + lst(
            b"strl", chunk(b"strh", strh) + chunk(b"strf", strf)
        )
    )
    movi_body = b"".join(
        chunk(
            b"00db",
            _rgb_to_dib_rows(f, row_size),
        )
        for f in frames
    )
    movi = lst(b"movi", movi_body)
    riff_body = b"AVI " + hdrl + movi
    return b"RIFF" + struct.pack("<I", len(riff_body)) + riff_body


def _rgb_to_dib_rows(px: np.ndarray, row_size: int) -> bytes:
    h, w, _ = px.shape
    bgr = px[::-1, :, ::-1]
    rows = np.zeros((h, row_size), dtype=np.uint8)
    rows[:, : w * 3] = bgr.reshape(h, w * 3)
    return rows.tobytes()


def _dib_rows_to_rgb(buf: bytes, w: int, h: int) -> np.ndarray | None:
    row_size = (w * 3 + 3) & ~3
    if len(buf) < row_size * h:
        return None
    arr = np.frombuffer(buf, dtype=np.uint8, count=row_size * h).reshape(
        h, row_size
    )
    return arr[:, : w * 3].reshape(h, w, 3)[:, :, ::-1][::-1]


def _decode_rle8_into(buf: bytes, fb: np.ndarray) -> bool:
    """Apply one MS-RLE8 encoded frame (BI_RLE8, the Windows 'MRLE' AVI
    codec — public spec, Windows Metafile/BMP documentation) to the
    persistent bottom-up framebuffer ``fb``. Pixels the opcodes skip
    (end-of-line, delta moves, early end-of-bitmap) KEEP the previous
    frame's values — this is a true inter-frame codec. Returns False on
    a malformed stream (fb may be partially written; caller discards).

    Opcodes: (n>0, c) = run of n pixels of index c; (0,0) = end of
    line; (0,1) = end of bitmap; (0,2) then (dx,dy) = move right dx /
    up dy keeping old pixels; (0,n>=3) = n literal pixels, word-padded.
    """
    h, w = fb.shape
    x = y = 0
    i = 0
    while i + 2 <= len(buf):
        n, c = buf[i], buf[i + 1]
        i += 2
        if n > 0:
            if y >= h or x + n > w:
                return False
            fb[y, x : x + n] = c
            x += n
        elif c == 0:  # EOL
            x = 0
            y += 1
            if y > h:
                return False
        elif c == 1:  # EOB
            return True
        elif c == 2:  # delta
            if i + 2 > len(buf):
                return False
            x += buf[i]
            y += buf[i + 1]
            i += 2
            if x > w or y > h:
                return False
        else:  # absolute mode: c literal pixels
            if y >= h or x + c > w or i + c > len(buf):
                return False
            fb[y, x : x + c] = np.frombuffer(buf, np.uint8, c, i)
            x += c
            i += c + (c & 1)
    return True  # tolerate a missing EOB at buffer end


def decode_avi_frames(data: bytes | None) -> list[np.ndarray] | None:
    """Decode every frame of a codec-free AVI: raw-RGB '00db' chunks
    (as written by encode_avi_raw / ffmpeg -vcodec rawvideo, 24-bit DIB
    stream), MJPEG '00dc' chunks (each one a baseline JPEG, decoded
    via functions.jpeg — the convention ffmpeg -vcodec mjpeg writes),
    AND MS-RLE8 '00dc' streams (BI_RLE8 — a real INTER-FRAME codec:
    delta frames only encode changed runs, skipped pixels persist from
    the previous frame's framebuffer, ffmpeg -vcodec msrle). Walks
    RIFF: strf gives (w, h) + compression (and the palette for RLE8);
    MJPEG frames carry their own dimensions. Anything unparseable →
    None (keep-with-fallback, as the WAV and BMP decoders)."""
    try:
        if not data or len(data) < 12 or data[:4] != b"RIFF":
            return None
        if data[8:12] != b"AVI ":
            return None
        w = h = 0
        rle_fb: np.ndarray | None = None
        rle_pal: np.ndarray | None = None
        msvc_fb: np.ndarray | None = None
        msvc_pal: np.ndarray | None = None
        frames: list[np.ndarray] = []
        _cram = struct.unpack("<I", b"CRAM")[0]
        _msvc = struct.unpack("<I", b"MSVC")[0]

        def walk(lo: int, hi: int) -> None:
            nonlocal w, h, rle_fb, rle_pal, msvc_fb, msvc_pal
            pos = lo
            while pos + 8 <= hi:
                cid = data[pos : pos + 4]
                (size,) = struct.unpack_from("<I", data, pos + 4)
                body = pos + 8
                end = min(body + size, hi)
                if cid == b"LIST":
                    walk(body + 4, end)
                elif cid == b"strf" and size >= 40:
                    _sz, bw, bh = struct.unpack_from("<Iii", data, body)
                    (bpp,) = struct.unpack_from("<H", data, body + 14)
                    (comp,) = struct.unpack_from("<I", data, body + 16)
                    if bpp == 24 and comp == 0:
                        w, h = bw, abs(bh)
                    elif bpp == 8 and comp == 1:  # BI_RLE8
                        w, h = bw, abs(bh)
                        (clr_used,) = struct.unpack_from(
                            "<I", data, body + 32
                        )
                        n_pal = clr_used or 256
                        raw = np.frombuffer(
                            data, np.uint8, n_pal * 4, body + 40
                        ).reshape(n_pal, 4)
                        pal = np.zeros((256, 3), dtype=np.uint8)
                        pal[:n_pal] = raw[:, [2, 1, 0]]  # BGRx -> RGB
                        rle_pal = pal
                        rle_fb = np.zeros((h, w), dtype=np.uint8)
                    elif (
                        bpp == 8
                        and comp in (_cram, _msvc)
                        and bw % 4 == 0
                        and abs(bh) % 4 == 0
                    ):  # MS Video 1
                        w, h = bw, abs(bh)
                        (clr_used,) = struct.unpack_from(
                            "<I", data, body + 32
                        )
                        n_pal = clr_used or 256
                        raw = np.frombuffer(
                            data, np.uint8, n_pal * 4, body + 40
                        ).reshape(n_pal, 4)
                        pal = np.zeros((256, 3), dtype=np.uint8)
                        pal[:n_pal] = raw[:, [2, 1, 0]]
                        msvc_pal = pal
                        msvc_fb = np.zeros((h, w), dtype=np.uint8)
                elif cid == b"00db" and w > 0 and h > 0:
                    f = _dib_rows_to_rgb(data[body:end], w, h)
                    if f is not None:
                        frames.append(f)
                elif cid == b"00dc" and data[body : body + 2] == b"\xff\xd8":
                    from .jpeg import decode_jpeg_pixels

                    f = decode_jpeg_pixels(data[body:end])
                    if f is not None:
                        frames.append(f)
                elif cid == b"00dc" and rle_fb is not None:
                    if _decode_rle8_into(data[body:end], rle_fb):
                        # bottom-up fb -> top-down RGB via the palette
                        frames.append(rle_pal[rle_fb][::-1])
                elif cid == b"00dc" and msvc_fb is not None:
                    if _decode_msvc_into(data[body:end], msvc_fb):
                        frames.append(msvc_pal[msvc_fb][::-1])
                pos = body + size + (size & 1)

        walk(12, len(data))
        return frames if frames else None
    except Exception:
        return None


AVI_FRAME_TYPE = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("frame_idx", T.LongType()),
        T.StructField("frame_w", T.LongType()),
        T.StructField("frame_h", T.LongType()),
        T.StructField("mean_px", T.DoubleType()),
    ]
)


def sample_avi_frames(
    df: DataFrame,
    every_n: int = 2,
    id_col: str = "doc_id",
    content_col: str = "content",
) -> DataFrame:
    """REAL frame extraction: decode a raw-RGB AVI, keep every
    ``every_n``-th frame, emit (id, frame_idx, dims, exact pixel mean).
    One-to-many mapInPandas — the identical Spark-side shape a
    compressed-codec decoder would plug into. Undecodable rows emit
    nothing (skip-with-fallback)."""

    def go(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, idxs, ws, hs, means = [], [], [], [], []
            for i, b in zip(pdf[id_col], pdf[content_col]):
                frames = decode_avi_frames(b)
                if frames is None:
                    continue
                for fi in range(0, len(frames), every_n):
                    f = frames[fi]
                    ids.append(int(i))
                    idxs.append(fi)
                    hs.append(f.shape[0])
                    ws.append(f.shape[1])
                    means.append(
                        int(f.astype(np.int64).sum()) / f.size
                    )
            yield pd.DataFrame(
                {
                    "doc_id": pd.Series(ids, dtype="int64"),
                    "frame_idx": pd.Series(idxs, dtype="int64"),
                    "frame_w": pd.Series(ws, dtype="int64"),
                    "frame_h": pd.Series(hs, dtype="int64"),
                    "mean_px": pd.Series(means, dtype="float64"),
                }
            )

    return df.mapInPandas(go, AVI_FRAME_TYPE)


def synth_avi(doc_id: int) -> bytes:
    """Deterministic raw-RGB AVI fixture: (4 + id%3) grayscale frames,
    dims (8 + id%5, 8 + id%3), pixel (f, x, y) = first md5 byte of
    ``fr:{id}:{f}:{x}:{y}`` — oracle-recomputable per coordinate."""
    w = 8 + doc_id % 5
    h = 8 + doc_id % 3
    n = 4 + doc_id % 3
    frames = []
    for f in range(n):
        px = np.empty((h, w, 3), dtype=np.uint8)
        for y in range(h):
            for x in range(w):
                v = int(
                    hashlib.md5(
                        f"fr:{doc_id}:{f}:{x}:{y}".encode()
                    ).hexdigest()[:2],
                    16,
                )
                px[y, x, :] = v
        frames.append(px)
    return encode_avi_raw(frames)


def encode_avi_mjpg(jpeg_frames: list[bytes], w: int, h: int,
                    fps: int = 10) -> bytes:
    """Wrap already-encoded baseline JPEGs as an MJPEG AVI ('MJPG'
    codec; each '00dc' chunk is one complete JPEG — the layout ffmpeg
    -vcodec mjpeg produces). Same RIFF grammar as encode_avi_raw."""
    def chunk(fourcc: bytes, body: bytes) -> bytes:
        pad = b"\x00" if len(body) & 1 else b""
        return fourcc + struct.pack("<I", len(body)) + body + pad

    def lst(fourcc: bytes, body: bytes) -> bytes:
        return chunk(b"LIST", fourcc + body)

    max_size = max(len(f) for f in jpeg_frames)
    avih = struct.pack(
        "<IIIIIIIIIIIIII",
        1_000_000 // fps, max_size * fps, 0, 0x10, len(jpeg_frames),
        0, 1, max_size, w, h, 0, 0, 0, 0,
    )
    strh = (
        b"vidsMJPG"
        + struct.pack(
            "<IHHIIIIIIII", 0, 0, 0, 0, 1, fps, 0, len(jpeg_frames),
            max_size, 0, 0,
        )
        + struct.pack("<hhhh", 0, 0, w, h)
    )
    strf = struct.pack(
        "<IiiHH4sIiiII", 40, w, h, 1, 24, b"MJPG", max_size * 3,
        2835, 2835, 0, 0,
    )
    hdrl = lst(
        b"hdrl", chunk(b"avih", avih) + lst(
            b"strl", chunk(b"strh", strh) + chunk(b"strf", strf)
        )
    )
    movi = lst(b"movi", b"".join(chunk(b"00dc", f) for f in jpeg_frames))
    riff_body = b"AVI " + hdrl + movi
    return b"RIFF" + struct.pack("<I", len(riff_body)) + riff_body


def synth_mjpg_avi(doc_id: int) -> bytes:
    """Deterministic MJPEG AVI fixture: (3 + id%3) DC-exact grayscale
    JPEG frames, dims (11 + id%6, 9 + id%6); frame f's 8x8 block
    (bx, by) has pixel value = first md5 byte of ``mj:{id}:{f}:{bx}:{by}``
    — fully oracle-recomputable (see functions.jpeg.synth_gray_jpeg for
    why DC-only blocks decode float-exactly)."""
    from .jpeg import encode_jpeg_gray

    w = 11 + doc_id % 6
    h = 9 + doc_id % 6
    n = 3 + doc_id % 3
    bx = -(-w // 8)
    by = -(-h // 8)
    frames = []
    for f in range(n):
        blocks = np.zeros((by, bx, 64), dtype=np.int64)
        for yb in range(by):
            for xb in range(bx):
                v = int(
                    hashlib.md5(
                        f"mj:{doc_id}:{f}:{xb}:{yb}".encode()
                    ).hexdigest()[:2],
                    16,
                )
                blocks[yb, xb, 0] = v - 128
        frames.append(encode_jpeg_gray(blocks, w, h))
    return encode_avi_mjpg(frames, w, h)


def _rle8_row(row: bytes, absolute: bool) -> bytes:
    """Encode one row's pixel indices: absolute-mode literal blocks or
    (run, color) pairs — both spec-legal; the fixture alternates by row
    parity so the decoder must handle each."""
    out = bytearray()
    w = len(row)
    x = 0
    if absolute and w >= 3:
        while x < w:
            n = min(255, w - x)
            if n >= 3:
                out += bytes([0, n]) + row[x : x + n]
                if n & 1:
                    out += b"\x00"  # word-align per spec
            else:
                for j in range(n):
                    out += bytes([1, row[x + j]])
            x += n
    else:
        while x < w:
            c = row[x]
            n = 1
            while x + n < w and n < 255 and row[x + n] == c:
                n += 1
            out += bytes([n, c])
            x += n
    return bytes(out)


def encode_avi_mrle(frames: list[np.ndarray], w: int, h: int,
                    fps: int = 10) -> bytes:
    """MS-RLE8 ('MRLE' / BI_RLE8) AVI from (h, w) uint8 palette-index
    frames (top-down), with a 256-gray identity palette and REAL
    inter-frame delta encoding: frame k>0 only encodes rows that differ
    from frame k-1 — unchanged row runs become (0,2) delta jumps (or a lone
    EOL), trailing unchanged rows fall to an early end-of-bitmap, so
    the decoder must carry its framebuffer across frames to reconstruct
    the video. Same RIFF grammar as encode_avi_raw/encode_avi_mjpg."""
    def chunk(fourcc: bytes, body: bytes) -> bytes:
        pad = b"\x00" if len(body) & 1 else b""
        return fourcc + struct.pack("<I", len(body)) + body + pad

    def lst(fourcc: bytes, body: bytes) -> bytes:
        return chunk(b"LIST", fourcc + body)

    payloads: list[bytes] = []
    prev: np.ndarray | None = None
    for fr in frames:
        bu = fr[::-1]  # encode bottom-up, the BMP/RLE row order
        prev_bu = prev[::-1] if prev is not None else None
        ops = bytearray()
        skip = 0
        for y in range(h):
            if prev_bu is not None and np.array_equal(bu[y], prev_bu[y]):
                skip += 1
                continue
            if skip == 1:
                ops += b"\x00\x00"  # EOL skips one row, keeps pixels
            else:
                while skip > 0:
                    d = min(skip, 255)
                    ops += bytes([0, 2, 0, d])  # delta: dy rows down
                    skip -= d
            skip = 0
            ops += _rle8_row(bu[y].tobytes(), absolute=(y % 2 == 0))
            ops += b"\x00\x00"  # EOL
        ops += b"\x00\x01"  # EOB — trailing skipped rows persist
        payloads.append(bytes(ops))
        prev = fr
    max_size = max(len(p) for p in payloads)
    pal = b"".join(bytes([i, i, i, 0]) for i in range(256))  # BGRx grays
    avih = struct.pack(
        "<IIIIIIIIIIIIII",
        1_000_000 // fps, max_size * fps, 0, 0x10, len(payloads),
        0, 1, max_size, w, h, 0, 0, 0, 0,
    )
    strh = (
        b"vidsMRLE"
        + struct.pack(
            "<IHHIIIIIIII", 0, 0, 0, 0, 1, fps, 0, len(payloads),
            max_size, 0, 0,
        )
        + struct.pack("<hhhh", 0, 0, w, h)
    )
    strf = (
        struct.pack(
            "<IiiHHIIiiII", 40, w, h, 1, 8, 1, max_size, 2835, 2835,
            256, 0,
        )
        + pal
    )
    hdrl = lst(
        b"hdrl", chunk(b"avih", avih) + lst(
            b"strl", chunk(b"strh", strh) + chunk(b"strf", strf)
        )
    )
    movi = lst(b"movi", b"".join(chunk(b"00dc", p) for p in payloads))
    riff_body = b"AVI " + hdrl + movi
    return b"RIFF" + struct.pack("<I", len(riff_body)) + riff_body


def synth_mrle_avi(doc_id: int) -> bytes:
    """Deterministic MS-RLE8 AVI fixture exercising the INTER-FRAME
    path: dims (8 + id%9, 6 + id%7), (3 + id%3) frames. Row y is
    (re)painted at frame f iff f == 0 or (y + f) % 3 == 0, with pixel
    (x, y) = first md5 byte of ``mr:{id}:{f}:{x}:{y}``; other rows
    persist from the previous frame. So the decoded pixel at frame f is
    md5('mr:{id}:{g}:{x}:{y}') with g = f - ((f + y) % 3) when that is
    >= 1 else 0 — the closed form the DuckDB oracle replays."""
    w = 8 + doc_id % 9
    h = 6 + doc_id % 7
    n = 3 + doc_id % 3
    fr = np.zeros((h, w), dtype=np.uint8)
    frames = []
    for f in range(n):
        for y in range(h):
            if f == 0 or (y + f) % 3 == 0:
                for x in range(w):
                    fr[y, x] = int(
                        hashlib.md5(
                            f"mr:{doc_id}:{f}:{x}:{y}".encode()
                        ).hexdigest()[:2],
                        16,
                    )
        frames.append(fr.copy())
    return encode_avi_mrle(frames, w, h)


def sample_fake_frames(
    df: DataFrame,
    id_col: str = "doc_id",
    content_col: str = "content",
    frame_bytes: int = 64,
    every_n: int = 2,
) -> DataFrame:
    """FAKE-CODEC frame sampler — the ffmpeg-free twin of
    ``sample_video_frames`` that keeps every piece of the distributed
    plumbing real: a "video" is its byte stream, frame *i* is the
    ``frame_bytes`` window at offset ``i*frame_bytes``, and every
    ``every_n``-th frame is emitted as its own output row.

    This is the one-to-many shape a real decoder needs — mapInPandas
    re-batching a variable number of output rows per input row, binary
    frame payloads, and per-frame digests — with a byte-window "decode"
    standing in for ffmpeg (clearly marked fake; deterministic, so the
    result is oracle-checkable). Batches stream through Arrow; a long
    video never materializes more than one pandas batch of frames."""
    out_schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("frame_idx", T.LongType()),
            T.StructField("frame", T.BinaryType()),
            T.StructField("frame_len", T.LongType()),
            T.StructField("frame_md5", T.StringType()),
        ]
    )

    def sample(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, idxs, frames, lens, digests = [], [], [], [], []
            for rid, data in zip(pdf[id_col], pdf[content_col]):
                b = bytes(data) if data is not None else b""
                n_frames = (len(b) + frame_bytes - 1) // frame_bytes
                for i in range(0, n_frames, every_n):
                    frame = b[i * frame_bytes : (i + 1) * frame_bytes]
                    ids.append(rid)
                    idxs.append(i)
                    frames.append(frame)
                    lens.append(len(frame))
                    digests.append(hashlib.md5(frame).hexdigest())
            yield pd.DataFrame(
                {
                    "doc_id": pd.Series(ids, dtype="int64"),
                    "frame_idx": pd.Series(idxs, dtype="int64"),
                    "frame": pd.Series(frames, dtype="object"),
                    "frame_len": pd.Series(lens, dtype="int64"),
                    "frame_md5": pd.Series(digests, dtype="object"),
                }
            )

    return df.select(id_col, content_col).mapInPandas(sample, out_schema)


# ---------------------------------------------------------------------------
# Size-budgeted partitioning for media frames
# ---------------------------------------------------------------------------


def partition_by_size_budget(
    df: DataFrame,
    target_bytes_per_partition: int = 128 * 1024 * 1024,
    length_col: str = "length",
) -> DataFrame:
    """Repartition media rows so each task holds ≈ target bytes.

    Row-count partitioning skews badly when file sizes vary 1000×; this
    computes the partition count from the actual byte total (one cheap agg
    over a pruned column) and hash-distributes rows.
    """
    total = df.agg(F.sum(length_col).alias("s")).first()["s"] or 0
    n = max(1, int(total // target_bytes_per_partition) + 1)
    return df.repartition(n)


# ---------------------------------------------------------------------------
# Perceptual image hashing (dHash) + near-duplicate image fixtures
# ---------------------------------------------------------------------------

# Near-dup fixture family: documents in the same GROUP (doc_id %
# PHASH_GROUPS) share one md5-derived base image; each doc perturbs a
# single pixel. Same-group images therefore hash within a few bits of
# each other (exact dups + near dups), while cross-group images are
# effectively random — the distribution an image-dedup pass actually
# faces. All formulas are integer/md5 so a DuckDB oracle can recompute
# every sampled pixel (the q_image_resize discipline,
# /root/reference/src/main.rs keeps media opaque bytes + typed metadata,
# which is the layout these columns mirror).
PHASH_GROUPS = 37
PHASH_SHIFT = 96
DHASH_W = 9  # dHash samples a 9x8 luma grid -> 64 horizontal-gradient bits
DHASH_H = 8


def synth_group_bmp(doc_id: int) -> bytes:
    """Deterministic near-dup BMP fixture: dims + base pixels from the
    GROUP id (doc_id % PHASH_GROUPS), plus one doc-specific perturbed
    pixel ((base + PHASH_SHIFT) % 256 at index (doc_id // groups) %
    (w0*h0)) — so same-group images are near-identical and the oracle
    can replay both the base formula and the perturbation."""
    g = doc_id % PHASH_GROUPS
    w0 = 12 + g % 5
    h0 = 12 + g % 3
    p = (doc_id // PHASH_GROUPS) % (w0 * h0)
    pcol, prow = p % w0, p // w0
    px = np.empty((h0, w0, 3), dtype=np.uint8)
    for y in range(h0):
        for x in range(w0):
            v = int(
                hashlib.md5(f"ph:{g}:{x}:{y}".encode()).hexdigest()[:2],
                16,
            )
            if x == pcol and y == prow:
                v = (v + PHASH_SHIFT) % 256
            px[y, x, :] = v
    return encode_bmp(px)


def dhash64(px: np.ndarray) -> tuple[int, int]:
    """64-bit difference hash (dHash, public algorithm: Krawetz,
    "Kind of Like That", hackerfactor 2013): nearest-neighbor resample
    the integer luma (r+g+b)//3 to a 9x8 grid, then bit (j*8+i) = 1 iff
    grid[j,i] > grid[j,i+1]. Returned as two NON-NEGATIVE 32-bit halves
    (hi = bits 0..31, lo = bits 32..63) so both Spark and DuckDB can do
    sign-free xor/bit_count arithmetic on BIGINTs."""
    small = resize_nn(px, DHASH_W, DHASH_H)
    luma = (
        small[:, :, 0].astype(np.int64)
        + small[:, :, 1].astype(np.int64)
        + small[:, :, 2].astype(np.int64)
    ) // 3
    bits = (luma[:, :-1] > luma[:, 1:]).astype(np.int64).reshape(-1)
    weights = 1 << (np.arange(64, dtype=np.int64) % 32)
    hi = int((bits[:32] * weights[:32]).sum())
    lo = int((bits[32:] * weights[32:]).sum())
    return hi, lo


def with_dhash(
    df: DataFrame, content_col: str = "content"
) -> DataFrame:
    """Attach dhash_hi / dhash_lo (each a 32-bit half of the 64-bit
    dHash) computed by the REAL decode→resize→gradient path. Undecodable
    or NULL content yields NULL halves (keep-with-fallback, the WAV
    contract)."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("struct<dhash_hi: long, dhash_lo: long>")
    def _dh(content: pd.Series) -> pd.DataFrame:
        his: list[int | None] = []
        los: list[int | None] = []
        for data in content:
            px = decode_image_pixels(
                bytes(data) if data is not None else None
            )
            if px is None:
                his.append(None)
                los.append(None)
            else:
                hi, lo = dhash64(px)
                his.append(hi)
                los.append(lo)
        return pd.DataFrame({"dhash_hi": his, "dhash_lo": los})

    return df.withColumn("_dh", _dh(F.col(content_col))).select(
        "*", "_dh.dhash_hi", "_dh.dhash_lo"
    ).drop("_dh")


# ---------------------------------------------------------------------------
# MS Video 1 ('CRAM'/'MSVC') — 4x4 block inter-frame codec, 8-bit variant
# ---------------------------------------------------------------------------
# Public spec: Microsoft Video 1 (multimedia.cx wiki / MSDN CRAM docs).
# Stream = 16-bit LE words per 4x4 block, blocks traversed bottom-up row
# by row (the BMP heritage all the Windows AVI codecs share), pixels
# within a block bottom-up rows left-to-right, flag bit k (LSB first) =
# pixel k in that order:
#   b1 in 0x84..0x87            -> skip ((b1-0x84)<<8)+b0 blocks (KEEP
#                                  previous-frame pixels: inter-frame)
#   b1 <  0x80                  -> flags word; 2 colors follow; if
#                                  colors[0] bit7 set -> 8-color block
#                                  (2 colors per 2x2 quadrant, selector
#                                  ((py&2)<<1)+(px&2)+(flag^1)) else
#                                  2-color block (flag -> colors[0])
#   otherwise                   -> 1-color block, color = b0


def _decode_msvc_into(buf: bytes, fb: np.ndarray) -> bool:
    """Apply one MS Video 1 frame to the persistent bottom-up palette
    framebuffer ``fb``. Skipped blocks keep the previous frame's pixels;
    a truncated stream leaves the remaining blocks untouched (legal —
    trailing skips may be omitted). Returns False on malformed data."""
    h, w = fb.shape
    bw, bh = w // 4, h // 4
    total = bw * bh
    i = 0
    blk = 0
    skip = 0
    while blk < total:
        if skip:
            skip -= 1
            blk += 1
            continue
        if i + 2 > len(buf):
            return True  # remaining blocks persist
        b0, b1 = buf[i], buf[i + 1]
        i += 2
        by, bx = divmod(blk, bw)
        ys, xs = by * 4, bx * 4
        if (b1 & 0xFC) == 0x84:
            n = ((b1 - 0x84) << 8) + b0
            if n == 0:
                return False
            skip = n - 1
            blk += 1
            continue
        if b1 < 0x80:
            flags = (b1 << 8) | b0
            if i + 2 > len(buf):
                return False
            c0, c1 = buf[i], buf[i + 1]
            i += 2
            if c0 & 0x80:  # 8-color: 2 per 2x2 quadrant
                if i + 6 > len(buf):
                    return False
                cols = [c0, c1] + list(buf[i : i + 6])
                i += 6
                for py in range(4):
                    for px in range(4):
                        sel = ((py & 2) << 1) + (px & 2) + (
                            (flags & 1) ^ 1
                        )
                        fb[ys + py, xs + px] = cols[sel]
                        flags >>= 1
            else:  # 2-color
                for py in range(4):
                    for px in range(4):
                        fb[ys + py, xs + px] = c0 if flags & 1 else c1
                        flags >>= 1
        else:  # 1-color
            fb[ys : ys + 4, xs : xs + 4] = b0
        blk += 1
    return True


def _msvc_block(blk: np.ndarray) -> bytes:
    """Encode one 4x4 bottom-up block losslessly, picking the cheapest
    legal mode. Raises ValueError when no mode can represent the block
    exactly (MSVC is lossy in general; fixtures are built encodable)."""
    pix = [int(blk[k // 4, k % 4]) for k in range(16)]
    uniq = sorted(set(pix))
    if len(uniq) == 1:
        return bytes([uniq[0], 0x80])
    if len(uniq) == 2:
        # flag=1 color is colors[0]: needs bit7 clear (else read as
        # 8-color) and pixel 15 must be the flag=0 color (else the
        # flags high byte >= 0x80 and the word reads as 1-color/skip)
        for cf1, cf0 in ((uniq[0], uniq[1]), (uniq[1], uniq[0])):
            if cf1 < 0x80 and pix[15] == cf0:
                flags = sum(1 << k for k in range(16) if pix[k] == cf1)
                return bytes([flags & 0xFF, flags >> 8, cf1, cf0])
    # 8-color: quadrant bases 0/2/4/6 per ((py&2)<<1)+(px&2)
    cols = [0] * 8
    flags = 0
    for base, (py0, px0) in (
        (0, (0, 0)), (2, (0, 2)), (4, (2, 0)), (6, (2, 2)),
    ):
        ks = [
            (py0 + dy) * 4 + (px0 + dx)
            for dy in range(2)
            for dx in range(2)
        ]
        qc = sorted({pix[k] for k in ks})
        if len(qc) > 2:
            raise ValueError("quadrant has >2 colors")
        if base == 0:
            hi = [c for c in qc if c & 0x80]
            if not hi:
                raise ValueError("quadrant 0 needs a bit7 color")
            cf1 = hi[0]
            cf0 = (qc[0] if qc[0] != cf1 else qc[-1]) if len(qc) == 2 \
                else cf1
        elif base == 6:
            cf0 = pix[15]
            cf1 = (qc[0] if qc[0] != cf0 else qc[-1]) if len(qc) == 2 \
                else cf0
        else:
            cf1, cf0 = qc[-1], qc[0]
        cols[base], cols[base + 1] = cf1, cf0
        for k in ks:
            if pix[k] == cf1 and cf1 != cf0:
                flags |= 1 << k
    if not cols[0] & 0x80 or flags >> 8 >= 0x80:
        raise ValueError("unencodable 8-color block")
    return bytes([flags & 0xFF, flags >> 8] + cols)


def encode_avi_msvc(frames: list[np.ndarray], w: int, h: int,
                    fps: int = 10) -> bytes:
    """MS Video 1 ('CRAM') AVI from (h, w) uint8 palette-index frames
    (top-down, dims multiples of 4), 256-gray identity palette, REAL
    inter-frame encoding: blocks equal to the previous frame become
    skip runs the decoder must fill from its persistent framebuffer.
    Same RIFF grammar as encode_avi_raw/encode_avi_mrle."""
    def chunk(fourcc: bytes, body: bytes) -> bytes:
        pad = b"\x00" if len(body) & 1 else b""
        return fourcc + struct.pack("<I", len(body)) + body + pad

    def lst(fourcc: bytes, body: bytes) -> bytes:
        return chunk(b"LIST", fourcc + body)

    payloads: list[bytes] = []
    prev: np.ndarray | None = None
    for fr in frames:
        bu = fr[::-1]
        prev_bu = prev[::-1] if prev is not None else None
        ops = bytearray()
        skip = 0
        for by in range(h // 4):
            for bx in range(w // 4):
                blk = bu[by * 4 : by * 4 + 4, bx * 4 : bx * 4 + 4]
                if prev_bu is not None and np.array_equal(
                    blk, prev_bu[by * 4 : by * 4 + 4, bx * 4 : bx * 4 + 4]
                ):
                    skip += 1
                    continue
                while skip:
                    d = min(skip, 0x3FF)
                    ops += bytes([d & 0xFF, 0x84 + (d >> 8)])
                    skip -= d
                ops += _msvc_block(blk)
        while skip:  # trailing skips persist via the framebuffer
            d = min(skip, 0x3FF)
            ops += bytes([d & 0xFF, 0x84 + (d >> 8)])
            skip -= d
        payloads.append(bytes(ops))
        prev = fr
    max_size = max(len(p) for p in payloads)
    pal = b"".join(bytes([i, i, i, 0]) for i in range(256))
    avih = struct.pack(
        "<IIIIIIIIIIIIII",
        1_000_000 // fps, max_size * fps, 0, 0x10, len(payloads),
        0, 1, max_size, w, h, 0, 0, 0, 0,
    )
    strh = (
        b"vidsCRAM"
        + struct.pack(
            "<IHHIIIIIIII", 0, 0, 0, 0, 1, fps, 0, len(payloads),
            max_size, 0, 0,
        )
        + struct.pack("<hhhh", 0, 0, w, h)
    )
    strf = (
        struct.pack(
            "<IiiHHIIiiII", 40, w, h, 1, 8,
            struct.unpack("<I", b"CRAM")[0], max_size, 2835, 2835,
            256, 0,
        )
        + pal
    )
    hdrl = lst(
        b"hdrl", chunk(b"avih", avih) + lst(
            b"strl", chunk(b"strh", strh) + chunk(b"strf", strf)
        )
    )
    movi = lst(b"movi", b"".join(chunk(b"00dc", p) for p in payloads))
    riff_body = b"AVI " + hdrl + movi
    return b"RIFF" + struct.pack("<I", len(riff_body)) + riff_body


def synth_msvc_avi(doc_id: int) -> bytes:
    """Deterministic MS Video 1 AVI fixture exercising all four block
    opcodes: dims (4*(2+id%3), 4*(2+id%2)), (3+id%3) frames. Block
    (bx, by) is repainted at frame f iff f == 0 or (bx+by+f) % 3 == 0
    (else it persists -> skip runs); a painted block uses mode
    m = (bx + 2*by + f) % 3: 0 = 1-color md5 fill, 1 = 2-color global
    checkerboard (both colors %128, so the 2-color opcode is always
    legal), 2 = 8-color per-quadrant checkerboard (top-down quadrant 2
    = stream quadrant 0 gets its flag-1 color bit7-forced, the mode
    signal). Closed form for the oracle: paint generation
    g = f - ((bx+by+f) % 3) when >= 1 else 0."""
    w = 4 * (2 + doc_id % 3)
    h = 4 * (2 + doc_id % 2)
    n = 3 + doc_id % 3

    def hx(s: str) -> int:
        return int(hashlib.md5(s.encode()).hexdigest()[:2], 16)

    fr = np.zeros((h, w), dtype=np.uint8)
    frames = []
    for f in range(n):
        for by in range(h // 4):
            for bx in range(w // 4):
                if f != 0 and (bx + by + f) % 3 != 0:
                    continue
                base = f"mv:{doc_id}:{f}:{bx}:{by}"
                m = (bx + 2 * by + f) % 3
                for yy in range(4):
                    for xx in range(4):
                        y, x = by * 4 + yy, bx * 4 + xx
                        if m == 0:
                            v = hx(base + ":c")
                        elif m == 1:
                            c0 = hx(base + ":0") % 128
                            c1 = hx(base + ":1") % 128
                            v = c1 if (x + y + f) % 2 == 0 else c0
                        else:
                            q = 2 * (yy // 2) + xx // 2
                            a = hx(f"{base}:q{q}:1") % 128
                            b = hx(f"{base}:q{q}:0") % 128
                            if q == 2:
                                a += 128
                            v = a if x % 2 == y % 2 else b
                        fr[y, x] = v
        frames.append(fr.copy())
    return encode_avi_msvc(frames, w, h)


# ---------------------------------------------------------------------------
# Truevision TGA — type 2 (uncompressed) + type 10 (RLE) true-color
# ---------------------------------------------------------------------------


def decode_tga_pixels(data: bytes | None) -> np.ndarray | None:
    """Decode a 24-bit Truevision TGA (public spec: TGA 1.0/2.0 file
    format): image types 2 (uncompressed BGR) and 10 (RLE packets —
    bit7 of the packet header selects a run of (n&127)+1 copies of one
    pixel vs (n&127)+1 literal pixels), honoring the descriptor's
    origin bit (bit 5: 0 = bottom-up rows, 1 = top-down). Anything
    else -> None (keep-with-fallback)."""
    try:
        if not data or len(data) < 18:
            return None
        idlen, cmap_type, img_type = data[0], data[1], data[2]
        w, h = struct.unpack_from("<HH", data, 12)
        bpp, desc = data[16], data[17]
        if cmap_type != 0 or bpp != 24 or w <= 0 or h <= 0:
            return None
        pos = 18 + idlen
        npx = w * h
        if img_type == 2:
            need = npx * 3
            if len(data) < pos + need:
                return None
            arr = np.frombuffer(
                data, np.uint8, need, pos
            ).reshape(h, w, 3)
        elif img_type == 10:
            out = np.empty(npx * 3, dtype=np.uint8)
            filled = 0
            i = pos
            while filled < npx * 3:
                if i >= len(data):
                    return None
                hdr = data[i]
                i += 1
                cnt = (hdr & 0x7F) + 1
                if hdr & 0x80:  # run packet
                    if i + 3 > len(data):
                        return None
                    px = data[i : i + 3]
                    i += 3
                    chunk = np.frombuffer(px, np.uint8)
                    end = filled + cnt * 3
                    if end > npx * 3:
                        return None
                    out[filled:end] = np.tile(chunk, cnt)
                    filled = end
                else:  # literal packet
                    nbytes = cnt * 3
                    if i + nbytes > len(data):
                        return None
                    end = filled + nbytes
                    if end > npx * 3:
                        return None
                    out[filled:end] = np.frombuffer(
                        data, np.uint8, nbytes, i
                    )
                    i += nbytes
                    filled = end
            arr = out.reshape(h, w, 3)
        else:
            return None
        rgb = arr[:, :, ::-1]  # BGR -> RGB
        return np.ascontiguousarray(
            rgb if desc & 0x20 else rgb[::-1]
        )
    except Exception:
        return None


def encode_tga_rle(px: np.ndarray, top_down: bool = True) -> bytes:
    """Encode (h, w, 3) uint8 RGB as a type-10 RLE TGA (BGR pixel
    order, run packets for repeats >= 2, literal packets otherwise,
    max 128 per packet, packets never span rows — the spec's
    recommendation)."""
    h, w, _ = px.shape
    img = px if top_down else px[::-1]
    bgr = img[:, :, ::-1]
    out = bytearray(
        struct.pack(
            "<BBBHHBHHHHBB",
            0, 0, 10, 0, 0, 0, 0, 0, w, h, 24,
            0x20 if top_down else 0,
        )
    )
    for y in range(h):
        row = bgr[y]
        x = 0
        while x < w:
            run = 1
            while (
                x + run < w
                and run < 128
                and np.array_equal(row[x + run], row[x])
            ):
                run += 1
            if run >= 2:
                out += bytes([0x80 | (run - 1)]) + row[x].tobytes()
                x += run
            else:
                lit = 1
                while (
                    x + lit < w
                    and lit < 128
                    and not (
                        x + lit + 1 < w
                        and np.array_equal(
                            row[x + lit], row[x + lit + 1]
                        )
                    )
                ):
                    lit += 1
                out += bytes([lit - 1]) + row[x : x + lit].tobytes()
                x += lit
    return bytes(out)


def synth_gray_tga(doc_id: int) -> bytes:
    """Deterministic RLE TGA fixture: dims from the id, pixel (x, y) =
    first md5 byte of ``tg:{id}:{x // 4}:{y}`` — the x//4 blocking
    creates real runs so the RLE path (not just literals) is
    exercised; origin alternates by id parity so both row orders
    decode."""
    w0 = 12 + doc_id % 11
    h0 = 10 + doc_id % 7
    px = np.empty((h0, w0, 3), dtype=np.uint8)
    for y in range(h0):
        for x in range(w0):
            v = int(
                hashlib.md5(
                    f"tg:{doc_id}:{x // 4}:{y}".encode()
                ).hexdigest()[:2],
                16,
            )
            px[y, x, :] = v
    return encode_tga_rle(px, top_down=doc_id % 2 == 0)


# ---------------------------------------------------------------------------
# REAL ICO decode (Windows icon container: DIB-with-doubled-height or
# embedded-PNG entries, per the documented ICONDIR/ICONDIRENTRY layout)
# ---------------------------------------------------------------------------


def encode_ico(px: np.ndarray, as_png: bool) -> bytes:
    """Encode an (h, w, 3) uint8 RGB array as a one-entry .ico. The two
    real-world payload kinds: ``as_png=False`` writes the classic DIB
    (BITMAPINFOHEADER with biHeight DOUBLED for the XOR+AND masks,
    24-bpp bottom-up XOR rows, all-zero 1-bpp AND mask padded to 32
    bits); ``as_png=True`` embeds a whole PNG stream (the Vista+ form)."""
    h, w, _ = px.shape
    if as_png:
        img = encode_png(px)
        bpp = 32
    else:
        row_size = (w * 3 + 3) & ~3
        bgr = px[::-1, :, ::-1]
        rows = np.zeros((h, row_size), dtype=np.uint8)
        rows[:, : w * 3] = bgr.reshape(h, w * 3)
        and_row = ((w + 31) // 32) * 4
        mask = np.zeros((h, and_row), dtype=np.uint8)
        dib = struct.pack(
            "<IiiHHIIiiII", 40, w, h * 2, 1, 24, 0,
            row_size * h + and_row * h, 0, 0, 0, 0,
        )
        img = dib + rows.tobytes() + mask.tobytes()
        bpp = 24
    entry = struct.pack(
        "<BBBBHHII", w % 256, h % 256, 0, 0, 1, bpp, len(img), 22
    )
    return struct.pack("<HHH", 0, 1, 1) + entry + img


def _ico_entry0(data: bytes) -> tuple[int, int] | None:
    """(size, offset) of the first ICONDIR entry, or None if not an ICO."""
    if not data or len(data) < 22 or data[:4] != b"\x00\x00\x01\x00":
        return None
    (count,) = struct.unpack_from("<H", data, 4)
    if count < 1:
        return None
    size, off = struct.unpack_from("<II", data, 14)
    if off + size > len(data) or size < 8:
        return None
    return size, off


def decode_ico_pixels(data: bytes | None) -> np.ndarray | None:
    """Decode entry 0 of a .ico to an (h, w, 3) uint8 RGB array
    (top-down). Handles both payload kinds — embedded PNG (delegated to
    the real PNG decoder) and 24-bpp BI_RGB DIB (doubled-height header,
    bottom-up XOR rows; the AND mask is parsed past, not applied — the
    fixture mask is all-opaque). Anything else → None (the shared
    keep-with-fallback contract)."""
    try:
        entry = _ico_entry0(data)
        if entry is None:
            return None
        size, off = entry
        img = data[off : off + size]
        if img[:8] == b"\x89PNG\r\n\x1a\n":
            return decode_png_pixels(img)
        dib_size, w, h2 = struct.unpack_from("<Iii", img, 0)
        (bpp,) = struct.unpack_from("<H", img, 14)
        (comp,) = struct.unpack_from("<I", img, 16)
        if dib_size != 40 or bpp != 24 or comp != 0 or w <= 0:
            return None
        if h2 <= 0 or h2 % 2:
            return None
        h = h2 // 2
        row_size = (w * 3 + 3) & ~3
        if len(img) < 40 + row_size * h:
            return None
        arr = np.frombuffer(
            img, dtype=np.uint8, count=row_size * h, offset=40
        ).reshape(h, row_size)
        rgb = arr[:, : w * 3].reshape(h, w, 3)[:, :, ::-1]
        return np.ascontiguousarray(rgb[::-1])
    except Exception:
        return None


def synth_gray_ico(doc_id: int) -> bytes:
    """Deterministic grayscale ICO fixture: dims from the id, pixel
    (x, y) = first md5 byte of ``ic:{id}:{x}:{y}``; EVEN ids carry the
    classic 24-bpp DIB payload, ODD ids the embedded-PNG payload — one
    fixture family exercises both container branches."""
    w0 = 8 + doc_id % 9
    h0 = 8 + doc_id % 7
    px = np.empty((h0, w0, 3), dtype=np.uint8)
    for y in range(h0):
        for x in range(w0):
            v = int(
                hashlib.md5(f"ic:{doc_id}:{x}:{y}".encode()).hexdigest()[:2],
                16,
            )
            px[y, x, :] = v
    return encode_ico(px, as_png=doc_id % 2 == 1)


# ---------------------------------------------------------------------------
# REAL Netpbm decode (P5 PGM / P6 PPM binary rasters, maxval 255)
# ---------------------------------------------------------------------------


def encode_pnm(px: np.ndarray, gray: bool) -> bytes:
    """Encode an (h, w, 3) uint8 RGB array as binary Netpbm: P5 (PGM,
    from the R channel) or P6 (PPM, interleaved RGB). A comment line is
    always written so decoders must implement ``#`` skipping."""
    h, w, _ = px.shape
    if gray:
        magic, body = b"P5", px[:, :, 0].tobytes()
    else:
        magic, body = b"P6", px.tobytes()
    return magic + b"\n# fixture\n%d %d\n255\n" % (w, h) + body


def decode_pnm_pixels(data: bytes | None) -> np.ndarray | None:
    """Decode binary Netpbm (P4 bitmap / P5 grayscale / P6 RGB,
    maxval 255) to an (h, w, 3) uint8 RGB array; P5 gray replicates
    into all three channels, P4 bits unpack MSB-first with 1 = black
    (rows padded to whole bytes, spec §pbm) — the shape wild files
    take (CPython's test python.pbm). Header tokens may be separated
    by any whitespace run and ``#``-to-newline comments (the spec's
    full lexical rule); exactly one whitespace byte separates the last
    header token from the raster. Anything else — ASCII variants,
    16-bit maxval, truncation — returns None."""
    try:
        if not data or len(data) < 8 or data[:1] != b"P":
            return None
        kind = data[1:2]
        if kind not in (b"4", b"5", b"6"):
            return None
        n_hdr = 2 if kind == b"4" else 3  # P4 has no maxval token
        pos = 2
        vals: list[int] = []
        n = len(data)
        while len(vals) < n_hdr and pos < n:
            c = data[pos]
            if c in b" \t\r\n":
                pos += 1
            elif c == 0x23:  # '#': comment to end of line
                while pos < n and data[pos] not in b"\r\n":
                    pos += 1
            elif 0x30 <= c <= 0x39:
                start = pos
                while pos < n and 0x30 <= data[pos] <= 0x39:
                    pos += 1
                vals.append(int(data[start:pos]))
            else:
                return None
        if len(vals) < n_hdr or pos >= n:
            return None
        if kind == b"4":
            w, h = vals
            if w <= 0 or h <= 0:
                return None
            pos += 1  # the single whitespace byte after height
            rowbytes = (w + 7) // 8
            need = rowbytes * h
            if n < pos + need:
                return None
            bits = np.unpackbits(
                np.frombuffer(data, np.uint8, count=need, offset=pos)
                .reshape(h, rowbytes),
                axis=1,
            )[:, :w]
            gray = np.where(bits == 1, 0, 255).astype(np.uint8)
            return np.ascontiguousarray(
                np.repeat(gray.reshape(h, w, 1), 3, axis=2)
            )
        w, h, maxval = vals
        if w <= 0 or h <= 0 or maxval != 255:
            return None
        pos += 1  # the single whitespace byte after maxval
        ch = 1 if kind == b"5" else 3
        need = w * h * ch
        if n < pos + need:
            return None
        arr = np.frombuffer(data, dtype=np.uint8, count=need, offset=pos)
        if ch == 1:
            return np.ascontiguousarray(
                np.repeat(arr.reshape(h, w, 1), 3, axis=2)
            )
        return np.ascontiguousarray(arr.reshape(h, w, 3))
    except Exception:
        return None


def synth_gray_pnm(doc_id: int) -> bytes:
    """Deterministic grayscale Netpbm fixture: dims from the id, pixel
    (x, y) = first md5 byte of ``pm:{id}:{x}:{y}``; EVEN ids are P5
    (PGM), ODD ids P6 (PPM) — both lexer + raster branches covered."""
    w0 = 10 + doc_id % 11
    h0 = 10 + doc_id % 5
    px = np.empty((h0, w0, 3), dtype=np.uint8)
    for y in range(h0):
        for x in range(w0):
            v = int(
                hashlib.md5(f"pm:{doc_id}:{x}:{y}".encode()).hexdigest()[:2],
                16,
            )
            px[y, x, :] = v
    return encode_pnm(px, gray=doc_id % 2 == 0)


# ---------------------------------------------------------------------------
# REAL TIFF decode (baseline TIFF 6.0: uncompressed + PackBits strips,
# both byte orders, gray and RGB) — completes the pixel path for the
# container q_image_headers previously parsed header-only
# ---------------------------------------------------------------------------


def _packbits_encode(row: bytes) -> bytes:
    """PackBits (TIFF 6.0 §9 / Apple) run-length encoding."""
    out = bytearray()
    i, n = 0, len(row)
    while i < n:
        run = 1
        while i + run < n and run < 128 and row[i + run] == row[i]:
            run += 1
        if run >= 2:
            out.append(257 - run)
            out.append(row[i])
            i += run
            continue
        start = i
        i += 1
        while (
            i < n
            and i - start < 128
            and not (i + 1 < n and row[i + 1] == row[i])
        ):
            i += 1
        out.append(i - start - 1)
        out += row[start:i]
    return bytes(out)


def _packbits_decode(data: bytes, expected: int) -> bytes | None:
    out = bytearray()
    i, n = 0, len(data)
    while len(out) < expected and i < n:
        c = data[i]
        i += 1
        if c < 128:
            if i + c + 1 > n:
                return None
            out += data[i : i + c + 1]
            i += c + 1
        elif c > 128:
            if i >= n:
                return None
            out += bytes([data[i]]) * (257 - c)
            i += 1
        # 128 = no-op per spec
    return bytes(out) if len(out) == expected else None


def encode_tiff(
    px: np.ndarray, little: bool = True, packbits: bool = False
) -> bytes:
    """Encode an (h, w, 3) uint8 RGB array as a 2-strip baseline TIFF
    (RGB, 8 bits/sample, chosen byte order, Compression 1 or 32773)."""
    e = "<" if little else ">"
    h, w, _ = px.shape
    # all strips except the last carry RowsPerStrip rows (TIFF 6.0 §3)
    rows_strip0 = max(1, (h + 1) // 2)
    strips_px = [px[:rows_strip0], px[rows_strip0:]]
    strips = []
    for sp in strips_px:
        raw = sp.tobytes()
        strips.append(_packbits_encode(raw) if packbits else raw)
    n_entries = 10
    ifd_off = 8
    after_ifd = ifd_off + 2 + 12 * n_entries + 4
    bps_off = after_ifd           # 3 SHORTs
    so_off = bps_off + 6          # 2 LONGs strip offsets
    sc_off = so_off + 8           # 2 LONGs strip byte counts
    data_off = sc_off + 8
    offs = [data_off, data_off + len(strips[0])]

    def ent(tag: int, typ: int, cnt: int, val: int) -> bytes:
        if typ == 3 and cnt == 1:
            return struct.pack(e + "HHIHH", tag, typ, cnt, val, 0)
        return struct.pack(e + "HHII", tag, typ, cnt, val)

    entries = b"".join(
        [
            ent(256, 3, 1, w),
            ent(257, 3, 1, h),
            ent(258, 3, 3, bps_off),
            ent(259, 3, 1, 32773 if packbits else 1),
            ent(262, 3, 1, 2),  # RGB
            ent(273, 4, 2, so_off),
            ent(277, 3, 1, 3),
            ent(278, 3, 1, rows_strip0),
            ent(279, 4, 2, sc_off),
            ent(284, 3, 1, 1),  # chunky planar config
        ]
    )
    head = (b"II*\x00" if little else b"MM\x00*") + struct.pack(
        e + "I", ifd_off
    )
    body = (
        struct.pack(e + "H", n_entries)
        + entries
        + struct.pack(e + "I", 0)
        + struct.pack(e + "HHH", 8, 8, 8)
        + struct.pack(e + "II", *offs)
        + struct.pack(e + "II", len(strips[0]), len(strips[1]))
    )
    return head + body + strips[0] + strips[1]


def decode_tiff_pixels(data: bytes | None) -> np.ndarray | None:
    """Decode a baseline TIFF 6.0 image to an (h, w, 3) uint8 RGB
    array: both byte orders, strip layout from
    StripOffsets/StripByteCounts (inline or offset arrays),
    Compression 1 (none) or 32773 (PackBits), Photometric 1 (gray,
    replicated) or 2 (RGB), 8 bits/sample, chunky planar. Anything
    else — tiles, LZW/JPEG-in-TIFF, 16-bit, planar — returns None."""
    try:
        if not data or len(data) < 16:
            return None
        if data[:4] == b"II*\x00":
            e = "<"
        elif data[:4] == b"MM\x00*":
            e = ">"
        else:
            return None
        (ifd,) = struct.unpack_from(e + "I", data, 4)
        if ifd + 2 > len(data):
            return None
        (n_ent,) = struct.unpack_from(e + "H", data, ifd)
        tags: dict[int, tuple[int, int, int]] = {}
        for k in range(n_ent):
            off = ifd + 2 + 12 * k
            if off + 12 > len(data):
                return None
            tag, typ, cnt = struct.unpack_from(e + "HHI", data, off)
            (raw,) = struct.unpack_from(e + "I", data, off + 8)
            if typ == 3 and cnt == 1:
                (raw,) = struct.unpack_from(e + "H", data, off + 8)
            tags[tag] = (typ, cnt, raw)

        def arr(tag: int) -> list[int] | None:
            if tag not in tags:
                return None
            typ, cnt, raw = tags[tag]
            sz = 2 if typ == 3 else 4
            if typ not in (3, 4):
                return None
            if cnt * sz <= 4:
                # inline: re-read the value field as an array
                return [raw] if cnt == 1 else list(
                    struct.unpack_from(
                        e + ("H" if typ == 3 else "I") * cnt,
                        data,
                        # recompute field offset from the entry table
                        next(
                            ifd + 2 + 12 * k + 8
                            for k in range(n_ent)
                            if struct.unpack_from(
                                e + "H", data, ifd + 2 + 12 * k
                            )[0]
                            == tag
                        ),
                    )
                )
            if raw + cnt * sz > len(data):
                return None
            return list(
                struct.unpack_from(
                    e + ("H" if typ == 3 else "I") * cnt, data, raw
                )
            )

        def one(tag: int, default: int | None = None) -> int | None:
            v = arr(tag)
            return v[0] if v else default

        w = one(256)
        h = one(257)
        comp = one(259, 1)
        photo = one(262)
        spp = one(277, 1)
        rps = one(278, h if h else 0)
        if not w or not h or comp not in (1, 32773):
            return None
        # spp 4 = RGB + alpha (ExtraSamples, TIFF 6.0 §18): the alpha
        # plane is dropped to honor the (h, w, 3) RGB contract — the
        # shape real wild files take (e.g. CPython's test python.tiff,
        # RGBA uncompressed chunky)
        if photo not in (1, 2) or spp not in (1, 3, 4):
            return None
        if photo == 2 and spp not in (3, 4) or photo == 1 and spp != 1:
            return None
        bps = arr(258) or [1]
        if any(b != 8 for b in bps[:spp]):
            return None
        offsets = arr(273)
        counts = arr(279)
        if not offsets or not counts or len(offsets) != len(counts):
            return None
        if not rps:
            return None
        raw = bytearray()
        for i, (so, sc) in enumerate(zip(offsets, counts)):
            if so + sc > len(data):
                return None
            strip = data[so : so + sc]
            rows = min(rps, h - i * rps)
            if rows <= 0:
                if sc == 0:
                    continue  # trailing empty strip (h == 1 fixtures)
                return None
            expected = rows * w * spp
            if comp == 32773:
                dec = _packbits_decode(strip, expected)
                if dec is None:
                    return None
                raw += dec
            else:
                if sc != expected:
                    return None
                raw += strip
        if len(raw) != h * w * spp:
            return None
        px = np.frombuffer(bytes(raw), dtype=np.uint8)
        if spp == 1:
            return np.ascontiguousarray(
                np.repeat(px.reshape(h, w, 1), 3, axis=2)
            )
        if spp == 4:
            return np.ascontiguousarray(px.reshape(h, w, 4)[:, :, :3])
        return np.ascontiguousarray(px.reshape(h, w, 3))
    except Exception:
        return None


def synth_gray_tiff(doc_id: int) -> bytes:
    """Deterministic grayscale-in-RGB TIFF fixture: dims from the id,
    pixel (x, y) = first md5 byte of ``tf:{id}:{x}:{y}``; byte order
    alternates by id parity and Compression by id % 3 (PackBits for
    residues 0/1 — the replicated RGB channels give it real runs —
    uncompressed for 2), so one family covers the four container
    branches."""
    w0 = 9 + doc_id % 8
    h0 = 6 + doc_id % 7
    px = np.empty((h0, w0, 3), dtype=np.uint8)
    for y in range(h0):
        for x in range(w0):
            v = int(
                hashlib.md5(f"tf:{doc_id}:{x}:{y}".encode()).hexdigest()[:2],
                16,
            )
            px[y, x, :] = v
    return encode_tiff(
        px, little=doc_id % 2 == 0, packbits=doc_id % 3 != 2
    )


# ---------------------------------------------------------------------------
# Animated GIF (GIF89a multi-frame: Graphic Control Extension disposal
# compositing — the inter-frame IMAGE case next to the MS-RLE8 / MSVC
# inter-frame video codecs)
# ---------------------------------------------------------------------------


def _gif_lzw_encode(flat: np.ndarray) -> bytes:
    """Literal-9-bit LZW sub-block stream (CLEAR every 250 symbols, the
    same valid-per-spec scheme as encode_gif_gray) + min-code-size
    prefix + block terminator."""
    out_bits: list[int] = []

    def emit(code: int, nbits: int) -> None:
        for k in range(nbits):
            out_bits.append((code >> k) & 1)

    CLEAR, EOI = 256, 257
    emit(CLEAR, 9)
    for idx, v in enumerate(flat):
        if idx and idx % 250 == 0:
            emit(CLEAR, 9)
        emit(int(v), 9)
    emit(EOI, 9)
    data = bytearray()
    for i in range(0, len(out_bits), 8):
        byte = 0
        for k, bit in enumerate(out_bits[i : i + 8]):
            byte |= bit << k
        data.append(byte)
    blocks = b"".join(
        bytes([min(255, len(data) - i)]) + bytes(data[i : i + 255])
        for i in range(0, len(data), 255)
    )
    return b"\x08" + blocks + b"\x00"


def _gif_lzw_decode(stream: bytes, min_code: int) -> bytearray | None:
    """Full variable-width LZW decode of a GIF image data stream (the
    same algorithm as decode_gif_pixels' inner loop, shared by the
    animation decoder)."""
    CLEAR, EOI = 1 << min_code, (1 << min_code) + 1
    table: list[bytes] = []

    def reset() -> int:
        table.clear()
        table.extend(bytes([i]) for i in range(1 << min_code))
        table.append(b"")
        table.append(b"")
        return min_code + 1

    width = reset()
    acc = nbits = 0
    prev: bytes | None = None
    out = bytearray()
    for byte in stream:
        acc |= byte << nbits
        nbits += 8
        while nbits >= width:
            code = acc & ((1 << width) - 1)
            acc >>= width
            nbits -= width
            if code == CLEAR:
                width = reset()
                prev = None
                continue
            if code == EOI:
                return out
            if code < len(table):
                entry = table[code]
            elif code == len(table) and prev is not None:
                entry = prev + prev[:1]
            else:
                return None
            out += entry
            if prev is not None:
                table.append(prev + entry[:1])
                if len(table) == (1 << width) and width < 12:
                    width += 1
            prev = entry
    return out


def encode_gif_animation(
    canvas_wh: tuple[int, int],
    frames: list[tuple[int, int, np.ndarray, int]],
) -> bytes:
    """GIF89a animation: ``frames`` is a list of (x, y, gray_patch,
    disposal); each frame gets a Graphic Control Extension carrying its
    disposal method (1 = do not dispose, 2 = restore to background —
    the two methods real animations use) and an image descriptor at the
    patch offset. Global 256-gray palette; background index 0."""
    w, h = canvas_wh
    palette = bytes(v for i in range(256) for v in (i, i, i))
    out = bytearray()
    out += b"GIF89a" + struct.pack("<HHBBB", w, h, 0xF7, 0, 0) + palette
    for x, y, patch, disposal in frames:
        fh, fw = patch.shape
        gce = b"\x21\xf9\x04" + bytes([disposal << 2]) \
            + struct.pack("<H", 4) + b"\x00\x00"
        out += gce
        out += b"\x2c" + struct.pack("<HHHHB", x, y, fw, fh, 0)
        out += _gif_lzw_encode(patch.flatten())
    out += b"\x3b"
    return bytes(out)


def decode_gif_frames(data: bytes | None) -> list[np.ndarray] | None:
    """Decode EVERY frame of a GIF89a animation to full-canvas (h, w)
    gray arrays with real compositing: each patch is drawn at its
    descriptor offset over the persistent canvas; AFTER a frame is
    captured, its GCE disposal runs (2 = the patch region reverts to
    the background palette entry; 0/1 = the canvas persists). The
    canvas starts at the background color. Grayscale contract (every
    palette entry r==g==b — our fixtures; color GIFs take the
    single-frame decode_gif_pixels path). Malformed → None."""
    try:
        if not data or len(data) < 13 or data[:6] not in (
            b"GIF87a",
            b"GIF89a",
        ):
            return None
        w, h, packed, bg, _ar = struct.unpack_from("<HHBBB", data, 6)
        pos = 13
        palette = None
        if packed & 0x80:
            gct_size = 2 << (packed & 0x07)
            palette = np.frombuffer(
                data, dtype=np.uint8, count=gct_size * 3, offset=pos
            ).reshape(gct_size, 3)
            pos += gct_size * 3
        if palette is None or bg >= palette.shape[0]:
            return None
        bg_val = int(palette[bg, 0])
        canvas = np.full((h, w), bg_val, dtype=np.uint8)
        frames: list[np.ndarray] = []
        disposal = 0
        n = len(data)
        while pos < n:
            b0 = data[pos]
            if b0 == 0x3B:  # trailer
                break
            if b0 == 0x21:  # extension
                label = data[pos + 1]
                pos += 2
                if label == 0xF9 and data[pos] >= 4:
                    disposal = (data[pos + 1] >> 2) & 0x07
                while pos < n and data[pos]:
                    pos += 1 + data[pos]
                pos += 1
                continue
            if b0 != 0x2C:
                return None
            x, y, fw, fh, ipacked = struct.unpack_from(
                "<HHHHB", data, pos + 1
            )
            pos += 10
            pal = palette
            if ipacked & 0x80:
                lct_size = 2 << (ipacked & 0x07)
                pal = np.frombuffer(
                    data, dtype=np.uint8, count=lct_size * 3, offset=pos
                ).reshape(lct_size, 3)
                pos += lct_size * 3
            min_code = data[pos]
            pos += 1
            stream = bytearray()
            while pos < n and data[pos]:
                ln = data[pos]
                stream += data[pos + 1 : pos + 1 + ln]
                pos += 1 + ln
            pos += 1
            out = _gif_lzw_decode(bytes(stream), min_code)
            if out is None or len(out) < fw * fh:
                return None
            idx = np.frombuffer(bytes(out[: fw * fh]), dtype=np.uint8)
            if int(idx.max(initial=0)) >= pal.shape[0]:
                return None
            if x + fw > w or y + fh > h:
                return None
            patch = pal[idx, 0].reshape(fh, fw)
            canvas[y : y + fh, x : x + fw] = patch
            frames.append(canvas.copy())
            if disposal == 2:
                canvas[y : y + fh, x : x + fw] = bg_val
            disposal = 0
        return frames if frames else None
    except Exception:
        return None


def synth_gray_gif_anim(doc_id: int) -> bytes:
    """Deterministic 3-frame animation: frame 0 covers the canvas
    (disposal 1), frame 1 is an interior patch whose region is
    RESTORED TO BACKGROUND after display (disposal 2), frame 2 a
    second patch (disposal 1) — so frame 2's composite shows all
    three regimes at once: fresh pixels, background holes, and frame-0
    survivors. Pixel (x, y) of frame f = first md5 byte of
    ``ga:{id}:{f}:{x}:{y}`` in CANVAS coordinates."""
    import hashlib

    w = 12 + doc_id % 7
    h = 10 + doc_id % 5

    def patch(f: int, x0: int, y0: int, fw: int, fh: int) -> np.ndarray:
        p = np.zeros((fh, fw), dtype=np.uint8)
        for yy in range(fh):
            for xx in range(fw):
                p[yy, xx] = int(
                    hashlib.md5(
                        f"ga:{doc_id}:{f}:{x0 + xx}:{y0 + yy}".encode()
                    ).hexdigest()[:2],
                    16,
                )
        return p

    f0 = (0, 0, patch(0, 0, 0, w, h), 1)
    f1 = (2, 1, patch(1, 2, 1, w - 4, h - 3), 2)
    f2 = (1, 2, patch(2, 1, 2, w // 2, h // 2), 1)
    return encode_gif_animation((w, h), [f0, f1, f2])
