"""Multimodal column plumbing: image/audio/video as opaque binary.

Design (BASELINE.json extension surface): media travels as a
``binary`` payload column plus a typed metadata struct; decode /
feature-extract / resize / frame-sample run as Arrow-batched pandas
iterators over ``mapInPandas`` so each task streams batches without
materializing a partition of blobs in memory.

Decode kernels, two tiers:

- REAL (``decode="image"|"audio"|"video"``): pure-numpy decoders for
  the self-describing uncompressed formats whose byte layouts need no
  external codec -- binary PPM (P6) and 24-bpp BI_RGB BMP images,
  RIFF/WAVE PCM-16 audio, and RIFF/AVI uncompressed-DIB video.  Each
  parses actual bytes into arrays and derives exact integer features;
  all are round-tripped against the encoders below, not stubs.  The
  same tier powers real nearest-neighbor resize (``resize_images``)
  and real video->image frame sampling (``sample_video_frames``).
- STUB (``decode="stub"``, default): heavyweight codecs (JPEG/PNG via
  PIL, ffmpeg, librosa) are NOT in this container, so arbitrary-format
  payloads get deterministic byte-math pseudo-features.  The Spark-side
  contract (schemas, batch iteration, partitioning, UDF signatures) is
  identical between tiers; swapping in PIL changes only the kernel.

``decode="auto"`` tries the real decoders (image, then audio, then
video) and falls back to the stub for unrecognized payloads.
"""

from __future__ import annotations

import struct
from collections.abc import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, functions as F
from pyspark.sql import types as T

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("media_type", T.StringType(), False),  # image|audio|video
        T.StructField("payload", T.BinaryType(), True),
        T.StructField(
            "meta",
            T.StructType(
                [
                    T.StructField("width", T.IntegerType(), True),
                    T.StructField("height", T.IntegerType(), True),
                    T.StructField("duration_ms", T.IntegerType(), True),
                    T.StructField("codec", T.StringType(), True),
                ]
            ),
            True,
        ),
    ]
)

FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("media_type", T.StringType(), False),
        T.StructField("n_bytes", T.LongType(), True),
        T.StructField("feature", T.ArrayType(T.FloatType()), True),
    ]
)


def decode_image(payload: bytes) -> np.ndarray:
    """Pure-numpy image decode -> (H, W, 3) uint8 RGB.

    Real byte-layout parsing for three library-free formats:

    - **PPM P6** (netpbm): ASCII header ``P6 <w> <h> <maxval>`` with
      ``#`` comments, a single whitespace byte, then ``h*w*3`` raw RGB
      bytes.  maxval must be 255 (the 1-byte-per-sample variant).
    - **BMP**: 14-byte file header (``BM``), BITMAPINFOHEADER (40
      bytes), 24 bpp, BI_RGB (uncompressed); pixel rows are stored
      bottom-up, BGR, padded to 4-byte multiples.
    - **QOI** (qoiformat.org): the COMPRESSED tier -- run-length,
      64-slot color index, and delta chunks; RGB (channels=3) subset,
      full chunk grammar (see ``_decode_qoi``).

    Raises ``ValueError`` on anything else -- truncated data, other
    bit depths, compressed BMPs, P3 (ASCII) PPMs, RGBA QOI.
    """
    if payload is None or len(payload) < 2:
        raise ValueError("payload too short to be an image")
    if payload[:2] == b"P6":
        return _decode_ppm(payload)
    if payload[:2] == b"BM":
        return _decode_bmp(payload)
    if payload[:4] == b"qoif":
        return _decode_qoi(payload)
    raise ValueError(f"unsupported image magic {payload[:2]!r}")


def _decode_ppm(payload: bytes) -> np.ndarray:
    pos, fields = 2, []
    while len(fields) < 3:
        while pos < len(payload) and payload[pos : pos + 1].isspace():
            pos += 1
        if pos < len(payload) and payload[pos : pos + 1] == b"#":
            while pos < len(payload) and payload[pos] != 0x0A:
                pos += 1
            continue
        start = pos
        while pos < len(payload) and not payload[pos : pos + 1].isspace():
            pos += 1
        if start == pos:
            raise ValueError("truncated PPM header")
        fields.append(payload[start:pos])
    w, h, maxval = (int(f) for f in fields)
    if w < 1 or h < 1:
        # negative dims would make the h*w*3 size check pass and
        # reshape infer garbage geometry instead of raising
        raise ValueError(f"invalid PPM dimensions {w}x{h}")
    if maxval != 255:
        raise ValueError(f"only maxval=255 PPM supported, got {maxval}")
    pos += 1  # exactly one whitespace byte after maxval
    data = np.frombuffer(payload, dtype=np.uint8, offset=pos)
    if data.size < h * w * 3:
        raise ValueError("truncated PPM pixel data")
    return data[: h * w * 3].reshape(h, w, 3).copy()


def _decode_bmp(payload: bytes) -> np.ndarray:
    if len(payload) < 54:
        raise ValueError("truncated BMP header")
    data_offset = int.from_bytes(payload[10:14], "little")
    header_size = int.from_bytes(payload[14:18], "little")
    if header_size < 40:
        raise ValueError(f"unsupported BMP header size {header_size}")
    w = int.from_bytes(payload[18:22], "little", signed=True)
    h = int.from_bytes(payload[22:26], "little", signed=True)
    bpp = int.from_bytes(payload[28:30], "little")
    compression = int.from_bytes(payload[30:34], "little")
    if bpp != 24 or compression != 0:
        raise ValueError(f"only 24bpp BI_RGB BMP supported (bpp={bpp}, comp={compression})")
    if w <= 0 or h == 0:
        raise ValueError(f"bad BMP dimensions {w}x{h}")
    flipped, h = h > 0, abs(h)
    row_bytes = (w * 3 + 3) & ~3
    data = np.frombuffer(payload, dtype=np.uint8, offset=data_offset)
    if data.size < row_bytes * h:
        raise ValueError("truncated BMP pixel data")
    rows = data[: row_bytes * h].reshape(h, row_bytes)[:, : w * 3].reshape(h, w, 3)
    if flipped:  # positive height = bottom-up storage
        rows = rows[::-1]
    return rows[:, :, ::-1].copy()  # BGR -> RGB


def encode_ppm(arr: np.ndarray) -> bytes:
    """(H, W, 3) uint8 -> binary PPM bytes (the decoder's round-trip
    partner; also the deterministic payload generator for tests and
    the gated ``image_decode_features`` entry)."""
    h, w, _ = arr.shape
    return b"P6\n%d %d\n255\n" % (w, h) + arr.astype(np.uint8).tobytes()


def encode_bmp(arr: np.ndarray) -> bytes:
    """(H, W, 3) uint8 -> 24bpp BI_RGB BMP bytes (bottom-up, padded)."""
    h, w, _ = arr.shape
    row_bytes = (w * 3 + 3) & ~3
    img_size = row_bytes * h
    header = (
        b"BM"
        + (54 + img_size).to_bytes(4, "little")
        + b"\x00\x00\x00\x00"
        + (54).to_bytes(4, "little")
        + (40).to_bytes(4, "little")
        + w.to_bytes(4, "little", signed=True)
        + h.to_bytes(4, "little", signed=True)
        + (1).to_bytes(2, "little")
        + (24).to_bytes(2, "little")
        + (0).to_bytes(4, "little")
        + img_size.to_bytes(4, "little")
        + (2835).to_bytes(4, "little") * 2
        + (0).to_bytes(4, "little") * 2
    )
    bgr = arr.astype(np.uint8)[:, :, ::-1]
    padded = np.zeros((h, row_bytes), dtype=np.uint8)
    padded[:, : w * 3] = bgr.reshape(h, w * 3)
    return header + padded[::-1].tobytes()  # bottom-up row order


_QOI_END = b"\x00" * 7 + b"\x01"


def _qoi_index(r: int, g: int, b: int, a: int = 255) -> int:
    return (r * 3 + g * 5 + b * 7 + a * 11) % 64


def encode_qoi(arr: np.ndarray) -> bytes:
    """(H, W, 3) uint8 RGB -> QOI bytes (qoiformat.org, channels=3,
    srgb colorspace): the COMPRESSED image tier next to raw PPM/BMP --
    run-length for repeats, a 64-slot rolling color index, 2-bit DIFF
    and LUMA delta chunks, literal RGB otherwise.  The decoder's
    round-trip partner; spec-exact so external QOI tools read the
    output."""
    arr = np.asarray(arr, dtype=np.uint8)
    if arr.ndim != 3 or arr.shape[2] != 3 or arr.shape[0] < 1 or arr.shape[1] < 1:
        raise ValueError(f"expected (H, W, 3) pixels, got {arr.shape}")
    h, w, _ = arr.shape
    out = bytearray(b"qoif")
    out += w.to_bytes(4, "big") + h.to_bytes(4, "big") + b"\x03\x00"
    # index entries are FOUR components zero-initialized -- exactly
    # qoi.h's zeroed qoi_rgba_t array.  The current pixel always
    # carries a=255 (channels=3), so a slot never written in this
    # stream can never compare equal and the encoder never emits an
    # OP_INDEX a spec decoder (whose zeroed slots hold a=0) would
    # desync on.
    index = [(0, 0, 0, 0)] * 64
    pr = pg = pb = 0
    first = True  # spec start pixel is (0,0,0,255); track "prev seen"
    prev = (0, 0, 0)
    run = 0
    flat = arr.reshape(-1, 3)
    for r, g, b in map(tuple, flat.tolist()):
        if (r, g, b) == prev and not first:
            run += 1
            if run == 62:
                out.append(0b11000000 | (run - 1))
                run = 0
            continue
        if first and (r, g, b) == (0, 0, 0):
            # equal to the implicit start pixel: still a run
            first = False
            run += 1
            if run == 62:
                out.append(0b11000000 | (run - 1))
                run = 0
            continue
        if run:
            out.append(0b11000000 | (run - 1))
            run = 0
        first = False
        idx = _qoi_index(r, g, b)
        if index[idx] == (r, g, b, 255):
            out.append(idx)
        else:
            index[idx] = (r, g, b, 255)
            dr = (r - pr + 128) % 256 - 128
            dg = (g - pg + 128) % 256 - 128
            db = (b - pb + 128) % 256 - 128
            if -2 <= dr <= 1 and -2 <= dg <= 1 and -2 <= db <= 1:
                out.append(0b01000000 | ((dr + 2) << 4) | ((dg + 2) << 2) | (db + 2))
            elif -32 <= dg <= 31 and -8 <= dr - dg <= 7 and -8 <= db - dg <= 7:
                out.append(0b10000000 | (dg + 32))
                out.append(((dr - dg + 8) << 4) | (db - dg + 8))
            else:
                out.append(0b11111110)
                out += bytes((r, g, b))
        prev = (r, g, b)
        pr, pg, pb = r, g, b
    if run:
        out.append(0b11000000 | (run - 1))
    out += _QOI_END
    return bytes(out)


def _decode_qoi(payload: bytes) -> np.ndarray:
    """QOI -> (H, W, 3) uint8 RGB.  Full chunk grammar (RUN / INDEX /
    DIFF / LUMA / RGB / RGBA tags); channels=4 files are rejected (the
    media schema is RGB, matching the 24bpp-only BMP policy), as are
    truncated streams, pixel under/overflow, and a missing end
    marker."""
    if len(payload) < 14 + len(_QOI_END):
        raise ValueError("truncated QOI header")
    w = int.from_bytes(payload[4:8], "big")
    h = int.from_bytes(payload[8:12], "big")
    channels, colorspace = payload[12], payload[13]
    if channels != 3:
        raise ValueError(f"only RGB (channels=3) QOI supported, got {channels}")
    if colorspace not in (0, 1):
        raise ValueError(f"bad QOI colorspace {colorspace}")
    if w < 1 or h < 1 or w * h > 400_000_000:
        raise ValueError(f"bad QOI dimensions {w}x{h}")
    if payload[-len(_QOI_END):] != _QOI_END:
        raise ValueError("missing QOI end marker")
    data = payload[14 : -len(_QOI_END)]
    n = w * h
    px = np.empty((n, 3), dtype=np.uint8)
    # 4-component index zero-initialized and a tracked alpha, exactly
    # qoi.h's decode state: a conformant stream never reads an
    # unwritten slot, but a stream that does must poison alpha to 0
    # (and thus subsequent hashes) the same way qoi.h does, or this
    # decoder diverges from spec decoders on the rest of the stream.
    index = [(0, 0, 0, 0)] * 64
    r = g = b = 0
    a = 255
    i = pos = 0
    while i < n:
        if pos >= len(data):
            raise ValueError("QOI stream ended before all pixels")
        byte = data[pos]
        pos += 1
        if byte == 0b11111110:  # RGB
            if pos + 3 > len(data):
                raise ValueError("truncated QOI RGB chunk")
            r, g, b = data[pos], data[pos + 1], data[pos + 2]
            pos += 3
        elif byte == 0b11111111:  # RGBA tag in an RGB file
            raise ValueError("RGBA chunk in channels=3 QOI stream")
        else:
            tag = byte >> 6
            if tag == 0b00:  # INDEX
                r, g, b, a = index[byte & 0x3F]
            elif tag == 0b01:  # DIFF
                r = (r + ((byte >> 4) & 3) - 2) % 256
                g = (g + ((byte >> 2) & 3) - 2) % 256
                b = (b + (byte & 3) - 2) % 256
            elif tag == 0b10:  # LUMA
                if pos >= len(data):
                    raise ValueError("truncated QOI LUMA chunk")
                dg = (byte & 0x3F) - 32
                nb = data[pos]
                pos += 1
                r = (r + dg + ((nb >> 4) & 0x0F) - 8) % 256
                g = (g + dg) % 256
                b = (b + dg + (nb & 0x0F) - 8) % 256
            else:  # RUN
                run = (byte & 0x3F) + 1
                if i + run > n:
                    raise ValueError("QOI run overflows pixel count")
                px[i : i + run] = (r, g, b)
                i += run
                index[_qoi_index(r, g, b, a)] = (r, g, b, a)
                continue
        index[_qoi_index(r, g, b, a)] = (r, g, b, a)
        px[i] = (r, g, b)
        i += 1
    if pos != len(data):
        raise ValueError("trailing bytes after final QOI pixel")
    return px.reshape(h, w, 3)


def _image_features(pixels: np.ndarray, dim: int = 8) -> list[float]:
    """Exact integer features from decoded pixels (all values are
    small-integer-valued floats, so Spark and any oracle agree
    bit-for-bit): width, height, per-channel sums mod 997, total sum
    mod 997, pixel count, channel count."""
    h, w, c = pixels.shape
    px = pixels.astype(np.int64)
    out = [
        float(w),
        float(h),
        float(px[:, :, 0].sum() % 997),
        float(px[:, :, 1].sum() % 997),
        float(px[:, :, 2].sum() % 997),
        float(px.sum() % 997),
        float(h * w),
        float(c),
    ]
    return out[:dim] + [0.0] * max(0, dim - len(out))


def _decode_features(
    payload: bytes, media_type: str, dim: int = 8, decode: str = "stub"
) -> list[float]:
    """Feature kernel dispatch.

    ``decode="image"``: real PPM/BMP decode (raises on non-image
    bytes); ``decode="audio"``: real RIFF/WAVE PCM-16 decode (raises
    on non-WAV bytes); ``decode="video"``: real RIFF/AVI DIB decode
    (raises on non-AVI bytes); ``"stub"``: deterministic byte math
    (JPEG/PNG/MP3-class codecs are not in this container); ``"auto"``:
    try the real decoders, fall back to the stub.
    """
    if decode in ("image", "auto"):
        try:
            return _image_features(decode_image(payload), dim)
        except ValueError:
            if decode == "image":
                raise
    if decode in ("audio", "auto"):
        try:
            return _audio_features(*decode_wav(payload), dim)
        except ValueError:
            if decode == "audio":
                raise
    if decode in ("video", "auto"):
        try:
            return _video_features(*decode_avi(payload), dim)
        except ValueError:
            if decode == "video":
                raise
    if payload is None:
        return [0.0] * dim
    arr = np.frombuffer(payload, dtype=np.uint8)
    out = [float(arr[i::dim].sum() % 997) for i in range(dim)] if arr.size else [0.0] * dim
    return out


def extract_features(media: DataFrame, dim: int = 8, decode: str = "stub") -> DataFrame:
    """Batch feature extraction over ``mapInPandas``.

    Each Arrow batch becomes one pandas frame; the iterator contract
    means a 100 MB-of-blobs partition is processed in bounded-memory
    chunks (``spark.sql.execution.arrow.maxRecordsPerBatch``).

    ``decode``: ``"stub"`` (byte-math pseudo-features), ``"image"``
    (real PPM/BMP pixel decode, raises on non-image payloads), or
    ``"auto"`` (real with stub fallback).
    """

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            payloads = pdf["payload"].tolist()
            mtypes = pdf["media_type"].tolist()
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "media_type": pdf["media_type"],
                    "n_bytes": [len(b) if b is not None else 0 for b in payloads],
                    # zip over plain lists, not pdf.apply(axis=1): the
                    # row-wise apply builds a pandas Series per row --
                    # ~10x the per-blob dispatch cost on tiny payloads
                    "feature": [
                        _decode_features(p, m, dim, decode)
                        for p, m in zip(payloads, mtypes)
                    ],
                }
            )

    return media.mapInPandas(batches, FEATURE_SCHEMA)


def frame_sample_plan(media: DataFrame, every_ms: int = 1000) -> DataFrame:
    """Video frame-sampling *plan*: expand each video row into frame
    timestamps (pure relational -- sequence + explode); the per-frame
    decode would then run through ``extract_features``.  Demonstrates
    that the expansion step needs no Python at all."""
    n_frames = F.greatest(
        (F.col("meta.duration_ms") / every_ms).cast("int"), F.lit(1)
    )
    return (
        media.filter(F.col("media_type") == "video")
        .select(
            "media_id",
            F.explode(
                F.transform(F.sequence(F.lit(0), n_frames - 1), lambda i: i * every_ms)
            ).alias("frame_ts_ms"),
        )
    )


def resize_image(arr: np.ndarray, width: int, height: int) -> np.ndarray:
    """REAL nearest-neighbor resample of an (H, W, 3) uint8 array to
    (height, width, 3) -- pure numpy index arithmetic (the same
    sample-center mapping cv2.INTER_NEAREST uses: source index =
    floor((dst + 0.5) * src/dst)), no codec library needed."""
    if width < 1 or height < 1:
        raise ValueError(f"invalid resize target {width}x{height}")
    h, w = arr.shape[:2]
    rows = np.minimum(((np.arange(height) + 0.5) * h / height).astype(np.int64), h - 1)
    cols = np.minimum(((np.arange(width) + 0.5) * w / width).astype(np.int64), w - 1)
    return arr[rows][:, cols]


def resize_images(media: DataFrame, width: int, height: int) -> DataFrame:
    """REAL image resize over Arrow batches: decode (PPM/BMP/QOI byte
    layouts, ``decode_image``), nearest-neighbor resample in numpy
    (``resize_image``), re-encode in the source format, and rewrite
    the metadata to the new geometry.  Undecodable payloads pass
    through unchanged with their original metadata -- a resize pass
    over a mixed corpus must not destroy rows it cannot parse."""

    def _resize_one(payload: bytes) -> bytes | None:
        if payload is None:
            return None
        try:
            arr = decode_image(bytes(payload))
        except ValueError:
            return payload
        out = resize_image(arr, width, height)
        magic = bytes(payload)[:4]
        if magic[:2] == b"P6":
            return encode_ppm(out)
        if magic == b"qoif":
            return encode_qoi(out)
        return encode_bmp(out)

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            out = pdf.copy()
            resized = out["payload"].map(_resize_one)
            changed = resized.combine(
                out["payload"], lambda a, b: a is not None and a is not b
            )
            out["payload"] = resized
            out["meta"] = [
                {**(m or {}), "width": width, "height": height} if ch else m
                for m, ch in zip(out["meta"], changed)
            ]
            yield out

    return media.mapInPandas(batches, MEDIA_SCHEMA)


def resize_stub(media: DataFrame, width: int, height: int) -> DataFrame:
    """Identity-kernel resize harness: passes payloads through
    unchanged while rewriting metadata -- kept as the deterministic
    plumbing test double for ``resize_images`` (the REAL kernel)."""

    def _resize_one(payload: bytes) -> bytes:
        return payload

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            out = pdf.copy()
            out["payload"] = out["payload"].map(_resize_one)
            out["meta"] = out["meta"].map(
                lambda m: {**(m or {}), "width": width, "height": height}
            )
            yield out

    return media.mapInPandas(batches, MEDIA_SCHEMA)


# ---------------------------------------------------------------------------
# REAL audio decode: RIFF/WAVE PCM-16 (the container-free audio format
# whose byte layout needs no external codec -- same tier as PPM/BMP on
# the image side).
# ---------------------------------------------------------------------------

def decode_wav(payload: bytes) -> tuple[np.ndarray, int, int]:
    """Pure-numpy WAV decode -> (samples int16 [n, channels], sample
    rate, n_channels).

    Parses the real RIFF container: ``RIFF<size>WAVE``, then chunks;
    requires a ``fmt `` chunk declaring PCM (audio format 1) at 16
    bits per sample, and takes samples from the ``data`` chunk.
    Unknown chunks are skipped by their declared size (real WAV
    writers emit LIST/INFO etc).  Raises ``ValueError`` on anything
    else -- compressed formats, 8/24/32-bit PCM, truncated chunks.
    """
    if payload is None or len(payload) < 12 or payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE payload")
    pos = 12
    fmt = None
    data = None
    while pos + 8 <= len(payload):
        cid = payload[pos:pos + 4]
        size = int.from_bytes(payload[pos + 4:pos + 8], "little")
        body = payload[pos + 8:pos + 8 + size]
        if len(body) < size:
            raise ValueError(f"truncated {cid!r} chunk")
        if cid == b"fmt ":
            fmt = body
        elif cid == b"data":
            data = body
        pos += 8 + size + (size & 1)  # chunks are word-aligned
    if fmt is None or data is None:
        raise ValueError("missing fmt/data chunk")
    audio_format = int.from_bytes(fmt[0:2], "little")
    n_channels = int.from_bytes(fmt[2:4], "little")
    sample_rate = int.from_bytes(fmt[4:8], "little")
    bits = int.from_bytes(fmt[14:16], "little")
    if audio_format != 1 or bits != 16:
        raise ValueError(f"only PCM-16 supported (format={audio_format}, bits={bits})")
    if n_channels < 1:
        raise ValueError("channel count must be >= 1")
    if sample_rate < 1:
        raise ValueError(f"sample rate must be >= 1, got {sample_rate}")
    samples = np.frombuffer(data, dtype="<i2")
    if samples.size % n_channels:
        raise ValueError("data chunk not a whole number of frames")
    return samples.reshape(-1, n_channels), sample_rate, n_channels


def encode_wav(samples: np.ndarray, sample_rate: int) -> bytes:
    """(n, channels) int16 -> WAV bytes (PCM-16, little-endian) -- the
    decoder's round-trip partner and the deterministic payload
    generator for the gated ``audio_decode_features`` entry."""
    if samples.ndim == 1:
        samples = samples[:, None]
    n, ch = samples.shape
    data = samples.astype("<i2").tobytes()
    fmt = (
        (1).to_bytes(2, "little")
        + ch.to_bytes(2, "little")
        + sample_rate.to_bytes(4, "little")
        + (sample_rate * ch * 2).to_bytes(4, "little")
        + (ch * 2).to_bytes(2, "little")
        + (16).to_bytes(2, "little")
    )
    body = b"WAVE" + b"fmt " + len(fmt).to_bytes(4, "little") + fmt
    body += b"data" + len(data).to_bytes(4, "little") + data
    return b"RIFF" + len(body).to_bytes(4, "little") + body


def _audio_features(
    samples: np.ndarray, sample_rate: int, n_channels: int, dim: int = 8
) -> list[float]:
    """Exact integer features from decoded PCM (all small-integer-valued
    floats so any oracle agrees bit-for-bit): rate, channels, frames,
    duration_ms, sum(|x|) mod 997, zero-crossing count, max, min --
    the real shapes (energy/ZCR/peak) with exact arithmetic."""
    mono = samples[:, 0].astype(np.int64)
    crossings = int(((mono[1:] < 0) != (mono[:-1] < 0)).sum()) if mono.size > 1 else 0
    out = [
        float(sample_rate),
        float(n_channels),
        float(samples.shape[0]),
        float(samples.shape[0] * 1000 // sample_rate),
        float(np.abs(mono).sum() % 997),
        float(crossings),
        float(mono.max() if mono.size else 0),
        float(mono.min() if mono.size else 0),
    ]
    return out[:dim] + [0.0] * max(0, dim - len(out))


# ---------------------------------------------------------------------------
# REAL video decode: RIFF/AVI with uncompressed 24bpp DIB frames -- the
# container-free video tier (same class as PPM/BMP images and PCM WAV
# audio: pure byte-layout parsing, no codec library).  Frames are
# stored exactly like BMP pixel data: bottom-up BGR rows padded to
# 4-byte multiples, in '00db' chunks under the 'movi' list.
# ---------------------------------------------------------------------------


def _riff_chunks(payload: bytes, start: int, end: int):
    """Yield (fourcc, data_start, data_size) walking RIFF chunks in
    payload[start:end]; chunks are padded to even sizes."""
    pos = start
    while pos + 8 <= end:
        fourcc = payload[pos : pos + 4]
        size = int.from_bytes(payload[pos + 4 : pos + 8], "little")
        data = pos + 8
        if data + size > end:
            raise ValueError(f"truncated RIFF chunk {fourcc!r}")
        yield fourcc, data, size
        pos = data + size + (size & 1)


def encode_avi(frames: np.ndarray, fps: int = 10) -> bytes:
    """(N, H, W, 3) uint8 RGB -> minimal RIFF/AVI bytes: 'hdrl'
    (avih + one 'vids'/'DIB ' stream) then 'movi' with one '00db'
    uncompressed DIB chunk per frame.  The decoder's round-trip
    partner and the deterministic payload generator for tests and the
    gated ``video_decode_features`` entry."""
    frames = np.asarray(frames, dtype=np.uint8)
    if frames.ndim != 4 or frames.shape[3] != 3 or frames.shape[0] < 1:
        raise ValueError(f"expected (N, H, W, 3) frames, got {frames.shape}")
    if fps < 1:
        raise ValueError(f"invalid fps {fps}")
    n, h, w, _ = frames.shape
    row_bytes = (w * 3 + 3) & ~3
    frame_size = row_bytes * h

    def chunk(fourcc: bytes, payload: bytes) -> bytes:
        return (
            fourcc
            + len(payload).to_bytes(4, "little")
            + payload
            + (b"\x00" if len(payload) % 2 else b"")
        )

    def dib(frame: np.ndarray) -> bytes:
        rows = np.zeros((h, row_bytes), dtype=np.uint8)
        rows[:, : w * 3] = frame[::-1, :, ::-1].reshape(h, w * 3)  # bottom-up BGR
        return rows.tobytes()

    avih = struct.pack(
        "<14I", 1_000_000 // fps, frame_size * fps, 0, 0x10, n, 0, 1,
        frame_size, w, h, 0, 0, 0, 0,
    )
    # full 56-byte AVISTREAMHEADER: flags, wPriority, wLanguage,
    # dwInitialFrames, dwScale, dwRate (fps = rate/scale), dwStart,
    # dwLength, dwSuggestedBufferSize, dwQuality, dwSampleSize,
    # rcFrame(4 x WORD) -- omitting dwSampleSize would shift rcFrame
    # and make the bytes spec-invalid for external AVI consumers
    strh = b"vids" + b"DIB " + struct.pack(
        "<IHH8I4H", 0, 0, 0, 0, 1, fps, 0, n, frame_size, 0, 0, 0, 0, w, h
    )
    strf = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, frame_size, 0, 0, 0, 0)
    strl = chunk(b"LIST", b"strl" + chunk(b"strh", strh) + chunk(b"strf", strf))
    hdrl = chunk(b"LIST", b"hdrl" + chunk(b"avih", avih) + strl)
    movi = chunk(b"LIST", b"movi" + b"".join(chunk(b"00db", dib(f)) for f in frames))
    body = b"AVI " + hdrl + movi
    return b"RIFF" + len(body).to_bytes(4, "little") + body


def decode_avi(payload: bytes) -> tuple[np.ndarray, int]:
    """RIFF/AVI (uncompressed 24bpp DIB video) -> ((N, H, W, 3) uint8
    RGB frames, fps).  Walks the chunk tree for real: stream headers
    are counted in hdrl order so the video stream's INDEX is known
    (AVI frame chunks are named '##db' where ## is that 0-based index);
    only the 'vids' stream's strf (geometry, 24bpp BI_RGB validation)
    and only ITS '##db' raw-DIB frame chunks are accepted.  A '##dc'
    chunk on the video stream is compressed-flagged data and raises
    ``ValueError`` like every other malformed input (truncated chunks,
    compressed streams, other bit depths); other streams' chunks
    (audio '01wb' etc.) are skipped, so a multi-stream AVI cannot be
    misparsed into garbage frames."""
    if payload is None or len(payload) < 12 or payload[:4] != b"RIFF":
        raise ValueError("not a RIFF container")
    if payload[8:12] != b"AVI ":
        raise ValueError(f"not an AVI (form {payload[8:12]!r})")
    end = min(len(payload), 8 + int.from_bytes(payload[4:8], "little"))

    w = h = None
    fps = None
    bottom_up = True
    stream_idx = -1  # 0-based position of the current strh in hdrl order
    vids_idx = None  # stream index of the FIRST 'vids' stream
    vids_db = vids_dc = None  # its '##db' / '##dc' chunk ids
    dibs: list[bytes] = []

    def walk(start: int, stop: int) -> None:
        nonlocal w, h, fps, bottom_up, stream_idx, vids_idx, vids_db, vids_dc

        for fourcc, data, size in _riff_chunks(payload, start, stop):
            if fourcc == b"LIST":
                walk(data + 4, data + size)
            elif fourcc == b"strh":
                # EVERY strh advances the hdrl stream numbering -- a
                # short/truncated header still occupies a stream slot,
                # and skipping it would desync '##db' chunk-id binding
                # for every later stream.  Only the vids-specific field
                # parsing needs the full 48-byte header.
                stream_idx += 1
                if (
                    size < 48
                    or payload[data : data + 4] != b"vids"
                    or vids_idx is not None
                ):
                    continue
                vids_idx = stream_idx
                vids_db = b"%02ddb" % vids_idx
                vids_dc = b"%02ddc" % vids_idx
                scale, rate = struct.unpack_from("<II", payload, data + 20)
                if scale > 0 and rate > 0:
                    fps = rate // scale
            elif fourcc == b"strf" and size >= 40 and w is None:
                # bind geometry only to the vids stream's format chunk
                # (strf follows its strh inside the same strl LIST); a
                # preceding audio stream's strf must not win
                if vids_idx is None or stream_idx != vids_idx:
                    continue
                _hs, bw, bh, _planes, bpp, comp = struct.unpack_from(
                    "<IiiHHI", payload, data
                )
                if bpp != 24 or comp != 0:
                    raise ValueError(
                        f"only 24bpp BI_RGB AVI supported (bpp={bpp}, comp={comp})"
                    )
                if bw < 1 or bh == 0:
                    raise ValueError(f"bad AVI dimensions {bw}x{bh}")
                # positive biHeight = bottom-up rows (the common case);
                # negative = top-down -- honor the sign like _decode_bmp
                w, h, bottom_up = bw, abs(bh), bh > 0
            elif vids_idx is not None and fourcc == vids_dc:
                raise ValueError(
                    "compressed ('##dc') video frames not supported"
                )
            elif vids_idx is not None and fourcc == vids_db:
                dibs.append(payload[data : data + size])

    walk(12, end)
    if w is None or h is None:
        raise ValueError("AVI stream format (strf) not found")
    if fps is None:
        raise ValueError("AVI video stream header (strh) not found")
    if not dibs:
        raise ValueError("AVI contains no frames")
    row_bytes = (w * 3 + 3) & ~3
    frames = []
    for d in dibs:
        if len(d) < row_bytes * h:
            raise ValueError("truncated AVI frame")
        rows = np.frombuffer(d, dtype=np.uint8)[: row_bytes * h].reshape(h, row_bytes)
        img = rows[:, : w * 3].reshape(h, w, 3)
        if bottom_up:
            img = img[::-1]
        frames.append(img[:, :, ::-1].copy())
    return np.stack(frames), fps


def _video_features(frames: np.ndarray, fps: int, dim: int = 8) -> list[float]:
    """Exact integer features from decoded frames (all small-integer-
    valued floats so any oracle agrees bit-for-bit): fps, frame count,
    height, width, total pixel energy mod 997, every-2nd-frame sampled
    energy mod 997, max pixel, min pixel."""
    n, h, w, _ = frames.shape
    flat = frames.astype(np.int64)
    out = [
        float(fps),
        float(n),
        float(h),
        float(w),
        float(flat.sum() % 997),
        float(flat[::2].sum() % 997),
        float(frames.max()),
        float(frames.min()),
    ]
    return out[:dim] + [0.0] * max(0, dim - len(out))


def sample_video_frames(
    media: DataFrame, every_n: int = 1, encode: str = "bmp"
) -> DataFrame:
    """REAL video frame sampling: decode each AVI payload
    (``decode_avi``), keep every ``every_n``-th frame, and emit one
    IMAGE row per kept frame (re-encoded BMP or PPM payload, geometry
    metadata) -- the video→image bridge that feeds sampled frames into
    the image operators (``extract_features(decode="image")``,
    ``resize_images``).  Non-AVI payloads are dropped (a sampling pass
    selects what it can parse; pair with ``frame_sample_plan`` for the
    relational timestamp expansion over opaque codecs).

    ``media_id`` of an emitted frame is ``video_id * 1_000_000 +
    frame_index`` so frame provenance survives joins without a struct
    key.  Row expansion happens inside the Arrow iterator -- each task
    streams batches, nothing accumulates per partition.
    """
    if every_n < 1:
        raise ValueError(f"every_n must be >= 1, got {every_n}")
    enc = {"bmp": encode_bmp, "ppm": encode_ppm}.get(encode)
    if enc is None:
        raise ValueError(f"unknown frame encoding {encode!r}")

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            out: dict[str, list] = {
                "media_id": [], "media_type": [], "payload": [], "meta": []
            }
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                if payload is None:
                    continue
                try:
                    frames, _fps = decode_avi(bytes(payload))
                except ValueError:
                    continue
                for idx in range(0, frames.shape[0], every_n):
                    f = frames[idx]
                    out["media_id"].append(int(mid) * 1_000_000 + idx)
                    out["media_type"].append("image")
                    out["payload"].append(enc(f))
                    out["meta"].append(
                        {
                            "width": int(f.shape[1]),
                            "height": int(f.shape[0]),
                            "duration_ms": None,
                            "codec": encode,
                        }
                    )
            # explicit dtypes: an empty batch must not default columns
            # to float64, which Arrow cannot cast to binary/struct
            yield pd.DataFrame(
                {
                    "media_id": pd.Series(out["media_id"], dtype="int64"),
                    "media_type": pd.Series(out["media_type"], dtype="object"),
                    "payload": pd.Series(out["payload"], dtype="object"),
                    "meta": pd.Series(out["meta"], dtype="object"),
                }
            )

    return media.mapInPandas(batches, MEDIA_SCHEMA)


# ---------------------------------------------------------------------------
# Perceptual image hashing: exact-integer average hash (aHash) and
# DCT perceptual hash (pHash), plus banded-hamming near-dup pairing.
# The training-data use case: image corpora carry the SAME picture
# re-encoded through different containers/sizes; byte-level
# fingerprints miss every one of them, pixel-domain hashes catch them.
# ---------------------------------------------------------------------------

IMAGE_HASH_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("ahash", T.LongType(), True),
        T.StructField("phash", T.LongType(), True),
    ]
)


def _to_i64(h: int) -> int:
    """Wrap an unsigned 64-bit hash into Spark's signed LongType range
    (bit 63 set -> negative); band extraction uses UNSIGNED shifts so
    the sign bit never leaks across bands."""
    return h - (1 << 64) if h >= (1 << 63) else h


def ahash_bits(pixels: np.ndarray, resize_to: int | None = None) -> int:
    """Average hash over decoded pixels, INTEGER-EXACT: bit j is
    ``s_j * n > sum(s)`` where ``s_j`` is pixel j's channel sum
    (row-major) -- no float mean, no rounding, so any engine
    (including a SQL oracle) reproduces it bit-for-bit.

    ``resize_to``: nearest-neighbor downsample to ``resize_to x
    resize_to`` first (the hash is one bit per pixel in a long, so >64
    pixels need one).  Default ``None`` hashes raw pixels when they fit
    and auto-downsamples to 8x8 otherwise; pass an explicit value to
    pin the geometry (0/negative to forbid resizing)."""
    if resize_to is None and pixels.shape[0] * pixels.shape[1] > 64:
        resize_to = 8
    if resize_to is not None and resize_to > 0:
        pixels = resize_image(pixels, resize_to, resize_to)
    s = pixels.astype(np.int64).sum(axis=2).reshape(-1)
    if s.size > 64:
        raise ValueError(
            f"{s.size} pixels exceed the 64-bit hash; pass resize_to<=8"
        )
    total = int(s.sum())
    n = int(s.size)
    return _to_i64(int(sum(1 << j for j, v in enumerate(s) if int(v) * n > total)))


def phash_bits(pixels: np.ndarray, hash_size: int = 8, resize_to: int = 32) -> int:
    """DCT perceptual hash: luma -> ``resize_to``^2 nearest-neighbor
    resample -> 2D DCT-II (pure numpy cosine-basis matmul, no scipy)
    -> keep the top-left ``hash_size``^2 low-frequency block, drop the
    DC term, threshold at the median.  Robust to small pixel noise and
    re-encoding; Hamming distance between hashes approximates visual
    difference.  63 bits at the default ``hash_size=8``."""
    img = resize_image(pixels, resize_to, resize_to).astype(np.float64)
    luma = img[:, :, 0] * 0.299 + img[:, :, 1] * 0.587 + img[:, :, 2] * 0.114
    n = resize_to
    k = np.arange(n)
    basis = np.cos(np.pi * (2 * k[None, :] + 1) * k[:, None] / (2 * n))
    d = basis @ luma @ basis.T
    vals = d[:hash_size, :hash_size].reshape(-1)[1:]  # drop DC
    med = float(np.median(vals))
    return int(sum(1 << j for j, v in enumerate(vals) if v > med))


def image_hashes(
    media: DataFrame, ahash_resize: int | None = None, decode: str = "image"
) -> DataFrame:
    """Per-image (ahash, phash) over Arrow batches -- same bounded-
    memory ``mapInPandas`` shape as ``extract_features``; per-blob
    cost is inherent (a decode + two small matmuls), undecodable
    payloads yield NULL hashes under ``decode='auto'`` and raise under
    ``decode='image'``."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            ah, ph = [], []
            for payload in pdf["payload"]:
                try:
                    px = decode_image(payload)
                except (ValueError, TypeError):
                    if decode == "image":
                        raise
                    ah.append(None)
                    ph.append(None)
                    continue
                ah.append(ahash_bits(px, resize_to=ahash_resize))
                ph.append(phash_bits(px))
            yield pd.DataFrame(
                {"media_id": pdf["media_id"], "ahash": ah, "phash": ph}
            )

    return media.mapInPandas(batches, IMAGE_HASH_SCHEMA)


def phash_near_dup(
    hashes: DataFrame,
    max_dist: int = 4,
    n_bands: int = 8,
    hash_col: str = "phash",
    id_col: str = "media_id",
    group_col: str | None = None,
    keep_hashes: bool = False,
) -> DataFrame:
    """Near-duplicate image pairs by banded Hamming join -- the LSH
    skeleton specialized to fixed-width bit hashes: split each 64-bit
    hash into ``n_bands`` disjoint byte bands, bucket-join on (band
    index, band value), verify candidates with an exact popcount.

    Pigeonhole completeness: two hashes at Hamming distance d share at
    least one unchanged band whenever ``d < n_bands`` -- so with the
    defaults (8 bands, max_dist 4) recall is EXACT, not approximate,
    while candidate generation stays O(images x bands) instead of the
    all-pairs O(n^2) a 10^9-image corpus cannot afford.  Candidate
    verification is one codegen expression (xor + bit_count).

    ``group_col``: restrict pairing to rows sharing that column (e.g.
    a modality column, so an audio fingerprint and an image hash can
    never pair even on an accidental band+popcount coincidence).

    ``keep_hashes``: also return the matching hash values ``h_a`` /
    ``h_b`` -- for callers that threshold on DISTINCT matching hashes
    per pair (multi-hash media like video frame sets) rather than on
    matching hash-pair rows."""
    if max_dist >= n_bands:
        raise ValueError(
            f"max_dist={max_dist} needs n_bands>{max_dist} for exact recall"
        )
    width = 64 // n_bands
    mask = (1 << width) - 1
    bands = F.array(
        *[
            F.struct(
                F.lit(i).alias("band_idx"),
                F.shiftrightunsigned(F.col(hash_col), i * width)
                .bitwiseAND(F.lit(mask))
                .alias("band_val"),
            )
            for i in range(n_bands)
        ]
    )
    gcols = [group_col] if group_col else []
    keyed = hashes.select(
        F.col(id_col), F.col(hash_col), *gcols, F.explode(bands).alias("b")
    ).select(id_col, hash_col, *gcols, "b.band_idx", "b.band_val")
    left = keyed.select(
        F.col(id_col).alias("id_a"),
        F.col(hash_col).alias("h_a"),
        *gcols,
        "band_idx",
        "band_val",
    )
    right = keyed.select(
        F.col(id_col).alias("id_b"),
        F.col(hash_col).alias("h_b"),
        *gcols,
        "band_idx",
        "band_val",
    )
    pairs = (
        left.join(right, ["band_idx", "band_val", *gcols])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "h_a", "h_b")
        .distinct()
    )
    dist = F.bit_count(F.col("h_a").bitwiseXOR(F.col("h_b")))
    extra = ["h_a", "h_b"] if keep_hashes else []
    return pairs.select(
        "id_a", "id_b", dist.cast("int").alias("hamming"), *extra
    ).filter(F.col("hamming") <= F.lit(max_dist))


# ---------------------------------------------------------------------------
# Audio + video perceptual fingerprints -- the same banded-hamming
# near-dup machinery as images, fed by modality-specific kernels:
# audio gets a spectral (FFT band-energy) fingerprint, video gets a
# per-sampled-frame pHash sequence with positional overlap verify.
# ---------------------------------------------------------------------------

AUDIO_FP_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("afp", T.LongType(), True),
    ]
)

VIDEO_SEQ_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("frame_hashes", T.ArrayType(T.LongType()), True),
    ]
)


def audio_fingerprint_bits(
    samples: np.ndarray, n_frames: int = 8, n_bands: int = 8
) -> int:
    """Spectral fingerprint of PCM audio: downmix to mono, split into
    ``n_frames`` windows, FFT magnitude per window binned into
    ``n_bands`` frequency bands, bit set where a band's energy exceeds
    its frame's median band energy.

    The per-frame median threshold makes the hash AMPLITUDE-INVARIANT
    (a re-encoded copy at half volume scales every band equally) and
    dropping the DC bin makes it offset-invariant -- the two
    distortions lossless-to-lossy audio reprocessing actually
    introduces.  64 bits at the defaults; pair with
    :func:`phash_near_dup` (``hash_col="afp"``) for banded near-dup
    pairing."""
    x = samples.astype(np.float64)
    if x.ndim == 2:
        x = x.mean(axis=1)
    if x.size < n_frames:
        x = np.pad(x, (0, n_frames - x.size))
    frame_len = x.size // n_frames
    frames = x[: frame_len * n_frames].reshape(n_frames, frame_len)
    mag = np.abs(np.fft.rfft(frames, axis=1))[:, 1:]  # drop DC
    if mag.shape[1] < n_bands:
        mag = np.pad(mag, ((0, 0), (0, n_bands - mag.shape[1])))
    idx = np.linspace(0, mag.shape[1], n_bands + 1).astype(int)
    e = np.stack(
        [np.square(mag[:, idx[k] : idx[k + 1]]).sum(axis=1) for k in range(n_bands)],
        axis=1,
    )
    med = np.median(e, axis=1, keepdims=True)
    bits = (e > med).reshape(-1)
    return _to_i64(int(sum(1 << j for j, b in enumerate(bits) if b)))


def audio_fingerprints(media: DataFrame, decode: str = "audio") -> DataFrame:
    """Per-clip spectral fingerprint over Arrow batches (real RIFF/WAVE
    decode); undecodable payloads yield NULL under ``decode='auto'``
    and raise under ``decode='audio'``."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            fps = []
            for payload in pdf["payload"]:
                try:
                    samples, _rate, _ch = decode_wav(
                        bytes(payload) if payload is not None else None
                    )
                except (ValueError, TypeError):
                    if decode == "audio":
                        raise
                    fps.append(None)
                    continue
                fps.append(audio_fingerprint_bits(samples))
            yield pd.DataFrame({"media_id": pdf["media_id"], "afp": fps})

    return media.mapInPandas(batches, AUDIO_FP_SCHEMA)


def video_hash_seq(media: DataFrame, every_n: int = 1, decode: str = "video") -> DataFrame:
    """Per-video pHash sequence: decode the AVI, pHash every
    ``every_n``-th frame.  The sequence is the video's perceptual
    signature -- re-encoded/noised copies produce near-identical
    sequences frame-for-frame."""
    if every_n < 1:
        raise ValueError(f"every_n must be >= 1, got {every_n}")

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            seqs = []
            for payload in pdf["payload"]:
                try:
                    frames, _fps = decode_avi(
                        bytes(payload) if payload is not None else None
                    )
                except (ValueError, TypeError):
                    if decode == "video":
                        raise
                    seqs.append(None)
                    continue
                seqs.append(
                    [phash_bits(frames[i]) for i in range(0, frames.shape[0], every_n)]
                )
            yield pd.DataFrame({"media_id": pdf["media_id"], "frame_hashes": seqs})

    return media.mapInPandas(batches, VIDEO_SEQ_SCHEMA)


def video_near_dup(
    seqs: DataFrame,
    max_dist: int = 4,
    n_bands: int = 8,
    min_frac: float = 0.8,
    id_col: str = "media_id",
) -> DataFrame:
    """Near-duplicate video pairs: candidates from a banded-hamming
    join on (frame position, hash band) -- two videos become a
    candidate the moment ANY aligned frame pair shares a band -- then
    verified positionally: the pair survives if >= ``min_frac`` of the
    shorter video's frames are within ``max_dist`` of the other's
    frame AT THE SAME POSITION.

    Same pigeonhole recall as :func:`phash_near_dup` per frame
    (complete for frame distance < ``n_bands``), and candidate volume
    is O(frames x bands) with buckets keyed by (position, band) -- a
    popular-but-unrelated hash value at different positions never
    joins.  Returns (id_a, id_b, matched, frames, frac)."""
    if max_dist >= n_bands:
        raise ValueError(
            f"max_dist={max_dist} needs n_bands>{max_dist} for exact recall"
        )
    width = 64 // n_bands
    mask = (1 << width) - 1
    frames = seqs.select(
        F.col(id_col),
        F.size("frame_hashes").alias("n_frames"),
        F.posexplode("frame_hashes").alias("fidx", "fh"),
    )
    bands = F.array(
        *[
            F.struct(
                F.lit(i).alias("band_idx"),
                F.shiftrightunsigned(F.col("fh"), i * width)
                .bitwiseAND(F.lit(mask))
                .alias("band_val"),
            )
            for i in range(n_bands)
        ]
    )
    keyed = frames.select(
        id_col, "n_frames", "fidx", "fh", F.explode(bands).alias("b")
    ).select(id_col, "n_frames", "fidx", "fh", "b.band_idx", "b.band_val")
    left = keyed.select(
        F.col(id_col).alias("id_a"),
        F.col("n_frames").alias("nf_a"),
        "fidx",
        F.col("fh").alias("fh_a"),
        "band_idx",
        "band_val",
    )
    right = keyed.select(
        F.col(id_col).alias("id_b"),
        F.col("n_frames").alias("nf_b"),
        "fidx",
        F.col("fh").alias("fh_b"),
        "band_idx",
        "band_val",
    )
    cand = (
        left.join(right, ["fidx", "band_idx", "band_val"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "nf_a", "nf_b", "fidx", "fh_a", "fh_b")
        .distinct()
    )
    close = F.bit_count(F.col("fh_a").bitwiseXOR(F.col("fh_b"))) <= F.lit(max_dist)
    agg = cand.groupBy("id_a", "id_b").agg(
        F.sum(close.cast("int")).alias("matched"),
        F.least(F.first("nf_a"), F.first("nf_b")).alias("frames"),
    )
    frac = F.col("matched") / F.col("frames")
    return agg.select(
        "id_a", "id_b", "matched", "frames", frac.alias("frac")
    ).filter(frac >= F.lit(min_frac))


def perceptual_hashes(media: DataFrame, decode: str = "auto") -> DataFrame:
    """Modality-dispatched perceptual hash: ONE decode pass yielding a
    64-bit signature per row -- image -> DCT pHash, audio -> spectral
    fingerprint, video -> pHash of the FIRST frame (robust to
    re-encode/noise; a leading-frames trim evades it -- use
    :func:`video_hash_seq` for the full positional sequence).  Rows
    that parse as none of the real formats yield NULL under
    ``decode='auto'`` and raise otherwise."""

    def _one(payload, declared: str):
        b = bytes(payload) if payload is not None else None
        try:
            return "image", phash_bits(decode_image(b))
        except (ValueError, TypeError):
            pass
        try:
            samples, _r, _c = decode_wav(b)
            return "audio", audio_fingerprint_bits(samples)
        except (ValueError, TypeError):
            pass
        try:
            frames, _fps = decode_avi(b)
            if frames.shape[0]:
                return "video", phash_bits(frames[0])
        except (ValueError, TypeError):
            pass
        if decode != "auto":
            raise ValueError(f"payload decodes as no supported format ({declared})")
        return None, None

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            mods, hashes = [], []
            for payload, declared in zip(pdf["payload"], pdf["media_type"]):
                m, h = _one(payload, declared)
                mods.append(m)
                hashes.append(h)
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "modality": mods,
                    "phash": hashes,
                }
            )

    return media.mapInPandas(
        batches,
        T.StructType(
            [
                T.StructField("media_id", T.LongType(), False),
                T.StructField("modality", T.StringType(), True),
                T.StructField("phash", T.LongType(), True),
            ]
        ),
    )
