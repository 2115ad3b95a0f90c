"""Pure-Python/numpy still-image and audio codecs.

The container has no PIL/libvips/ffmpeg, but several real formats are
decodable from public specs with nothing beyond the stdlib and numpy:

- PNG  (zlib inflate + per-row unfiltering, RFC 2083) — 8-bit depth,
  color types 0 (gray), 2 (RGB), 4 (gray+alpha), 6 (RGBA),
  non-interlaced;
- JPEG (baseline-sequential JFIF, ITU-T T.81 — Huffman + IDCT with
  4:4:4/4:2:2/4:2:0 sampling and restart markers; see
  ``functions/jpeg.py``);
- BMP  (BITMAPINFOHEADER, 24-bit uncompressed, bottom-up rows);
- PPM/PGM (netpbm P5/P6 binary, maxval 255);
- WAV  (stdlib ``wave``, 16-bit PCM).

Every codec decodes real bytes (pixels/samples out, verified
round-trip in tests). No catalog query calls this module. When PIL is installed
it is used as a fallback for formats outside this set (WebP/...;
progressive JPEG decodes natively since r6); see
:func:`sniff_format` / :func:`decode_image`.

Everything here is per-payload numpy work with no Spark-side state,
so it can run inside an Arrow-batched ``mapInPandas`` kernel.
"""

from __future__ import annotations

import functools
import io
import struct
import wave
import zlib

import numpy as np

# Exception types a truncated/malformed payload can surface from the
# spec decoders: short numpy buffers and bit-reader overruns raise
# IndexError, short struct.unpack_from raises struct.error, a cut IDAT
# stream raises zlib.error, stdlib wave raises wave.Error/EOFError —
# and, found by the decoder fuzz, bare RuntimeError from wave/chunk on
# certain malformed headers (RecursionError from adversarially nested
# RIFF lists is the same family: within these pure from-spec parsers
# any RuntimeError is input-induced, so quarantining it is correct).
# A truncated DHT segment raises StopIteration while building the
# Huffman table, and a corrupt entropy stream can hit a code absent
# from that table (KeyError).
_MALFORMED_EXC = (
    IndexError,
    KeyError,
    StopIteration,
    struct.error,
    zlib.error,
    EOFError,
    wave.Error,
    RuntimeError,
)


def quarantineable(fn):
    """Normalize malformed/truncated-payload failures to ValueError.

    Decode kernels quarantine bad payloads by catching ValueError; a
    truncated JPEG escaping as IndexError (or AVI as struct.error, PNG
    as zlib.error) would kill the whole mapInPandas task instead of
    nulling the row (ADVICE r4). Every public decode entry point wears
    this wrapper so "malformed input" has exactly one exception type.
    """

    @functools.wraps(fn)
    def wrapper(*args, **kwargs):
        try:
            return fn(*args, **kwargs)
        except _MALFORMED_EXC as e:
            raise ValueError(
                f"malformed payload in {fn.__name__}: "
                f"{type(e).__name__}: {e}"
            ) from e

    return wrapper


PNG_SIGNATURE = b"\x89PNG\r\n\x1a\n"

_PNG_CHANNELS = {0: 1, 2: 3, 4: 2, 6: 4}


def sniff_format(payload: bytes) -> str:
    """Identify a payload by magic bytes. Returns 'png' | 'jpg' |
    'bmp' | 'ppm' | 'pgm' | 'wav' | 'unknown'."""
    if payload.startswith(PNG_SIGNATURE):
        return "png"
    if payload.startswith(b"\xff\xd8\xff"):
        return "jpg"
    if payload.startswith(b"BM") and len(payload) >= 54:
        return "bmp"
    if payload.startswith(b"P6"):
        return "ppm"
    if payload.startswith(b"P5"):
        return "pgm"
    if payload[:4] == b"RIFF" and payload[8:12] == b"WAVE":
        return "wav"
    return "unknown"


# ---------------------------------------------------------------------------
# PNG
# ---------------------------------------------------------------------------


def _paeth(a: np.ndarray, b: np.ndarray, c: np.ndarray) -> np.ndarray:
    """Paeth predictor (PNG filter type 4), vectorized over a row."""
    ai, bi, ci = (x.astype(np.int16) for x in (a, b, c))
    p = ai + bi - ci
    pa, pb, pc = np.abs(p - ai), np.abs(p - bi), np.abs(p - ci)
    out = np.where((pa <= pb) & (pa <= pc), a, np.where(pb <= pc, b, c))
    return out.astype(np.uint8)


@quarantineable
def decode_png(payload: bytes) -> np.ndarray:
    """Decode a non-interlaced 8-bit PNG to (h, w, channels) uint8.

    Implements the spec directly: chunk walk → IDAT concat → zlib
    inflate → per-row unfiltering (types 0-4). Raises ValueError on
    unsupported variants (16-bit, palette, interlaced).
    """
    if not payload.startswith(PNG_SIGNATURE):
        raise ValueError("not a PNG")
    pos, width = len(PNG_SIGNATURE), 0
    height = bit_depth = color_type = interlace = 0
    idat = bytearray()
    while pos + 8 <= len(payload):
        (length,) = struct.unpack(">I", payload[pos : pos + 4])
        ctype = payload[pos + 4 : pos + 8]
        data = payload[pos + 8 : pos + 8 + length]
        pos += 12 + length  # length + type + data + crc
        if ctype == b"IHDR":
            width, height, bit_depth, color_type, _, _, interlace = struct.unpack(
                ">IIBBBBB", data
            )
        elif ctype == b"IDAT":
            idat.extend(data)
        elif ctype == b"IEND":
            break
    if bit_depth != 8 or color_type not in _PNG_CHANNELS or interlace:
        raise ValueError(
            f"unsupported PNG (depth={bit_depth}, color={color_type}, "
            f"interlace={interlace})"
        )
    channels = _PNG_CHANNELS[color_type]
    raw = zlib.decompress(bytes(idat))
    stride = width * channels
    if len(raw) != height * (stride + 1):
        raise ValueError("corrupt PNG: wrong decompressed size")
    out = np.zeros((height, stride), dtype=np.uint8)
    bpp = channels  # bytes per pixel at depth 8
    for y in range(height):
        ftype = raw[y * (stride + 1)]
        row = np.frombuffer(
            raw, dtype=np.uint8, count=stride, offset=y * (stride + 1) + 1
        ).copy()
        prev = out[y - 1] if y else np.zeros(stride, dtype=np.uint8)
        if ftype == 0:
            out[y] = row
        elif ftype == 1:  # Sub: sequential in x (mod-256 per spec)
            out[y] = row
            for x in range(bpp, stride):
                out[y, x] = (int(out[y, x]) + int(out[y, x - bpp])) & 0xFF
        elif ftype == 2:  # Up
            out[y] = row + prev
        elif ftype == 3:  # Average
            out[y, :bpp] = row[:bpp] + (prev[:bpp] // 2)
            for x in range(bpp, stride):
                out[y, x] = (
                    int(row[x]) + (int(out[y, x - bpp]) + int(prev[x])) // 2
                ) & 0xFF
        elif ftype == 4:  # Paeth
            out[y, :bpp] = row[:bpp] + _paeth(
                np.zeros(bpp, np.uint8), prev[:bpp], np.zeros(bpp, np.uint8)
            )
            for x in range(bpp, stride):
                pred = _paeth(
                    out[y, x - bpp : x - bpp + 1],
                    prev[x : x + 1],
                    prev[x - bpp : x - bpp + 1],
                )[0]
                out[y, x] = (int(row[x]) + int(pred)) & 0xFF
        else:
            raise ValueError(f"bad PNG filter type {ftype}")
    return out.reshape(height, width, channels)


def encode_png(arr: np.ndarray, filter_type: int = 0) -> bytes:
    """Encode (h, w) or (h, w, channels) uint8 → PNG bytes.

    ``filter_type`` applies one filter to every row (0/1/2 supported —
    enough to exercise the decoder's unfilter paths in tests; real
    encoders pick per-row)."""
    arr = np.ascontiguousarray(arr, dtype=np.uint8)
    if arr.ndim == 2:
        arr = arr[:, :, None]
    h, w, channels = arr.shape
    color_type = {1: 0, 2: 4, 3: 2, 4: 6}[channels]
    flat = arr.reshape(h, w * channels)
    rows = bytearray()
    for y in range(h):
        row = flat[y]
        if filter_type == 0:
            filt = row
        elif filter_type == 1:
            filt = row.copy()
            filt[channels:] = row[channels:] - row[:-channels]
        elif filter_type == 2:
            prev = flat[y - 1] if y else np.zeros_like(row)
            filt = row - prev
        else:
            raise ValueError("encoder supports filter types 0/1/2")
        rows.append(filter_type)
        rows.extend(filt.tobytes())

    def chunk(ctype: bytes, data: bytes) -> bytes:
        crc = zlib.crc32(ctype + data) & 0xFFFFFFFF
        return struct.pack(">I", len(data)) + ctype + data + struct.pack(">I", crc)

    ihdr = struct.pack(">IIBBBBB", w, h, 8, color_type, 0, 0, 0)
    return (
        PNG_SIGNATURE
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(bytes(rows)))
        + chunk(b"IEND", b"")
    )


# ---------------------------------------------------------------------------
# BMP (24-bit uncompressed)
# ---------------------------------------------------------------------------


@quarantineable
def decode_bmp(payload: bytes) -> np.ndarray:
    """Decode a 24-bit uncompressed BITMAPINFOHEADER BMP → (h, w, 3)
    uint8 RGB."""
    if not payload.startswith(b"BM"):
        raise ValueError("not a BMP")
    (data_offset,) = struct.unpack_from("<I", payload, 10)
    width, height = struct.unpack_from("<ii", payload, 18)
    (bpp,) = struct.unpack_from("<H", payload, 28)
    (compression,) = struct.unpack_from("<I", payload, 30)
    if bpp != 24 or compression != 0:
        raise ValueError(f"unsupported BMP (bpp={bpp}, compression={compression})")
    flip = height > 0
    height = abs(height)
    row_size = (width * 3 + 3) & ~3  # rows padded to 4 bytes
    px = np.frombuffer(
        payload, dtype=np.uint8, count=row_size * height, offset=data_offset
    ).reshape(height, row_size)[:, : width * 3].reshape(height, width, 3)
    if flip:
        px = px[::-1]
    return px[:, :, ::-1].copy()  # BGR → RGB


def encode_bmp(arr: np.ndarray) -> bytes:
    """Encode (h, w, 3) uint8 RGB → 24-bit BMP bytes."""
    arr = np.ascontiguousarray(arr, dtype=np.uint8)
    h, w, _ = arr.shape
    row_size = (w * 3 + 3) & ~3
    body = bytearray()
    bgr = arr[:, :, ::-1]
    pad = bytes(row_size - w * 3)
    for y in range(h - 1, -1, -1):  # bottom-up
        body.extend(bgr[y].tobytes())
        body.extend(pad)
    header = struct.pack(
        "<2sIHHI", b"BM", 14 + 40 + len(body), 0, 0, 14 + 40
    ) + struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(body), 2835, 2835, 0, 0)
    return header + bytes(body)


# ---------------------------------------------------------------------------
# netpbm (P5 gray / P6 RGB, binary, maxval <= 255)
# ---------------------------------------------------------------------------


@quarantineable
def decode_ppm(payload: bytes) -> np.ndarray:
    """Decode binary netpbm: P5 → (h, w, 1), P6 → (h, w, 3)."""
    magic = payload[:2]
    if magic not in (b"P5", b"P6"):
        raise ValueError("not a binary netpbm image")
    # header = magic, width, height, maxval as whitespace-separated
    # tokens (comments starting '#' allowed), then a single whitespace
    # byte before the raster.
    tokens: list[int] = []
    pos = 2
    while len(tokens) < 3:
        while pos < len(payload) and payload[pos : pos + 1].isspace():
            pos += 1
        if payload[pos : pos + 1] == b"#":
            while pos < len(payload) and payload[pos] != 0x0A:
                pos += 1
            continue
        start = pos
        while pos < len(payload) and not payload[pos : pos + 1].isspace():
            pos += 1
        tokens.append(int(payload[start:pos]))
    pos += 1  # the single whitespace after maxval
    width, height, maxval = tokens
    if maxval > 255:
        raise ValueError("16-bit netpbm unsupported")
    channels = 3 if magic == b"P6" else 1
    return (
        np.frombuffer(payload, np.uint8, count=width * height * channels, offset=pos)
        .reshape(height, width, channels)
        .copy()
    )


def encode_ppm(arr: np.ndarray) -> bytes:
    arr = np.ascontiguousarray(arr, dtype=np.uint8)
    if arr.ndim == 2:
        arr = arr[:, :, None]
    h, w, channels = arr.shape
    magic = b"P6" if channels == 3 else b"P5"
    return magic + f"\n{w} {h}\n255\n".encode() + arr.tobytes()


# ---------------------------------------------------------------------------
# WAV (16-bit PCM via stdlib wave)
# ---------------------------------------------------------------------------


@quarantineable
def decode_wav(payload: bytes) -> dict:
    """Decode 16-bit PCM WAV → dict(samples=(n, channels) int16 array,
    sample_rate, channels, n_frames)."""
    with wave.open(io.BytesIO(payload), "rb") as wf:
        if wf.getsampwidth() != 2:
            raise ValueError("only 16-bit PCM WAV supported")
        channels, rate, n = wf.getnchannels(), wf.getframerate(), wf.getnframes()
        samples = np.frombuffer(wf.readframes(n), dtype="<i2").reshape(-1, channels)
    return {
        "samples": samples,
        "sample_rate": rate,
        "channels": channels,
        "n_frames": n,
    }


def encode_wav(samples: np.ndarray, sample_rate: int = 16000) -> bytes:
    samples = np.ascontiguousarray(samples, dtype="<i2")
    if samples.ndim == 1:
        samples = samples[:, None]
    buf = io.BytesIO()
    with wave.open(buf, "wb") as wf:
        wf.setnchannels(samples.shape[1])
        wf.setsampwidth(2)
        wf.setframerate(sample_rate)
        wf.writeframes(samples.tobytes())
    return buf.getvalue()


# ---------------------------------------------------------------------------
# Unified decode + resize
# ---------------------------------------------------------------------------


@quarantineable
def decode_image(payload: bytes) -> np.ndarray:
    """Decode any supported still-image payload → (h, w, channels)
    uint8. Falls back to PIL when installed for formats outside the
    pure set; raises ValueError otherwise."""
    fmt = sniff_format(payload)
    if fmt == "png":
        return decode_png(payload)
    if fmt == "jpg":
        from kissmetrics_to_database_spark.functions import jpeg

        return jpeg.decode_jpeg(payload)
    if fmt == "bmp":
        return decode_bmp(payload)
    if fmt in ("ppm", "pgm"):
        return decode_ppm(payload)
    try:  # optional dependency — exercised only where PIL exists
        from PIL import Image  # type: ignore

        arr = np.asarray(Image.open(io.BytesIO(payload)))
        return arr[:, :, None] if arr.ndim == 2 else arr
    except ImportError:
        raise ValueError(f"undecodable payload (format={fmt}, no PIL fallback)")


def resize_nearest(arr: np.ndarray, width: int, height: int) -> np.ndarray:
    """Nearest-neighbor resample (h, w, c) → (height, width, c) — pure
    numpy fancy indexing, the standard cheap thumbnail kernel."""
    h, w = arr.shape[:2]
    ys = (np.arange(height) * h // height).clip(0, h - 1)
    xs = (np.arange(width) * w // width).clip(0, w - 1)
    return arr[ys][:, xs]
