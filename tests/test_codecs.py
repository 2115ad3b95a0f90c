"""Real-codec tests: PNG/BMP/PPM/WAV round-trips through the pure
numpy+stdlib decoders, and the decoders' quarantine contract
(success or ValueError) on fuzzed payloads.
"""

from __future__ import annotations

import importlib.util

import numpy as np
import pytest

from kissmetrics_to_database_spark.functions import codecs

RNG = np.random.default_rng(42)


def random_image(h, w, channels):
    return RNG.integers(0, 256, size=(h, w, channels), dtype=np.uint8)


@pytest.mark.parametrize("channels,filter_type", [
    (1, 0), (1, 1), (1, 2),
    (3, 0), (3, 1), (3, 2),
    (4, 0), (4, 1), (4, 2),
    (2, 0), (2, 1), (2, 2),
])
def test_png_roundtrip(channels, filter_type):
    img = random_image(13, 9, channels)
    blob = codecs.encode_png(img, filter_type=filter_type)
    out = codecs.decode_png(blob)
    assert out.shape == img.shape
    assert (out == img).all()


def test_png_unfilter_avg_paeth_against_reference_encoder():
    """Filters 3/4 aren't produced by our encoder; verify the decoder's
    avg/paeth paths against a hand-built raw stream (spec formulas
    applied in reverse)."""
    img = random_image(6, 5, 3)
    h, w, c = img.shape
    flat = img.reshape(h, w * c).astype(np.int16)
    raw = bytearray()
    for y in range(h):
        prev = flat[y - 1] if y else np.zeros(w * c, np.int16)
        row = flat[y]
        ftype = 3 if y % 2 == 0 else 4
        raw.append(ftype)
        for x in range(w * c):
            left = row[x - c] if x >= c else 0
            up = prev[x]
            ul = prev[x - c] if x >= c else 0
            if ftype == 3:
                pred = (int(left) + int(up)) // 2
            else:
                p = int(left) + int(up) - int(ul)
                pa, pb, pc = abs(p - left), abs(p - up), abs(p - ul)
                pred = left if pa <= pb and pa <= pc else (up if pb <= pc else ul)
            raw.append((int(row[x]) - int(pred)) % 256)
    import struct
    import zlib

    def chunk(ctype, data):
        crc = zlib.crc32(ctype + data) & 0xFFFFFFFF
        return struct.pack(">I", len(data)) + ctype + data + struct.pack(">I", crc)

    blob = (
        codecs.PNG_SIGNATURE
        + chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0))
        + chunk(b"IDAT", zlib.compress(bytes(raw)))
        + chunk(b"IEND", b"")
    )
    assert (codecs.decode_png(blob) == img).all()


def test_bmp_roundtrip_including_row_padding():
    img = random_image(7, 5, 3)  # 5*3=15 bytes/row → 1 pad byte
    assert (codecs.decode_bmp(codecs.encode_bmp(img)) == img).all()


@pytest.mark.parametrize("channels", [1, 3])
def test_ppm_roundtrip(channels):
    img = random_image(4, 6, channels)
    assert (codecs.decode_ppm(codecs.encode_ppm(img)) == img).all()


def test_ppm_header_comment():
    img = random_image(2, 3, 3)
    blob = codecs.encode_ppm(img)
    commented = b"P6\n# a comment\n3 2\n255\n" + blob.split(b"255\n", 1)[1]
    assert (codecs.decode_ppm(commented) == img).all()


def test_wav_roundtrip():
    samples = RNG.integers(-30000, 30000, size=(800, 2)).astype(np.int16)
    blob = codecs.encode_wav(samples, sample_rate=8000)
    d = codecs.decode_wav(blob)
    assert d["sample_rate"] == 8000
    assert d["channels"] == 2
    assert d["n_frames"] == 800
    assert (d["samples"] == samples).all()


def test_sniff_format():
    img = random_image(2, 2, 3)
    assert codecs.sniff_format(codecs.encode_png(img)) == "png"
    assert codecs.sniff_format(codecs.encode_bmp(img)) == "bmp"
    assert codecs.sniff_format(codecs.encode_ppm(img)) == "ppm"
    assert codecs.sniff_format(codecs.encode_ppm(img[:, :, :1])) == "pgm"
    wav = codecs.encode_wav(np.zeros(10, np.int16))
    assert codecs.sniff_format(wav) == "wav"
    from kissmetrics_to_database_spark.functions import jpeg

    assert codecs.sniff_format(b"\xff\xd8\xff junk") == "jpg"
    assert codecs.sniff_format(jpeg.encode_jpeg(img)) == "jpg"
    assert codecs.sniff_format(b"GIF89a...") == "unknown"


def test_resize_nearest():
    img = random_image(8, 8, 3)
    out = codecs.resize_nearest(img, 4, 2)
    assert out.shape == (2, 4, 3)
    assert (out[0, 0] == img[0, 0]).all()
    up = codecs.resize_nearest(img, 16, 16)
    assert up.shape == (16, 16, 3)
    assert (up[::2, ::2] == img).all()


@pytest.mark.skipif(importlib.util.find_spec("PIL") is None, reason="PIL absent")
def test_png_decoder_matches_pil():
    from PIL import Image
    import io

    img = random_image(10, 7, 3)
    blob = codecs.encode_png(img, filter_type=1)
    assert (np.asarray(Image.open(io.BytesIO(blob))) == img).all()


def test_decoder_fuzz_quarantine_contract():
    """The quarantine contract, fuzzed: EVERY decode entry point
    either succeeds or raises ValueError on arbitrary byte garbage —
    never IndexError/struct.error/zlib.error/StopIteration etc.
    (those would kill a whole mapInPandas task at scale). Seeds
    include valid-magic prefixes so the fuzz reaches deep into each
    parser, plus mutated valid payloads."""
    import numpy as np

    from kissmetrics_to_database_spark.functions import codecs, jpeg

    rng = np.random.default_rng(1234)
    img = rng.integers(0, 256, (12, 14, 3)).astype(np.uint8)
    valid = [
        codecs.encode_png(img),
        jpeg.encode_jpeg(img, q=4),
        codecs.encode_bmp(img),
        codecs.encode_ppm(img),
        codecs.encode_wav(rng.integers(-500, 500, (300, 1)).astype("<i2")),
    ]
    magics = [
        b"\x89PNG\r\n\x1a\n", b"\xff\xd8\xff", b"BM", b"P6\n", b"P5\n",
        b"RIFF????WAVE", b"RIFF????AVI ", b"YUV4MPEG2 ",
    ]
    decoders = [
        codecs.decode_image, codecs.decode_png, codecs.decode_bmp,
        codecs.decode_ppm, codecs.decode_wav, jpeg.decode_jpeg,
    ]
    payloads = []
    for _ in range(40):
        n = int(rng.integers(0, 400))
        junk = bytes(rng.integers(0, 256, n, dtype=np.uint8))
        payloads.append(junk)
        payloads.append(magics[int(rng.integers(len(magics)))] + junk)
    for v in valid:  # mutate valid payloads: truncate + corrupt bytes
        for _ in range(6):
            b = bytearray(v[: int(rng.integers(1, len(v) + 1))])
            for _ in range(int(rng.integers(0, 5))):
                b[int(rng.integers(len(b)))] = int(rng.integers(256))
            payloads.append(bytes(b))
    for payload in payloads:
        for dec in decoders:
            try:
                dec(payload)
            except ValueError:
                pass  # the contract: ValueError or success, nothing else
