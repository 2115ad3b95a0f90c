"""Baseline JPEG codec tests (functions/jpeg.py — VERDICT r3 item 4).

The container has no image library, so the decoder is pinned three
ways: (1) math primitives against independent closed-form references
computed in the test, (2) encoder→decoder round trips with
quantization-bounded error across every structural variant the
decoder supports (gray / 4:4:4 / 4:2:0 / restart markers / non-
multiple-of-8 sizes), (3) uniform-image exactness, where the
round-trip error is provably zero.
"""

from __future__ import annotations

import math

import numpy as np
import pytest

from kissmetrics_to_database_spark.functions import codecs, jpeg


# ---------------------------------------------------------------------------
# primitives
# ---------------------------------------------------------------------------


def test_zigzag_is_the_standard_order():
    # first/last entries of the T.81 zigzag sequence, from the spec
    assert jpeg.ZIGZAG[:10].tolist() == [0, 1, 8, 16, 9, 2, 3, 10, 17, 24]
    assert jpeg.ZIGZAG[-4:].tolist() == [47, 55, 62, 63]
    assert sorted(jpeg.ZIGZAG.tolist()) == list(range(64))


def test_dct_basis_is_orthonormal_and_inverts():
    t = jpeg._T
    assert np.allclose(t @ t.T, np.eye(8), atol=1e-12)
    rng = np.random.default_rng(7)
    block = rng.uniform(-128, 127, (8, 8))
    assert np.allclose(jpeg.idct2(jpeg.fdct2(block)), block, atol=1e-9)


def test_fdct_matches_direct_cosine_sum():
    # independent reference: the textbook DCT-II double sum
    rng = np.random.default_rng(3)
    block = rng.uniform(-128, 127, (8, 8))
    ref = np.zeros((8, 8))
    for u in range(8):
        for v in range(8):
            cu = math.sqrt(0.125) if u == 0 else 0.5
            cv = math.sqrt(0.125) if v == 0 else 0.5
            s = sum(
                block[x, y]
                * math.cos((2 * x + 1) * u * math.pi / 16)
                * math.cos((2 * y + 1) * v * math.pi / 16)
                for x in range(8)
                for y in range(8)
            )
            ref[u, v] = cu * cv * s
    assert np.allclose(jpeg.fdct2(block), ref, atol=1e-9)


def test_huffman_canonical_codes():
    # counts/symbols → canonical (length, code) → symbol, per Annex C
    table = jpeg._build_huffman(
        [0, 1, 5, 1] + [0] * 12, [4, 0, 1, 2, 3, 5, 6]
    )
    # 1 code of len 2 (symbol 4), then 5 codes of len 3 assigned to
    # symbols 0,1,2,3,5 in listed order, then 1 code of len 4
    assert table[(2, 0b00)] == 4
    assert table[(3, 0b010)] == 0
    assert table[(3, 0b101)] == 3
    assert table[(3, 0b110)] == 5
    assert table[(4, 0b1110)] == 6


# ---------------------------------------------------------------------------
# round trips
# ---------------------------------------------------------------------------


def _gradient(h, w, channels):
    y = np.linspace(0, 255, h)[:, None]
    x = np.linspace(0, 255, w)[None, :]
    base = (y + x) / 2
    if channels == 1:
        return base.astype(np.uint8)[:, :, None]
    return np.stack(
        [base, base[::-1], np.full((h, w), 96.0)], axis=2
    ).astype(np.uint8)


def test_uniform_gray_roundtrip_is_near_exact():
    img = np.full((16, 16, 1), 200, np.uint8)
    out = jpeg.decode_jpeg(jpeg.encode_jpeg(img, q=4))
    assert out.shape == (16, 16, 1)
    assert int(np.abs(out.astype(int) - 200).max()) <= 2


def test_gray_gradient_roundtrip():
    img = _gradient(24, 40, 1)
    out = jpeg.decode_jpeg(jpeg.encode_jpeg(img, q=2))
    assert out.shape == img.shape
    err = np.abs(out.astype(int) - img.astype(int))
    assert err.mean() < 2.0 and err.max() <= 12


def test_rgb_444_roundtrip():
    img = _gradient(32, 24, 3)
    out = jpeg.decode_jpeg(jpeg.encode_jpeg(img, q=2, subsampling="444"))
    assert out.shape == img.shape
    err = np.abs(out.astype(int) - img.astype(int))
    # color transform + quantization; smooth image stays close
    assert err.mean() < 3.0 and err.max() <= 16


def test_rgb_420_roundtrip_exercises_subsampled_path():
    img = _gradient(32, 32, 3)
    payload = jpeg.encode_jpeg(img, q=2, subsampling="420")
    out = jpeg.decode_jpeg(payload)
    assert out.shape == img.shape
    err = np.abs(out.astype(int) - img.astype(int))
    # chroma is 2x2-averaged then nearest-upsampled: smooth gradients
    # bound the extra error tightly
    assert err.mean() < 4.0 and err.max() <= 24


def test_non_multiple_of_8_dimensions_crop_correctly():
    img = _gradient(13, 21, 3)
    out = jpeg.decode_jpeg(jpeg.encode_jpeg(img, q=2))
    assert out.shape == (13, 21, 3)


def test_restart_interval_decodes_identically():
    img = _gradient(32, 48, 3)
    plain = jpeg.decode_jpeg(jpeg.encode_jpeg(img, q=2))
    rst = jpeg.decode_jpeg(jpeg.encode_jpeg(img, q=2, restart_interval=3))
    assert np.array_equal(plain, rst)


def test_noise_image_roundtrip_quantization_bound():
    # worst-case content: uniform noise; error still bounded by the
    # flat quantization step propagated through the orthonormal IDCT
    rng = np.random.default_rng(11)
    img = rng.integers(0, 256, (16, 16, 1), dtype=np.uint8)
    out = jpeg.decode_jpeg(jpeg.encode_jpeg(img, q=2))
    err = np.abs(out.astype(int) - img.astype(int))
    # |error per coefficient| <= q/2 = 1 → spatial error <= 8*1 hard
    # bound per pixel (row+col basis sums), loose but content-free
    assert err.max() <= 16


# ---------------------------------------------------------------------------
# format handling
# ---------------------------------------------------------------------------


def test_sniff_and_unified_decode_dispatch():
    img = _gradient(8, 8, 3)
    payload = jpeg.encode_jpeg(img, q=2)
    assert codecs.sniff_format(payload) == "jpg"
    assert codecs.decode_image(payload).shape == (8, 8, 3)


def test_invalid_streams_raise():
    # r6: SOF2 is now SUPPORTED — but a baseline stream merely
    # relabelled as progressive has an invalid progressive scan
    # header (a full-band Ss=0..Se=63 scan is illegal in Annex G)
    img = _gradient(8, 8, 1)
    payload = bytearray(jpeg.encode_jpeg(img, q=2))
    sof = payload.find(b"\xff\xc0")
    payload[sof + 1] = 0xC2  # rewrite SOF0 → SOF2 (progressive)
    with pytest.raises(ValueError, match="Se=0"):
        jpeg.decode_jpeg(bytes(payload))
    payload[sof + 1] = 0xC9  # SOF9: arithmetic coding — unsupported
    with pytest.raises(ValueError, match="unsupported JPEG type"):
        jpeg.decode_jpeg(bytes(payload))
    with pytest.raises(ValueError):
        jpeg.decode_jpeg(b"\xff\xd8\xff\xe0junk")
    with pytest.raises(ValueError, match="SOI"):
        jpeg.decode_jpeg(b"not a jpeg")


# ---------------------------------------------------------------------------
# progressive (SOF2) decode — r6
# ---------------------------------------------------------------------------


class TestProgressive:
    def _rt(self, img, q=4, sub="444"):
        base = jpeg.decode_jpeg(jpeg.encode_jpeg(img, q=q, subsampling=sub))
        prog = jpeg.decode_jpeg(
            jpeg.encode_jpeg_progressive(img, q=q, subsampling=sub)
        )
        return base, prog

    def test_bit_identical_to_baseline_gray(self):
        base, prog = self._rt(_gradient(37, 29, 1))
        assert np.array_equal(base, prog)

    def test_bit_identical_to_baseline_rgb_444_and_420(self):
        rng = np.random.default_rng(3)
        img = np.clip(rng.normal(128, 50, (45, 37, 3)), 0, 255).astype(
            np.uint8
        )
        for sub in ("444", "420"):
            base, prog = self._rt(img, q=4, sub=sub)
            assert np.array_equal(base, prog), sub

    def test_sparse_blocks_exercise_eob_runs(self):
        # flat background + isolated dots: most blocks have empty AC
        # bands, so the encoder emits multi-block EOBn runs and the
        # decoder's eobrun>0 paths (first AND refinement) must walk
        # correction bits through the skipped blocks
        img = np.full((64, 96), 128, np.uint8)
        img[5, 7] = 255
        img[40, 80] = 0
        base, prog = self._rt(img[:, :, None], q=8)
        assert np.array_equal(base, prog)

    def test_flat_image_giant_eobrun(self):
        base, prog = self._rt(np.full((48, 48, 3), 77, np.uint8))
        assert np.array_equal(base, prog)

    def test_checkerboard_exercises_zrl_in_band(self):
        # isolated high-frequency energy → zero runs > 15 inside the
        # wide [6, 63] band → ZRL symbols in first and refine scans
        hf = np.zeros((16, 16), np.uint8)
        hf[::2, ::2] = 255
        base, prog = self._rt(hf[:, :, None], q=2)
        assert np.array_equal(base, prog)

    def test_coarse_quant_420(self):
        rng = np.random.default_rng(4)
        img = np.clip(rng.normal(128, 60, (40, 56, 3)), 0, 255).astype(
            np.uint8
        )
        base, prog = self._rt(img, q=16, sub="420")
        assert np.array_equal(base, prog)

    def test_tiny_image(self):
        rng = np.random.default_rng(5)
        img = np.clip(rng.normal(128, 60, (3, 5, 3)), 0, 255).astype(np.uint8)
        base, prog = self._rt(img)
        assert np.array_equal(base, prog)

    def test_truncated_progressive_raises(self):
        rng = np.random.default_rng(6)
        img = np.clip(rng.normal(128, 60, (24, 24, 3)), 0, 255).astype(
            np.uint8
        )
        full = jpeg.encode_jpeg_progressive(img, q=4)
        for cut in (len(full) // 2, len(full) - 30):
            with pytest.raises(ValueError):
                jpeg.decode_jpeg(full[:cut])

    def test_decode_image_dispatches_progressive(self):
        img = _gradient(16, 16, 3)
        payload = jpeg.encode_jpeg_progressive(img, q=2)
        assert codecs.sniff_format(payload) == "jpg"
        out = codecs.decode_image(payload)
        assert out.shape == (16, 16, 3)
