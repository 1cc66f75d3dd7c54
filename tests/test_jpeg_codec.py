"""Baseline JPEG codec vectors (kernels/jpeg.py): roundtrip accuracy bounds,
subsampling, marker handling, and visible fallback on unsupported files.

The container has no libjpeg/PIL, so correctness is pinned by construction:
an encoder and decoder written independently of each other's internals
(shared only the table constants), exact reconstruction cases (solid color
= pure DC), and structural assertions on the emitted marker stream.
"""
from __future__ import annotations

import struct

import numpy as np
import pytest

from pdf_parser_spark.kernels.jpeg import (
    JpegError,
    decode_jpeg,
    encode_jpeg,
    is_jpeg,
)


def test_solid_color_roundtrips_exactly():
    # a flat block is pure DC; quantization of a constant is lossless
    solid = np.full((24, 40, 3), 130, np.uint8)
    out = decode_jpeg(encode_jpeg(solid))
    assert out.shape == solid.shape
    assert int(np.abs(out.astype(int) - solid.astype(int)).max()) == 0


@pytest.mark.parametrize("subsample", [False, True])
def test_smooth_gradient_within_bounds(subsample):
    smooth = np.tile(
        np.linspace(30, 220, 64, dtype=np.uint8)[None, :, None], (48, 1, 3)
    )
    out = decode_jpeg(encode_jpeg(smooth, subsample=subsample))
    assert out.shape == smooth.shape
    err = np.abs(out.astype(int) - smooth.astype(int)).mean()
    assert err < 4.0, err


@pytest.mark.parametrize("shape", [(8, 8), (5, 7), (33, 50), (17, 64)])
def test_odd_dimensions_roundtrip(shape):
    rng = np.random.RandomState(11)
    rgb = rng.randint(0, 256, size=(*shape, 3), dtype=np.uint8)
    for sub in (False, True):
        out = decode_jpeg(encode_jpeg(rgb, subsample=sub))
        assert out.shape == rgb.shape


def test_marker_stream_structure():
    data = encode_jpeg(np.zeros((8, 8, 3), np.uint8))
    assert is_jpeg(data) and data[-2:] == b"\xff\xd9"
    # SOI, APP0(JFIF), 2x DQT, SOF0, 2x DHT, SOS present in order
    for marker in (b"\xff\xe0JFIF"[:2], b"\xff\xdb", b"\xff\xc0", b"\xff\xc4", b"\xff\xda"):
        assert marker in data
    # SOF0 carries the dimensions
    i = data.index(b"\xff\xc0")
    prec, h, w, nc = struct.unpack(">BHHB", data[i + 4 : i + 10])
    assert (prec, h, w, nc) == (8, 8, 8, 3)


def test_arithmetic_sof_raises():
    data = bytearray(encode_jpeg(np.zeros((8, 8, 3), np.uint8)))
    i = bytes(data).index(b"\xff\xc0")
    data[i + 1] = 0xC9  # SOF9: arithmetic sequential
    with pytest.raises(JpegError, match="arithmetic") as ei:
        decode_jpeg(bytes(data))
    assert ei.value.status == "unsupported_format"


def test_truncated_jpeg_flags_fallback():
    from pdf_parser_spark.kernels.images import decode_image_status

    good = encode_jpeg(np.full((16, 16, 3), 77, np.uint8))
    arr, status = decode_image_status(good)
    # DC of 77 quantizes on a .5 boundary -> off-by-one is correct lossy
    assert status == "ok" and arr.shape == (16, 16, 3)
    assert abs(int(arr[0, 0, 0]) - 77) <= 1
    arr, status = decode_image_status(good[: len(good) // 2])
    assert status != "ok"  # fabricated pixels, visibly flagged


def test_large_entropy_stream_decodes_in_linear_time():
    # noise image -> ~230 KB entropy stream; before the accumulator-masking
    # fix the bit reader was quadratic (measured ~20 s at 105 KB) and this
    # would take minutes. Linear decode is ~1 s; 15 s is a generous ceiling
    # even on the noisy shared host.
    import time

    rng = np.random.RandomState(7)
    rgb = rng.randint(0, 256, size=(384, 384, 3), dtype=np.uint8)
    data = encode_jpeg(rgb)
    assert len(data) > 100_000
    t0 = time.time()
    out = decode_jpeg(data)
    assert out.shape == rgb.shape
    assert time.time() - t0 < 15.0


def test_fill_bytes_before_marker_are_skipped():
    # B.1.1.2: any number of 0xFF fill bytes may precede a marker id
    data = encode_jpeg(np.full((16, 16, 3), 90, np.uint8))
    i = data.index(b"\xff\xc0")
    padded = data[:i] + b"\xff\xff\xff" + data[i:]  # 3 fill bytes before SOF0
    out = decode_jpeg(padded)
    assert out.shape == (16, 16, 3)
    assert abs(int(out[0, 0, 0]) - 90) <= 1


def test_unscanned_components_raise_visibly():
    # a lone Y scan against a 3-component frame must fall back (raise),
    # not silently return gray-replicated RGB from the Y scan alone
    data = encode_jpeg(np.full((8, 8, 3), 120, np.uint8))
    i = data.index(b"\xff\xda")
    ns = data[i + 4]
    assert ns == 3
    cid = data[i + 5]
    one_comp_sos = b"\xff\xda" + struct.pack(">H", 8) + bytes([1, cid, 0x00, 0, 63, 0])
    sos_len = struct.unpack(">H", data[i + 2 : i + 4])[0]
    spliced = data[:i] + one_comp_sos + data[i + 2 + sos_len :]
    with pytest.raises(JpegError, match="never scanned"):
        decode_jpeg(spliced)


def test_subsampled_chroma_still_carries_color():
    rgb = np.zeros((16, 16, 3), np.uint8)
    rgb[:, :, 0] = 200  # red field
    out = decode_jpeg(encode_jpeg(rgb, subsample=True))
    mean = out.reshape(-1, 3).mean(axis=0)
    assert mean[0] > 150 and mean[1] < 80 and mean[2] < 80, mean


# ------------------------------------------------- progressive / multi-scan ---

def _rand_img(seed, h, w):
    return np.random.default_rng(seed).integers(0, 256, (h, w, 3), dtype=np.uint8)


@pytest.mark.parametrize("subsample", [False, True])
def test_progressive_default_script_matches_baseline(subsample):
    """encode_jpeg and encode_jpeg_progressive quantize identically, so the
    decoded pixels must be byte-identical — any desync in the Annex-G
    spectral-selection / successive-approximation machinery breaks this."""
    from pdf_parser_spark.kernels.jpeg import encode_jpeg_progressive

    img = _rand_img(7, 37, 29)
    base = decode_jpeg(encode_jpeg(img, subsample=subsample))
    prog = decode_jpeg(encode_jpeg_progressive(img, subsample=subsample))
    assert np.array_equal(base, prog)


@pytest.mark.parametrize(
    "script",
    [
        # spectral selection only (no successive approximation)
        [((0, 1, 2), 0, 0, 0, 0), ((0,), 1, 63, 0, 0),
         ((1,), 1, 63, 0, 0), ((2,), 1, 63, 0, 0)],
        # banded luma + 2-level successive approximation
        [((0, 1, 2), 0, 0, 0, 1),
         ((0,), 1, 5, 0, 2), ((0,), 6, 63, 0, 2),
         ((1,), 1, 63, 0, 1), ((2,), 1, 63, 0, 1),
         ((0,), 1, 63, 2, 1), ((0, 1, 2), 0, 0, 1, 0),
         ((0,), 1, 63, 1, 0), ((1,), 1, 63, 1, 0), ((2,), 1, 63, 1, 0)],
        # deep SA ladder on everything
        [((0, 1, 2), 0, 0, 0, 3),
         ((0,), 1, 63, 0, 3), ((1,), 1, 63, 0, 3), ((2,), 1, 63, 0, 3),
         ((0, 1, 2), 0, 0, 3, 2), ((0, 1, 2), 0, 0, 2, 1), ((0, 1, 2), 0, 0, 1, 0),
         ((0,), 1, 63, 3, 2), ((0,), 1, 63, 2, 1), ((0,), 1, 63, 1, 0),
         ((1,), 1, 63, 3, 2), ((1,), 1, 63, 2, 1), ((1,), 1, 63, 1, 0),
         ((2,), 1, 63, 3, 2), ((2,), 1, 63, 2, 1), ((2,), 1, 63, 1, 0)],
    ],
)
def test_progressive_scripts_match_baseline(script):
    from pdf_parser_spark.kernels.jpeg import encode_jpeg_progressive

    for seed, (h, w) in [(1, (16, 16)), (2, (9, 23)), (3, (1, 1)), (4, (41, 8))]:
        img = _rand_img(seed, h, w)
        base = decode_jpeg(encode_jpeg(img))
        prog = decode_jpeg(encode_jpeg_progressive(img, script=script))
        assert np.array_equal(base, prog), (seed, h, w)


def test_progressive_one_component_dc_scans_subsampled():
    """A one-component DC scan walks that component's own block grid
    (T.81 A.2.2), not the MCU grid: with 4:2:0 the two differ for luma,
    and a writer that walked MCUs would place luma DC values in the wrong
    blocks."""
    from pdf_parser_spark.kernels.jpeg import encode_jpeg_progressive

    script = [((0,), 0, 0, 0, 0), ((1, 2), 0, 0, 0, 0),
              ((0,), 1, 63, 0, 0), ((1,), 1, 63, 0, 0), ((2,), 1, 63, 0, 0)]
    img = _rand_img(3, 37, 45)
    base = decode_jpeg(encode_jpeg(img, subsample=True))
    prog = decode_jpeg(encode_jpeg_progressive(img, script=script, subsample=True))
    assert np.array_equal(base, prog)


def test_progressive_smooth_gradient_sparse_ac():
    """Smooth content quantizes to sparse AC blocks — the EOB-run +
    buffered-correction-bit paths get their coverage here (the bug class
    the refinement decoder actually had during development)."""
    from pdf_parser_spark.kernels.jpeg import encode_jpeg_progressive

    xx, yy = np.meshgrid(np.arange(64), np.arange(48))
    img = np.stack([(xx * 2) % 256, (yy * 3) % 256, (xx + yy) % 256], axis=2)
    img = img.astype(np.uint8)
    for sub in (False, True):
        base = decode_jpeg(encode_jpeg(img, subsample=sub))
        prog = decode_jpeg(encode_jpeg_progressive(img, subsample=sub))
        assert np.array_equal(base, prog)


def test_noninterleaved_multiscan_baseline_decodes():
    """A spec-legal baseline file with one SOS per component (T.81 A.2.2)
    must decode identically to the interleaved encoding — previously this
    raised unsupported_format. The writer makes it from a baseline script
    of one full-band scan per component; its bytes are pinned by digest."""
    import hashlib

    from pdf_parser_spark.kernels.jpeg import _write_jpeg, _ycc_planes

    img = _rand_img(11, 24, 17)
    planes, samp = _ycc_planes(img, False)
    script = [((ci,), 0, 63, 0, 0) for ci in range(3)]
    data = _write_jpeg(planes, samp, [0, 1, 1], b"", script)
    assert hashlib.md5(data).hexdigest() == "bcc27354efef51f5aa5259e73dfc972c"
    assert data.count(b"\xff\xda") == 3 and b"\xff\xc0" in data
    assert np.array_equal(decode_jpeg(data), decode_jpeg(encode_jpeg(img)))


# ------------------------------------------------------- CMYK / YCCK ---


def test_cmyk_roundtrip_both_transforms():
    """Block-aligned flat ink regions survive both Adobe transforms: pure
    cyan reads back as (0,255,255)-ish, bare paper as white."""
    from pdf_parser_spark.kernels.jpeg import decode_jpeg, encode_jpeg_cmyk

    ink = np.zeros((16, 16, 4), dtype=np.uint8)
    ink[:, :8] = (255, 0, 0, 0)  # pure cyan ink
    for ycck in (False, True):
        data = encode_jpeg_cmyk(ink, ycck=ycck)
        assert data == encode_jpeg_cmyk(ink, ycck=ycck)  # deterministic
        rgb = decode_jpeg(data)
        assert rgb.shape == (16, 16, 3)
        assert (np.abs(rgb[:, 8:].astype(int) - 255) <= 4).all()  # white half
        assert (rgb[:, :8, 0].astype(int) <= 6).all()  # cyan: R ~ 0
        assert (np.abs(rgb[:, :8, 1:].astype(int) - 255) <= 6).all()


def test_cmyk_pure_black_ink():
    from pdf_parser_spark.kernels.jpeg import decode_jpeg, encode_jpeg_cmyk

    ink = np.zeros((8, 8, 4), dtype=np.uint8)
    ink[:, :, 3] = 255  # K only
    for ycck in (False, True):
        assert (decode_jpeg(encode_jpeg_cmyk(ink, ycck=ycck)).astype(int) <= 4).all()


def test_cmyk_without_app14_reads_plain_ink():
    """Stripping the Adobe marker flips the interpretation: transform-0
    storage is 255-ink, and a markerless 4-component file is read as plain
    ink — so encoded bare paper (ink 0) decodes as near-black."""
    from pdf_parser_spark.kernels.jpeg import decode_jpeg, encode_jpeg_cmyk

    ink = np.zeros((8, 8, 4), dtype=np.uint8)
    data = encode_jpeg_cmyk(ink)
    assert data[2:4] == b"\xff\xee" and data[6:11] == b"Adobe"
    stripped = data[:2] + data[18:]  # drop the 16-byte APP14 segment
    assert (decode_jpeg(data).astype(int) >= 251).all()  # white with marker
    assert (decode_jpeg(stripped).astype(int) <= 4).all()  # black without


def test_cmyk_through_decode_status():
    from pdf_parser_spark.kernels.images import decode_image_status
    from pdf_parser_spark.kernels.jpeg import encode_jpeg_cmyk

    ink = np.zeros((8, 8, 4), dtype=np.uint8)
    ink[:, :, 1] = 200
    arr, st = decode_image_status(encode_jpeg_cmyk(ink, ycck=True))
    assert st == "ok" and arr.shape == (8, 8, 3)


# ------------------------------------------------------- pinned output ---


def _pin_img(channels):
    """A 45x61 smooth field with a noise patch: sparse AC blocks (EOB runs,
    refinement corrections) and dense ones in one image."""
    yy, xx = np.mgrid[0:45, 0:61]
    img = np.stack([(xx * 4 + yy * (c + 1)) % 256 for c in range(channels)], axis=2)
    img[10:27, 20:41] = np.random.default_rng(5).integers(0, 256, (17, 21, channels))
    return img.astype(np.uint8)


_SPECTRAL_ONLY = [((0, 1, 2), 0, 0, 0, 0), ((0,), 1, 9, 0, 0), ((0,), 10, 63, 0, 0),
                  ((1,), 1, 63, 0, 0), ((2,), 1, 63, 0, 0)]


@pytest.mark.parametrize(
    "case, digest",
    [
        ("baseline_444", "966cba451ab8fbb9b05b2bd34309e967"),
        ("baseline_420", "9c57401a06cb4e919ca791a2af09725b"),
        ("cmyk_t0", "93a7c59fc5bf678767fdc259c768665e"),
        ("cmyk_t2", "421c07d762f4761bc948e3a613b58332"),
        ("progressive_444", "df5bd586828088290c38b9cc05cc715b"),
        ("progressive_420", "a3a374eff3484a15c719db60627c25de"),
        ("progressive_spectral_420", "3f95380490c481e16dbc6cd37ffe4daf"),
    ],
)
def test_encoder_bytes_pinned(case, digest):
    """Every encoder's output is pinned byte for byte: the three encoders
    share one scan writer, and a change to it must not move any file."""
    import hashlib

    from pdf_parser_spark.kernels.jpeg import encode_jpeg_cmyk, encode_jpeg_progressive

    rgb = _pin_img(3)
    data = {
        "baseline_444": lambda: encode_jpeg(rgb),
        "baseline_420": lambda: encode_jpeg(rgb, subsample=True),
        "cmyk_t0": lambda: encode_jpeg_cmyk(_pin_img(4)),
        "cmyk_t2": lambda: encode_jpeg_cmyk(_pin_img(4), ycck=True),
        "progressive_444": lambda: encode_jpeg_progressive(rgb),
        "progressive_420": lambda: encode_jpeg_progressive(rgb, subsample=True),
        "progressive_spectral_420": lambda: encode_jpeg_progressive(
            rgb, script=_SPECTRAL_ONLY, subsample=True),
    }[case]()
    assert hashlib.md5(data).hexdigest() == digest
