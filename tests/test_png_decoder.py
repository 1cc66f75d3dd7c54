"""PNG decoder vectors: palette (color type 3), sub-byte depths, and the
vectorized Sub filter — real-corpus shapes that previously raised and fell
back to fabricated pixels (VERDICT r02 finding #4 / next-round task 7).

Vectors are hand-assembled chunk streams (spec-by-construction, no shared
code with the decoder beyond zlib), so these are independent oracles.
"""
from __future__ import annotations

import struct
import zlib

import numpy as np
import pytest

from pdf_parser_spark.kernels.png import PngError, decode_png

SIG = b"\x89PNG\r\n\x1a\n"


def chunk(tag: bytes, body: bytes) -> bytes:
    return (
        struct.pack(">I", len(body))
        + tag
        + body
        + struct.pack(">I", zlib.crc32(tag + body) & 0xFFFFFFFF)
    )


def make_png(w, h, depth, ctype, raw_rows: bytes, plte: bytes | None = None) -> bytes:
    ihdr = struct.pack(">IIBBBBB", w, h, depth, ctype, 0, 0, 0)
    out = SIG + chunk(b"IHDR", ihdr)
    if plte is not None:
        out += chunk(b"PLTE", plte)
    out += chunk(b"IDAT", zlib.compress(raw_rows))
    return out + chunk(b"IEND", b"")


def pack_bits(values, depth):
    """Pack sample values MSB-first at the given depth into row bytes."""
    bits = []
    for v in values:
        bits += [(v >> (depth - 1 - i)) & 1 for i in range(depth)]
    while len(bits) % 8:
        bits.append(0)
    return bytes(
        sum(b << (7 - i) for i, b in enumerate(bits[k : k + 8]))
        for k in range(0, len(bits), 8)
    )


def test_palette_depth8():
    plte = bytes([255, 0, 0, 0, 255, 0, 0, 0, 255])  # red green blue
    rows = b"\x00" + bytes([0, 1, 2])  # filter 0, indices 0 1 2
    img = decode_png(make_png(3, 1, 8, 3, rows, plte))
    assert img.shape == (1, 3, 3)
    assert img.tolist() == [[[255, 0, 0], [0, 255, 0], [0, 0, 255]]]


@pytest.mark.parametrize("depth", [1, 2, 4])
def test_palette_low_depth(depth):
    n_colors = 1 << depth
    plte = bytes(v for i in range(n_colors) for v in (i * 10, i * 11, i * 12))
    idx = [i % n_colors for i in range(7)]  # 7 px: exercises row padding
    rows = b"\x00" + pack_bits(idx, depth)
    img = decode_png(make_png(7, 1, depth, 3, rows, plte))
    assert img.shape == (1, 7, 3)
    for x, i in enumerate(idx):
        assert img[0, x].tolist() == [i * 10, i * 11, i * 12]


@pytest.mark.parametrize(
    "depth,values,expected_gray",
    [
        (1, [0, 1, 1, 0, 1], [0, 255, 255, 0, 255]),
        (2, [0, 1, 2, 3, 2], [0, 85, 170, 255, 170]),
        (4, [0, 5, 15, 8, 1], [0, 85, 255, 136, 17]),
    ],
)
def test_gray_low_depth_scaling(depth, values, expected_gray):
    rows = b"\x00" + pack_bits(values, depth)
    img = decode_png(make_png(len(values), 1, depth, 0, rows))
    assert img.shape == (1, len(values), 3)
    assert img[0, :, 0].tolist() == expected_gray
    assert (img[0, :, 0] == img[0, :, 1]).all() and (img[0, :, 0] == img[0, :, 2]).all()


def test_sub_filter_vectorized_rgb():
    """Filter 1 (Sub) over RGB: decoded row must equal the prefix sum mod
    256 per channel — checked against an independently computed expected."""
    w, h = 5, 2
    deltas = np.arange(w * 3, dtype=np.uint8).reshape(w, 3) * 7
    expected_row = np.cumsum(deltas.astype(np.int64), axis=0) & 0xFF
    raw = b""
    for _ in range(h):
        raw += b"\x01" + deltas.tobytes()
    img = decode_png(make_png(w, h, 8, 2, raw))
    for r in range(h):
        assert img[r].tolist() == expected_row.tolist()


def test_up_and_paeth_filters():
    """Row 0 via Sub, row 1 via Up, row 2 via Paeth — cross-row predictors."""
    w = 4
    row0 = bytes([10, 20, 30, 40])
    raw = b"\x01" + row0  # Sub: cumsum -> 10 30 60 100
    raw += b"\x02" + bytes([1, 1, 1, 1])  # Up: 11 31 61 101
    # Paeth with a=left(decoded), b=up, c=up-left; first byte: a=c=0 -> pred=b
    raw += b"\x04" + bytes([5, 0, 0, 0])
    img = decode_png(make_png(w, 3, 8, 0, raw))
    g = img[:, :, 0]
    assert g[0].tolist() == [10, 30, 60, 100]
    assert g[1].tolist() == [11, 31, 61, 101]
    # row2: b0 = 5 + up(11) = 16; then predictors follow the spec
    assert g[2, 0] == 16


def test_palette_without_plte_raises():
    rows = b"\x00" + bytes([0])
    with pytest.raises(PngError, match="PLTE"):
        decode_png(make_png(1, 1, 8, 3, rows))


def test_palette_index_out_of_range_raises():
    plte = bytes([1, 2, 3])  # one color
    rows = b"\x00" + bytes([4])
    with pytest.raises(PngError, match="out of range"):
        decode_png(make_png(1, 1, 8, 3, rows, plte))


def test_depth16_gray_rescales():
    # samples 0x0000, 0xFFFF, 0x8000, 0x0101 -> 0, 255, v*255//65535
    rows = b"\x00" + bytes.fromhex("0000FFFF80000101")
    img = decode_png(make_png(4, 1, 16, 0, rows))
    expect = [0, 255, 0x8000 * 255 // 65535, 0x0101 * 255 // 65535]
    assert img.shape == (1, 4, 3)
    assert [int(v) for v in img[0, :, 0]] == expect
    assert (img[:, :, 0] == img[:, :, 1]).all() and (img[:, :, 0] == img[:, :, 2]).all()


def test_depth16_rgb_sub_filter():
    # 2x2 RGB16 with the Sub filter on row 0 (filter unit = 6 bytes): the
    # second pixel's stored bytes are deltas against the first
    px0 = struct.pack(">HHH", 0x1234, 0x0000, 0xFFFF)
    px1_actual = struct.pack(">HHH", 0x1244, 0x0100, 0xFFFF)
    delta = bytes((b - a) & 0xFF for a, b in zip(px0, px1_actual))
    row0 = b"\x01" + px0 + delta
    row1 = b"\x00" + struct.pack(">HHHHHH", 1, 2, 3, 4, 5, 6)
    img = decode_png(make_png(2, 2, 16, 2, row0 + row1))
    assert img.shape == (2, 2, 3)
    assert [int(v) for v in img[0, 0]] == [
        0x1234 * 255 // 65535, 0, 255]
    assert [int(v) for v in img[0, 1]] == [
        0x1244 * 255 // 65535, 0x0100 * 255 // 65535, 255]
    assert [int(v) for v in img[1, 1]] == [
        4 * 255 // 65535, 5 * 255 // 65535, 6 * 255 // 65535]


def test_depth16_rgba_drops_alpha():
    row = b"\x00" + struct.pack(">HHHH", 0xFFFF, 0x8000, 0x0000, 0x4242)
    img = decode_png(make_png(1, 1, 16, 6, row))
    assert [int(v) for v in img[0, 0]] == [255, 0x8000 * 255 // 65535, 0]


def test_malformed_png_surfaces_fallback():
    """A truncated PNG must NOT produce silently-plausible features:
    decode_image_status flags the fabricated fallback (ADVICE r02 #3)."""
    from pdf_parser_spark.kernels.images import decode_image_status
    from pdf_parser_spark.kernels.render import encode_png

    rgb = np.zeros((4, 4, 3), dtype=np.uint8)
    good = encode_png(rgb)
    arr, status = decode_image_status(good)
    assert status == "ok" and arr.shape == (4, 4, 3)
    truncated = good[: len(good) // 2]
    arr, status = decode_image_status(truncated)
    assert status != "ok"  # fabricated pixels, visibly flagged
    arr, status = decode_image_status(b"plain text payload")
    assert status != "ok"


def test_roundtrip_with_own_encoder_still_green():
    from pdf_parser_spark.kernels.render import encode_png

    rgb = (np.arange(6 * 5 * 3, dtype=np.uint8).reshape(6, 5, 3) * 3) & 0xFF
    assert (decode_png(encode_png(rgb)) == rgb).all()


# ----------------------------------------------------------------- Adam7 ---

_ADAM7 = [
    (0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
    (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2),
]


def make_png_i(w, h, depth, ctype, raw_rows: bytes, plte: bytes | None = None) -> bytes:
    """make_png with interlace=1 in IHDR."""
    ihdr = struct.pack(">IIBBBBB", w, h, depth, ctype, 0, 0, 1)
    out = SIG + chunk(b"IHDR", ihdr)
    if plte is not None:
        out += chunk(b"PLTE", plte)
    out += chunk(b"IDAT", zlib.compress(raw_rows))
    return out + chunk(b"IEND", b"")


def interlace_stream(samples: np.ndarray, depth: int) -> bytes:
    """Independent Adam7 interlacer (test-side oracle): (h, w, ch) sample
    array -> the concatenated filtered pass streams, filter 0 per row,
    per-pass row padding at sub-byte depths."""
    h, w, ch = samples.shape
    out = bytearray()
    for x0, y0, xs, ys in _ADAM7:
        sub = samples[y0::ys, x0::xs, :]
        ph, pw = sub.shape[:2]
        if ph == 0 or pw == 0:
            continue
        for r in range(ph):
            flat = sub[r].reshape(-1)
            if depth == 8:
                row = bytes(int(v) for v in flat)
            else:
                row = pack_bits([int(v) for v in flat], depth)
            out += b"\x00" + row
    return bytes(out)


def test_adam7_rgb_roundtrip():
    rng = np.random.default_rng(7)
    ref = rng.integers(0, 256, size=(9, 10, 3), dtype=np.uint8)
    png = make_png_i(10, 9, 8, 2, interlace_stream(ref.astype(np.int64), 8))
    assert np.array_equal(decode_png(png), ref)


def test_adam7_small_images_missing_passes():
    # 1x1: only pass 1 exists; 3x2: passes 1, 6 (x=1 col), 7 (y=1 row)
    for h, w in [(1, 1), (2, 3), (4, 4), (5, 8)]:
        rng = np.random.default_rng(h * 10 + w)
        ref = rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
        png = make_png_i(w, h, 8, 2, interlace_stream(ref.astype(np.int64), 8))
        assert np.array_equal(decode_png(png), ref), (h, w)


def test_adam7_gray_depth1_packed_rows():
    rng = np.random.default_rng(3)
    bits = rng.integers(0, 2, size=(11, 13, 1), dtype=np.int64)
    png = make_png_i(13, 11, 1, 0, interlace_stream(bits, 1))
    expect = np.repeat((bits * 255).astype(np.uint8), 3, axis=2)
    assert np.array_equal(decode_png(png), expect)


def test_adam7_palette_depth4():
    plte = bytes([255, 0, 0, 0, 255, 0, 0, 0, 255, 9, 9, 9])
    rng = np.random.default_rng(5)
    idx = rng.integers(0, 4, size=(9, 9, 1), dtype=np.int64)
    png = make_png_i(9, 9, 4, 3, interlace_stream(idx, 4), plte)
    pal = np.frombuffer(plte, dtype=np.uint8).reshape(-1, 3)
    assert np.array_equal(decode_png(png), pal[idx[:, :, 0]])


# ------------------------------------------------------- status taxonomy ---

def test_decode_status_taxonomy():
    from pdf_parser_spark.kernels.images import decode_image_status

    # unknown signature -> fabricated fallback
    arr, st = decode_image_status(b"just some text")
    assert st == "unknown_format"

    # 16-bit PNG decodes for REAL now
    rows = b"\x00" + struct.pack(">HHH", 0xFFFF, 0, 0x8000)
    png16 = make_png(1, 1, 16, 2, rows)
    arr, st = decode_image_status(png16)
    assert st == "ok" and [int(v) for v in arr[0, 0]] == [255, 0, 0x8000 * 255 // 65535]

    # 16-bit PALETTE: not a spec-legal combination, outside the decoder
    _, st = decode_image_status(
        make_png(1, 1, 16, 3, b"\x00" + bytes(2), plte=bytes(3))
    )
    assert st == "unsupported_format"

    # truncated PNG -> corrupt
    ok = make_png(3, 1, 8, 2, b"\x00" + bytes(9))
    _, st = decode_image_status(ok[:30])
    assert st == "corrupt"

    # progressive JPEG (SOF2) now decodes for REAL
    from pdf_parser_spark.kernels.jpeg import encode_jpeg_progressive

    pimg = np.arange(16 * 16 * 3, dtype=np.uint8).reshape(16, 16, 3)
    arr, st = decode_image_status(encode_jpeg_progressive(pimg))
    assert st == "ok" and arr.shape == (16, 16, 3)

    # arithmetic-coded SOF (SOF9): spec-legal, outside the decoder
    sof9 = b"\xff\xd8" + b"\xff\xc9" + struct.pack(">H", 11) + bytes(
        [8, 0, 8, 0, 8, 1, 1, 0x11, 0]
    )
    _, st = decode_image_status(sof9)
    assert st == "unsupported_format"

    # truncated entropy stream in a real baseline jpeg -> corrupt
    from pdf_parser_spark.kernels.jpeg import encode_jpeg

    good = encode_jpeg(np.full((16, 16, 3), 128, dtype=np.uint8))
    _, st = decode_image_status(good[: len(good) - 10])
    assert st == "corrupt"

    # interlaced PNG now decodes for REAL
    ref = np.arange(9 * 8 * 3, dtype=np.uint8).reshape(9, 8, 3)
    png = make_png_i(8, 9, 8, 2, interlace_stream(ref.astype(np.int64), 8))
    arr, st = decode_image_status(png)
    assert st == "ok" and np.array_equal(arr, ref)
