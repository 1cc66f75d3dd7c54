"""Per-row resource bounds: a hostile payload gets a typed failure for its
own row, fast and in bounded memory, never a task-killing ``MemoryError``.

The three shapes pinned here are the measured ones: a PDF whose object
stream (or xref stream) inflates to 512 MB, a PNG whose IDAT inflates to
512 MB, and a PNG (and JPEG) whose header declares 30000x30000 pixels.
"""
from __future__ import annotations

import base64
import struct
import time
import tracemalloc
import zlib

import numpy as np
import pytest

from pdf_parser_spark.kernels.extract import extract_one
from pdf_parser_spark.kernels.images import decode_image_status
from pdf_parser_spark.kernels.jpeg import encode_jpeg
from pdf_parser_spark.kernels.limits import MAX_PIXELS, inflate

BOMB_BYTES = 512 << 20
SIG = b"\x89PNG\r\n\x1a\n"


@pytest.fixture(scope="module")
def bomb():
    """A zlib stream of 512 MB of zeros (~0.5 MB), built in 1 MB pieces."""
    c = zlib.compressobj()
    chunk = bytes(1 << 20)
    return b"".join(c.compress(chunk) for _ in range(BOMB_BYTES >> 20)) + c.flush()


def _chunk(tag: bytes, body: bytes) -> bytes:
    crc = zlib.crc32(tag + body) & 0xFFFFFFFF
    return struct.pack(">I", len(body)) + tag + body + struct.pack(">I", crc)


def _png(w: int, h: int, idat: bytes) -> bytes:
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    return (SIG + _chunk(b"IHDR", ihdr) + _chunk(b"IDAT", idat)
            + _chunk(b"IEND", b""))


def _pdf_with_stream(dict_body: bytes, stream: bytes) -> str:
    pdf = (b"%PDF-1.5\n1 0 obj\n<< " + dict_body
           + b" /Filter /FlateDecode /Length %d >>\nstream\n" % len(stream)
           + stream + b"\nendstream\nendobj\n%%EOF\n")
    return base64.b64encode(pdf).decode()


def _bounded(fn, *args):
    """(result, best seconds of 3 calls, traced peak bytes of one call)."""
    secs = []
    for _ in range(3):
        t = time.perf_counter()
        out = fn(*args)
        secs.append(time.perf_counter() - t)
    tracemalloc.start()
    try:
        fn(*args)
        peak = tracemalloc.get_traced_memory()[1]
    finally:
        tracemalloc.stop()
    return out, min(secs), peak


@pytest.mark.parametrize(
    "dict_body",
    [b"/Type /ObjStm /N 1 /First 4", b"/Type /XRef /W [1 2 1] /Size 1"],
    ids=["objstm", "xref"],
)
def test_pdf_stream_bomb_is_an_error_row(bomb, dict_body):
    payload = _pdf_with_stream(dict_body, bomb)
    out, secs, peak = _bounded(extract_one, payload)
    assert out == ("error", "", [], 0, False)
    assert secs < 0.05, secs
    assert peak < 64 << 20, peak


def test_png_idat_bomb_is_corrupt(bomb):
    out, secs, peak = _bounded(decode_image_status, _png(64, 64, bomb))
    assert out[1] == "corrupt"
    assert secs < 0.05, secs
    assert peak < 64 << 20, peak


def test_png_oversized_header_is_too_large():
    out, secs, peak = _bounded(
        decode_image_status, _png(30000, 30000, zlib.compress(bytes(1 << 16)))
    )
    assert out[1] == "too_large"
    assert secs < 0.05, secs
    assert peak < 64 << 20, peak


def test_jpeg_oversized_frame_is_too_large():
    jpg = bytearray(encode_jpeg(np.zeros((8, 8, 3), dtype=np.uint8)))
    sof = jpg.index(b"\xff\xc0")
    jpg[sof + 5 : sof + 9] = struct.pack(">HH", 30000, 30000)
    out, secs, peak = _bounded(decode_image_status, bytes(jpg))
    assert out[1] == "too_large"
    assert secs < 0.05, secs
    assert peak < 64 << 20, peak


def test_pixel_budget_admits_its_bound():
    """The budget refuses only what is over it: a frame of exactly
    ``MAX_PIXELS`` is not refused by the header check (it fails later, as
    corrupt, for want of pixel data)."""
    side = int(MAX_PIXELS ** 0.5)
    assert side * side == MAX_PIXELS
    assert decode_image_status(_png(side, side, b""))[1] == "corrupt"
    assert decode_image_status(_png(side, side + 1, b""))[1] == "too_large"


def test_png_excess_idat_is_corrupt():
    """IHDR fixes the filtered size exactly: a stream with even one byte
    more is corrupt, one with exactly that size decodes."""
    rows = bytes(2 * (1 + 2 * 3))  # 2x2 RGB, filter 0
    assert decode_image_status(_png(2, 2, zlib.compress(rows)))[1] == "ok"
    assert decode_image_status(_png(2, 2, zlib.compress(rows + b"\0")))[1] == "corrupt"


def test_inflate_bounds_and_truncation():
    z = zlib.compress(b"abc" * 100)
    assert inflate(z, 300) == b"abc" * 100
    with pytest.raises(zlib.error):
        inflate(z, 299)
    with pytest.raises(zlib.error):
        inflate(z[:-5], 300)  # truncated, as zlib.decompress would say
    assert inflate(z + b"trailing", 300) == b"abc" * 100


_HOSTILE_SCAN = r"""
import base64, sys, time
from pdf_parser_spark.kernels.extract import extract_one

n = 256 << 10
digits = b"7" * n
shapes = {
    "html_unclosed_tags": "<a " * (n // 3),
    "pdf_digit_run": base64.b64encode(b"%PDF-1.5\n" + digits).decode(),
    "pdf_digit_run_then_endobj": base64.b64encode(b"%PDF-1.5\n" + digits + b"\nendobj\n").decode(),
    "pdf_unended_objects": base64.b64encode(b"%PDF-1.5\n" + b"1 0 obj\n" * (n // 8)).decode(),
}
for name, payload in shapes.items():
    t = time.perf_counter()
    kind, _, _, _, ok = extract_one(payload)
    print(name, kind, ok, round(time.perf_counter() - t, 3), flush=True)
"""


def test_hostile_regex_scans_are_linear():
    """Payloads that made a regex retry to the end of the string from every
    start position — ``<a `` repeated with no ``>`` after it, a PDF of one
    long digit run, and ``1 0 obj`` headers with no ``endobj`` — finish at
    256 KB in well under a second each (a
    quadratic scan takes minutes at that size). A subprocess with a
    timeout keeps a regression from hanging the suite."""
    import os
    import subprocess
    import sys

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out = subprocess.run(
        [sys.executable, "-c", _HOSTILE_SCAN], cwd=root, capture_output=True,
        text=True, timeout=30, check=True,
    ).stdout.split()
    rows = {out[i]: out[i + 1:i + 4] for i in range(0, len(out), 4)}
    assert rows["html_unclosed_tags"][:2] == ["html", "True"]
    assert {r[1] for name, r in rows.items() if name.startswith("pdf")} == {"False"}
    assert all(float(r[2]) < 5.0 for r in rows.values()), rows
