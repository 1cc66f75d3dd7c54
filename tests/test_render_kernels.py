"""Raster kernel tests: K1/K2/K4/K7 shape+hash invariants (SURVEY.md §7.3 —
raster outputs are validated by invariants, not pixel-parity with fitz).
"""
from __future__ import annotations

import hashlib
import struct
import zlib

import numpy as np

from pdf_parser_spark.config import DEFAULT_CONFIG
from pdf_parser_spark.kernels.pdf_mini import (
    ImageSpec,
    PageSpec,
    TextRun,
    build_pdf,
    deterministic_bytes,
    parse_pdf,
)
from pdf_parser_spark.kernels.records import payload_page_renders
from pdf_parser_spark.kernels.render import (
    encode_png,
    render_cad_page,
    render_page,
    render_region,
)


def _page(n_lines=0, images=None, text=True):
    runs = [TextRun(x=72, y=700, size=12, text="hello world")] if text else []
    return PageSpec(text_runs=runs, n_lines=n_lines, images=images or [])


def _parsed(spec):
    return parse_pdf(build_pdf([spec])).pages[0]


def test_render_shape_and_determinism():
    p = _parsed(_page())
    img1 = render_page(p, dpi=72)
    img2 = render_page(p, dpi=72)
    assert img1.shape == (792, 612, 3)
    assert np.array_equal(img1, img2)
    assert render_page(p, dpi=144).shape == (1584, 1224, 3)


def test_render_draws_text_ink():
    p = _parsed(_page())
    img = render_page(p, dpi=72)
    stripped = render_page(p, dpi=72, text_stripped=True)  # K7
    assert (img < 255).any()
    assert (img < 255).sum() > (stripped < 255).sum()  # text ink removed


def test_region_crop_matches_full_render():  # K2
    p = _parsed(_page())
    full = render_page(p, dpi=72)
    crop = render_region(p, (72, 688, 200, 712), dpi=72)
    assert crop.shape[0] > 0 and crop.shape[1] > 0
    # crop is a window of the full render at the same zoom grid
    ry0, ry1 = 792 - 712, 792 - 688
    assert np.array_equal(crop, full[ry0:ry1, 72:200])


def test_cad_render_enhances_darkness():  # K4
    p = _parsed(_page(n_lines=50))
    std = render_page(p, dpi=72).astype(int)
    cad = render_cad_page(p, dpi=72)
    assert cad.shape[0] <= std.shape[0] and cad.shape[1] <= std.shape[1]
    h, w = cad.shape[:2]
    ink_std = std[:h, :w][(cad < 255).any(axis=-1)]
    ink_cad = cad[(cad < 255).any(axis=-1)]
    # darkening factors 0.2-0.4 make retained ink strictly darker
    assert ink_cad.size and ink_cad.mean() < ink_std.mean()


def test_png_encoding_is_valid_and_stable():
    p = _parsed(_page())
    png = encode_png(render_page(p, dpi=72))
    assert png[:8] == b"\x89PNG\r\n\x1a\n"
    w, h = struct.unpack(">II", png[16:24])
    assert (w, h) == (612, 792)
    # IDAT decompresses to h * (1 + w*3) filter-0 scanlines
    idat_start = png.index(b"IDAT") + 4
    idat_len = struct.unpack(">I", png[png.index(b"IDAT") - 4 : png.index(b"IDAT")])[0]
    raw = zlib.decompress(png[idat_start : idat_start + idat_len])
    assert len(raw) == h * (1 + w * 3)
    assert hashlib.md5(png).hexdigest() == hashlib.md5(
        encode_png(render_page(p, dpi=72))
    ).hexdigest()


def test_dispatch_cad_branch():
    """A vector page above the CAD drawings threshold routes to the K4
    renderer (``pdf_api/core/pdf_image_extractor.py:94-103``)."""
    import base64

    cad_spec = PageSpec(
        text_runs=[TextRun(x=72, y=760, size=10, text="D")],
        n_lines=11000,  # > cad_drawings_threshold=10000 AND > vector_threshold
    )
    payload = base64.b64encode(build_pdf([cad_spec])).decode()
    recs = payload_page_renders(payload, DEFAULT_CONFIG, dpi=36)
    assert [r["renderer"] for r in recs] == ["cad"]

    plain_vec = PageSpec(
        text_runs=[TextRun(x=72, y=760, size=10, text="D")], n_lines=2000
    )
    payload2 = base64.b64encode(build_pdf([plain_vec])).decode()
    recs2 = payload_page_renders(payload2, DEFAULT_CONFIG, dpi=36)
    assert [r["renderer"] for r in recs2] == ["standard"]


def test_scanned_pages_render_non_pdf_skipped():
    import base64

    scan = PageSpec(
        text_runs=[TextRun(x=72, y=20, size=8, text="s")],
        images=[
            ImageSpec(
                x=0, y=0, w=612, h=792, px_w=1224, px_h=1584,
                data=deterministic_bytes("scan:x", 512),
            )
        ],
    )
    payload = base64.b64encode(build_pdf([scan])).decode()
    recs = payload_page_renders(payload, DEFAULT_CONFIG, dpi=36)
    assert len(recs) == 1 and recs[0]["renderer"] == "standard"
    assert payload_page_renders("plain text", DEFAULT_CONFIG) == []
    assert payload_page_renders(None, DEFAULT_CONFIG) == []


# ---------------------------------------------------- PNG decoder (round 2) --


def _manual_png(img, filters):
    """Encode with a chosen filter type per scanline (the repo encoder only
    writes filter 0; this exercises the decoder's Sub/Up/Average/Paeth)."""
    import struct
    import zlib

    import numpy as np

    h, w = img.shape[:2]
    raw = bytearray()
    prev = np.zeros(w * 3, dtype=np.int32)
    for r in range(h):
        line = img[r].reshape(-1).astype(np.int32)
        f = filters[r % len(filters)]
        raw.append(f)
        if f == 0:
            enc = line
        elif f == 1:  # Sub
            left = np.concatenate([np.zeros(3, np.int32), line[:-3]])
            enc = (line - left) & 0xFF
        elif f == 2:  # Up
            enc = (line - prev) & 0xFF
        elif f == 3:  # Average
            left = np.concatenate([np.zeros(3, np.int32), line[:-3]])
            enc = (line - ((left + prev) >> 1)) & 0xFF
        else:  # Paeth
            enc = np.empty_like(line)
            for i in range(len(line)):
                a = int(line[i - 3]) if i >= 3 else 0
                b = int(prev[i])
                c = int(prev[i - 3]) if i >= 3 else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                enc[i] = (line[i] - pred) & 0xFF
        raw += enc.astype(np.uint8).tobytes()
        prev = line

    def chunk(tag, payload):
        body = tag + payload
        return struct.pack(">I", len(payload)) + body + struct.pack(
            ">I", zlib.crc32(body) & 0xFFFFFFFF
        )

    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(bytes(raw), 6))
        + chunk(b"IEND", b"")
    )


def test_png_roundtrip_filter0():
    import numpy as np

    from pdf_parser_spark.kernels.png import decode_png
    from pdf_parser_spark.kernels.render import encode_png

    rng_free = (np.arange(7 * 11 * 3, dtype=np.uint32) * 2654435761 % 256).astype(
        np.uint8
    ).reshape(7, 11, 3)
    assert np.array_equal(decode_png(encode_png(rng_free)), rng_free)


def test_png_all_filters_decode():
    import numpy as np

    from pdf_parser_spark.kernels.png import decode_png

    img = (np.arange(9 * 13 * 3, dtype=np.uint32) * 40503 % 256).astype(
        np.uint8
    ).reshape(9, 13, 3)
    for filters in ([1], [2], [3], [4], [0, 1, 2, 3, 4]):
        assert np.array_equal(decode_png(_manual_png(img, filters)), img), filters


def test_decode_image_sniffs_png():
    import numpy as np

    from pdf_parser_spark.kernels.images import decode_image_status
    from pdf_parser_spark.kernels.render import encode_png

    img = np.full((20, 30, 3), 250, dtype=np.uint8)
    out = decode_image_status(encode_png(img))[0]
    assert out.shape == (20, 30, 3) and np.array_equal(out, img)
    # non-png bytes fall back to the deterministic fake (documented stub)
    fake = decode_image_status(b"not a png at all")[0]
    assert fake.ndim == 3 and fake.shape[2] == 3


def test_render_media_real_pixels():
    """The real-pixel D3 contract on one synthetic vector page: 'dup' is an
    exact perceptual duplicate of 'full' (dropped), flags come from real
    rasters (a rendered page is NOT mostly black; the white background
    dominates unless ink coverage is high)."""
    import base64

    from pdf_parser_spark.kernels.images import (
        decode_image_status,
        mostly_black,
        perceptual_keep_mask,
    )
    from pdf_parser_spark.kernels.pdf_mini import PageSpec, TextRun, build_pdf
    from pdf_parser_spark.kernels.records import payload_render_media

    page = PageSpec(
        text_runs=[TextRun(x=72, y=700, size=12, text="hello render")],
        n_lines=1200, n_rects=300, n_curves=200,
    )
    payload = base64.b64encode(build_pdf([page])).decode()
    recs = payload_render_media(payload)
    assert [r["variant"] for r in recs] == ["full", "stripped", "dup", "jpeg"]
    arrays = [decode_image_status(r["png"])[0] for r in recs]
    assert arrays[0].shape == arrays[1].shape
    keep = perceptual_keep_mask(arrays)
    assert keep[0] and not keep[2]  # dup always dropped
    assert not mostly_black(arrays[0])
    # the jpeg variant must be REAL decoded pixels at the downsample target
    from pdf_parser_spark.kernels.records import JPEG_MEDIA_SIZE

    arr, status = decode_image_status(recs[3]["png"])
    assert status == "ok" and arr.shape == (JPEG_MEDIA_SIZE, JPEG_MEDIA_SIZE, 3)
