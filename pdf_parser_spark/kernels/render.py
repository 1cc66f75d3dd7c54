"""Raster kernels: K1 whole-page render, K2 region-crop render, K4 CAD
dual-render enhancement, K7 text-stripped rebuild — pure numpy, deterministic.

Reference parity (SURVEY.md §2.10):
- K1: ``page.get_pixmap(matrix=Matrix(z, z), alpha=False)`` at zoom = dpi/72
  (``pdf_api/core/pdf_image_extractor.py:174-233``). PIL/fitz are not in this
  container; the rasterizer draws the parsed page model (text-run boxes, vector
  strokes, image placements) onto an RGB canvas with the same geometry
  contract as the parser — validated by shape/hash invariants, not
  pixel-parity with fitz (SURVEY.md §7.3 "not hard / explicitly skipped").
- K2: clip-rect variant (``:462-478``).
- K4: render at z and 2z, downscale hi-res, ``np.minimum`` merge, pixel
  masks (bg>240, dark<100, light<180), per-channel darkening x0.2/0.3/0.4 —
  the numpy math transplanted from ``pdf_api/core/cad_pdf_renderer.py:57-132``
  with a deterministic 2x2 box filter standing in for LANCZOS.
- K7: text_stripped=True re-renders images + drawing rects only
  (``pdf_image_extractor.py:200-218``).

PNG encoding is a from-scratch minimal writer (stdlib zlib, filter 0) so
output bytes are stable across platforms.
"""
from __future__ import annotations

import struct
import zlib

import numpy as np

from .pdf_mini import PAGE_H, PAGE_W, ParsedPage

__all__ = ["render_page", "render_region", "render_cad_page", "encode_png"]

_TEXT_GRAY = 40        # text-run ink
_STROKE_GRAY = 90      # vector-stroke ink


def _canvas(w: int, h: int) -> np.ndarray:
    return np.full((h, w, 3), 255, dtype=np.uint8)


def _to_px(v: float, zoom: float) -> int:
    return int(round(v * zoom))


def _fill_rect(img: np.ndarray, x0f, y0f, x1f, y1f, zoom: float, page_h: float, value) -> None:
    """Fill a PDF-space rect (y-up) onto the raster (row 0 = top)."""
    h, w = img.shape[:2]
    x0 = max(0, _to_px(x0f, zoom))
    x1 = min(w, _to_px(x1f, zoom))
    # y flip: PDF y0 (bottom) -> raster bottom row
    ry0 = max(0, _to_px(page_h - y1f, zoom))
    ry1 = min(h, _to_px(page_h - y0f, zoom))
    if x1 > x0 and ry1 > ry0:
        img[ry0:ry1, x0:x1] = value


def _tile_bytes(data: bytes, h: int, w: int) -> np.ndarray:
    px = np.frombuffer(data, dtype=np.uint8) if data else np.zeros(1, np.uint8)
    need = h * w * 3
    reps = (need + px.size - 1) // px.size
    return np.tile(px, reps)[:need].reshape(h, w, 3)


def _draw_strokes(img: np.ndarray, page: ParsedPage, zoom: float) -> None:
    """Deterministic placeholder strokes for the page's vector counts: the
    parser keeps counts, not geometry (counts drive classification A4), so
    strokes are placed by index hash — same inputs, same pixels."""
    h, w = img.shape[:2]
    total = page.n_lines + page.n_rects + page.n_curves
    for i in range(total):
        # simple LCG on the index: deterministic, no RNG state
        a = (1103515245 * (i + 1) + 12345) % (2 ** 31)
        x = a % max(1, w - 8)
        y = (a // 7919) % max(1, h - 8)
        img[y : y + 1, x : x + 8] = _STROKE_GRAY


def render_page(
    page: ParsedPage,
    dpi: int = 300,
    text_stripped: bool = False,
) -> np.ndarray:
    """K1: whole-page RGB render at zoom dpi/72 (K7 when text_stripped)."""
    zoom = dpi / 72.0
    img = _canvas(_to_px(page.width or PAGE_W, zoom), _to_px(page.height or PAGE_H, zoom))
    ph = page.height or PAGE_H
    _draw_strokes(img, page, zoom)
    for im in page.images:
        x0 = max(0, _to_px(im.x0, zoom))
        x1 = min(img.shape[1], _to_px(im.x1, zoom))
        ry0 = max(0, _to_px(ph - im.y1, zoom))
        ry1 = min(img.shape[0], _to_px(ph - im.y0, zoom))
        if x1 > x0 and ry1 > ry0:
            img[ry0:ry1, x0:x1] = _tile_bytes(im.data, ry1 - ry0, x1 - x0)
    if not text_stripped:
        # one rect per run: its glyphs share edge floats, so their pixels tile it
        for r in page.runs:
            _fill_rect(img, r.x0, r.y0, r.x1, r.y1, zoom, ph, _TEXT_GRAY)
    return img


def render_region(
    page: ParsedPage, bbox: tuple[float, float, float, float], dpi: int = 300
) -> np.ndarray:
    """K2: render the page then crop the clip rect (reference clips at render
    time; cropping the same zoom grid is pixel-identical for our rasterizer)."""
    zoom = dpi / 72.0
    full = render_page(page, dpi=dpi)
    ph = page.height or PAGE_H
    x0, y0, x1, y1 = bbox
    rx0 = max(0, _to_px(x0, zoom))
    rx1 = min(full.shape[1], _to_px(x1, zoom))
    ry0 = max(0, _to_px(ph - y1, zoom))
    ry1 = min(full.shape[0], _to_px(ph - y0, zoom))
    return full[ry0:ry1, rx0:rx1].copy()


def _box_downscale2(img: np.ndarray) -> np.ndarray:
    """Deterministic 2x2 box filter (LANCZOS stand-in; PIL absent)."""
    h, w = img.shape[:2]
    h2, w2 = h - (h % 2), w - (w % 2)
    a = img[:h2, :w2].astype(np.uint16)
    out = (a[0::2, 0::2] + a[0::2, 1::2] + a[1::2, 0::2] + a[1::2, 1::2] + 2) // 4
    return out.astype(np.uint8)


def render_cad_page(page: ParsedPage, dpi: int = 600) -> np.ndarray:
    """K4: dual-render enhancement (``cad_pdf_renderer.py:57-132``).

    standard render at z + hi-res render at 2z box-downscaled to z;
    np.minimum merge keeps the darkest ink of either pass; then the
    reference's pixel masks: background (>240 all channels) snapped to
    white, dark ink (<100) darkened x0.2, mid tones (<180) darkened x0.3,
    remainder x0.4 — making faint CAD linework legible.
    """
    base = render_page(page, dpi=dpi).astype(np.int32)
    hi = render_page(page, dpi=dpi * 2)
    hi_ds = _box_downscale2(hi).astype(np.int32)
    h = min(base.shape[0], hi_ds.shape[0])
    w = min(base.shape[1], hi_ds.shape[1])
    merged = np.minimum(base[:h, :w], hi_ds[:h, :w])

    bg = (merged > 240).all(axis=-1)
    dark = (merged < 100).any(axis=-1) & ~bg
    mid = (merged < 180).any(axis=-1) & ~bg & ~dark
    rest = ~(bg | dark | mid)
    out = merged.astype(np.float64)
    out[dark] *= 0.2
    out[mid] *= 0.3
    out[rest] *= 0.4
    out[bg] = 255.0
    return np.clip(np.round(out), 0, 255).astype(np.uint8)


def encode_png(img: np.ndarray) -> bytes:
    """Minimal deterministic PNG (8-bit RGB, filter 0, fixed zlib level 6)."""
    h, w = img.shape[:2]
    raw = b"".join(b"\x00" + img[r].tobytes() for r in range(h))

    def chunk(tag: bytes, payload: bytes) -> bytes:
        body = tag + payload
        return struct.pack(">I", len(payload)) + body + struct.pack(
            ">I", zlib.crc32(body) & 0xFFFFFFFF
        )

    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(raw, 6))
        + chunk(b"IEND", b"")
    )
