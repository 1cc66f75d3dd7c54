"""Image-record operators: filters, exact dedup, NMS orchestration.

Parity targets:
- F2 min-size area filter, core semantics ``width*height < min_size**2``
  (``pdf_api/core/pdf_image_extractor.py:404-408``, ``:616-619``; the
  prototypes compare raw area to min_size — core wins, SURVEY.md §2.2).
- F3 bounds check (``:400-409``, ``:436-439``).
- D1 exact dedup by MD5 keeping FIRST in (page, img_idx) order
  (``pdfplumber/smart_pdf_extractor.py:195-254``; replaces the
  process-salted Python hash() dedup at
  ``pdf_api/core/pdf_image_extractor.py:486-497`` — D2, a determinism bug
  we fix rather than replicate).
- D4 greedy NMS via kernels.geometry (``pdf_image_extractor.py:594-640``).
- F5/F6 mostly-white / mostly-black pixel filters
  (``pdfplumber/pdf_image_extractor_improved.py:77-124``) — operate on the
  raw RGB byte payload interpreted as a pixel array.
"""
from __future__ import annotations

import hashlib
from dataclasses import dataclass

import numpy as np

from .geometry import nms_keep_mask
from .pdf_mini import ParsedImage, ParsedPage
from ..config import ExtractConfig, DEFAULT_CONFIG

__all__ = [
    "ImageRecord",
    "extract_image_records",
    "mostly_white",
    "mostly_black",
    "decode_image_status",
    "resize_nearest",
    "perceptual_keep_mask",
]


@dataclass
class ImageRecord:
    page: int
    img_idx: int
    x0: float
    y0: float
    x1: float
    y1: float
    px_w: int
    px_h: int
    md5: str
    size_bytes: int
    format: str         # jpeg/flate/raw (A6 format histogram source —
    #                     ``pdfplumber/pdf_image_extractor_improved.py:284-299``)
    color_mode: str     # rgb/gray
    kept: bool          # survived filters + NMS + dedup
    drop_reason: str    # "", "bounds", "min_size", "nms", "duplicate"


def mostly_white(rgb: np.ndarray, thresh: int = 240, frac: float = 0.95) -> bool:
    """>= frac of pixels have all channels > thresh (ref :77-99 uses >240)."""
    if rgb.size == 0:
        return True
    return float(np.mean((rgb > thresh).all(axis=-1))) >= frac


def mostly_black(rgb: np.ndarray, thresh: int = 15, frac: float = 0.95) -> bool:
    if rgb.size == 0:
        return True
    return float(np.mean((rgb < thresh).all(axis=-1))) >= frac


def decode_image_status(data: bytes) -> tuple[np.ndarray, str]:
    """Decode image bytes to (HxWx3 uint8 array, decode_status).

    ``decode_status`` is the corpus-coverage taxonomy (r03 verdict #5 — a
    coverage metric needs a *reason*, not just a boolean):

    - ``"ok"``                real pixels decoded
    - ``"unsupported_format"``  spec-legal but outside the decoders
      (16-bit PNG depth, hierarchical/lossless/arithmetic JPEG, 12/16-bit
      precision, sampling factors > 2)
    - ``"corrupt"``           malformed/truncated PNG or JPEG stream
    - ``"too_large"``         header dimensions over ``limits.MAX_PIXELS``
    - ``"unknown_format"``    no recognizable signature (the deterministic
      fabricated-pixel path)

    Adam7-interlaced PNG, progressive (SOF2) JPEG, and non-interleaved
    multi-scan baseline JPEG all decode for REAL (kernels/png.py,
    kernels/jpeg.py); every non-"ok" status returns the deterministic
    fabricated fallback — (w, h) from the byte length, pixels tiled from the
    bytes — so downstream features stay reproducible.
    """
    from .jpeg import JpegError, decode_jpeg, is_jpeg
    from .png import PngError, decode_png, is_png

    status = "unknown_format"
    decode = decode_png if is_png(data) else decode_jpeg if is_jpeg(data) else None
    if decode is not None:
        try:
            return decode(data), "ok"
        except (PngError, JpegError) as e:
            status = e.status
        except MemoryError:
            raise
        except Exception:
            # a damaged field read as given (struct, index, numpy shape):
            # like parse_pdf, one bad row must not fail the task
            status = "corrupt"
    n = max(1, len(data))
    w = 16 + (n % 48)
    h = 16 + ((n // 7) % 48)
    px = np.frombuffer(data, dtype=np.uint8)
    reps = (w * h * 3 + max(1, px.size) - 1) // max(1, px.size)
    arr = np.tile(px if px.size else np.zeros(1, np.uint8), reps)[: w * h * 3]
    return arr.reshape(h, w, 3), status


def resize_nearest(rgb: np.ndarray, size: int = 32) -> np.ndarray:
    """Deterministic nearest-neighbor resize to size x size (LANCZOS
    stand-in; PIL absent — ``pdf_image_extractor_improved.py:37`` resizes
    both images to a common grid before differencing)."""
    h, w = rgb.shape[:2]
    ys = (np.arange(size) * h // size).clip(0, h - 1)
    xs = (np.arange(size) * w // size).clip(0, w - 1)
    return rgb[ys][:, xs]


def perceptual_keep_mask(
    arrays: list[np.ndarray], sim_threshold: float = 0.9, size: int = 32
) -> np.ndarray:
    """Sequential first-wins perceptual dedup within one group: image i is
    dropped if similar (>= threshold) to ANY earlier kept image — matching
    the reference's loop order (``pdf_image_extractor_improved.py:261-270``).
    Similarity is 1 - (fraction of differing pixels) after resize, the numpy
    analog of ``ImageChops.difference`` + nonzero count (``:22-59``)."""
    n = len(arrays)
    keep = np.ones(n, dtype=bool)
    small = [resize_nearest(a, size).astype(np.int16) for a in arrays]
    for i in range(n):
        for j in range(i):
            if not keep[j]:
                continue
            diff = (np.abs(small[i] - small[j]) > 0).any(axis=-1)
            if 1.0 - float(diff.mean()) >= sim_threshold:
                keep[i] = False
                break
    return keep


def extract_image_records(
    pages: list[ParsedPage], cfg: ExtractConfig = DEFAULT_CONFIG
) -> list[ImageRecord]:
    """Run the digital-PDF image pipeline over parsed pages.

    Order of operations mirrors ``_extract_digital_pdf``
    (``pdf_api/core/pdf_image_extractor.py:377-534``): per page, bounds
    check -> NMS (which itself applies the min-size gate) -> md5 dedup
    (global across pages, first occurrence in (page, img_idx) order wins).
    """
    records: list[ImageRecord] = []
    seen_md5: set[str] = set()
    for page_no, page in enumerate(pages):
        imgs: list[ParsedImage] = page.images
        recs = [
            ImageRecord(
                page=page_no,
                img_idx=im.img_idx,
                x0=im.x0, y0=im.y0, x1=im.x1, y1=im.y1,
                px_w=im.px_w, px_h=im.px_h,
                md5=hashlib.md5(im.data).hexdigest(),
                size_bytes=len(im.data),
                format=im.format,
                color_mode=im.color_mode,
                kept=True,
                drop_reason="",
            )
            for im in imgs
        ]
        # F3 bounds check
        for r in recs:
            if r.x0 < 0 or r.y0 < 0 or r.x1 > page.width or r.y1 > page.height:
                r.kept = False
                r.drop_reason = "bounds"
        # D4 NMS (includes F2 min-size on pixel area) over surviving boxes
        cand = [r for r in recs if r.kept]
        if cand:
            boxes = np.array([[r.x0, r.y0, r.x1, r.y1] for r in cand])
            areas = np.array([r.px_w * r.px_h for r in cand], dtype=np.float64)
            keep = nms_keep_mask(
                boxes, areas,
                min_size=cfg.min_size,
                overlap_threshold=cfg.overlap_threshold,
                filter_contained=cfg.filter_contained,
            )
            for r, k in zip(cand, keep):
                if not k:
                    r.kept = False
                    r.drop_reason = (
                        "min_size" if r.px_w * r.px_h < cfg.min_size**2 else "nms"
                    )
        # D1 md5 dedup, first occurrence wins (page asc, img_idx asc)
        if cfg.filter_duplicates:
            for r in recs:
                if not r.kept:
                    continue
                if r.md5 in seen_md5:
                    r.kept = False
                    r.drop_reason = "duplicate"
                else:
                    seen_md5.add(r.md5)
        records.extend(recs)
    return records
