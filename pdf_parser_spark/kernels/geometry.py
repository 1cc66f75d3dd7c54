"""Bbox geometry: overlap / containment / overlap-ratio / greedy NMS.

Behavioral parity with the reference's served product (``pdf_api/core``):

- overlap test: interval intersection with touching edges counting as
  overlap (reference ``pdf_api/core/pdf_image_extractor.py:536-552``
  ``_is_overlap`` returns False only on strict ``>`` separation).
- overlap ratio: intersection area / min(area1, area2)
  (``pdf_image_extractor.py:554-578`` — the prototypes divide by area1
  instead; we standardize on the core/min semantics, SURVEY.md §2.3 J3).
- containment: all four coords inside-or-equal
  (``pdf_image_extractor.py:580-592``).
- greedy NMS: sort by pixel area desc (stable — ties keep input order,
  matching Python's stable sort in ``pdf_image_extractor.py:607-610``),
  skip if area < min_size**2, drop if contained in a kept box (when
  filter_contained) or overlap ratio strictly > overlap_threshold
  (``pdf_image_extractor.py:594-640`` ``_filter_overlapping_images``).

``merge_ranges`` applies the same touching-counts rule to 1-D half-open
ranges (HTML character spans, PDF byte ranges, base64 spans).

The box functions are vectorized numpy; NMS is O(n²) per group, which is safe
because groups are single pages (reference never crosses pages —
``pdfplumber/pdf_image_extractor_improved.py:326-342``).
"""
from __future__ import annotations

import numpy as np

__all__ = [
    "boxes_overlap",
    "overlap_ratio_matrix",
    "contained_matrix",
    "nms_keep_mask",
    "merge_ranges",
]


def _as_boxes(boxes) -> np.ndarray:
    b = np.asarray(boxes, dtype=np.float64)
    if b.ndim == 1:
        b = b.reshape(1, 4)
    return b


def boxes_overlap(a, b) -> np.ndarray:
    """Pairwise overlap matrix [len(a), len(b)]; touching edges overlap."""
    a = _as_boxes(a)
    b = _as_boxes(b)
    ax0, ay0, ax1, ay1 = a[:, 0:1], a[:, 1:2], a[:, 2:3], a[:, 3:4]
    bx0, by0, bx1, by1 = b[:, 0], b[:, 1], b[:, 2], b[:, 3]
    sep = (ax0 > bx1) | (bx0[None, :] > ax1) | (ay0 > by1) | (by0[None, :] > ay1)
    return ~sep


def overlap_ratio_matrix(a, b) -> np.ndarray:
    """Intersection area / min(area_a, area_b); 0.0 where no overlap."""
    a = _as_boxes(a)
    b = _as_boxes(b)
    x_ov = np.maximum(
        0.0,
        np.minimum(a[:, 2:3], b[None, :, 2]) - np.maximum(a[:, 0:1], b[None, :, 0]),
    )
    y_ov = np.maximum(
        0.0,
        np.minimum(a[:, 3:4], b[None, :, 3]) - np.maximum(a[:, 1:2], b[None, :, 1]),
    )
    inter = x_ov * y_ov
    area_a = (a[:, 2] - a[:, 0]) * (a[:, 3] - a[:, 1])
    area_b = (b[:, 2] - b[:, 0]) * (b[:, 3] - b[:, 1])
    denom = np.minimum(area_a[:, None], area_b[None, :])
    ratio = np.where(denom > 0, inter / np.where(denom > 0, denom, 1.0), 0.0)
    # reference returns 0.0 when _is_overlap is false; inter==0 there anyway,
    # but touching edges give inter==0 too, matching the 0.0 ratio.
    return np.where(boxes_overlap(a, b), ratio, 0.0)


def contained_matrix(a, b) -> np.ndarray:
    """[i, j] True iff box a_i is fully inside box b_j (>=/<= semantics)."""
    a = _as_boxes(a)
    b = _as_boxes(b)
    return (
        (a[:, 0:1] >= b[None, :, 0])
        & (a[:, 1:2] >= b[None, :, 1])
        & (a[:, 2:3] <= b[None, :, 2])
        & (a[:, 3:4] <= b[None, :, 3])
    )


def nms_keep_mask(
    boxes,
    pixel_areas,
    min_size: int = 100,
    overlap_threshold: float = 0.8,
    filter_contained: bool = True,
) -> np.ndarray:
    """Greedy keep-largest NMS; returns a bool keep-mask in INPUT order.

    ``pixel_areas`` is width*height in pixels (the reference sorts and
    min-size-filters on pixel dims, while overlap/containment use bbox
    coords — two different spaces, kept faithfully).
    """
    boxes = _as_boxes(boxes)
    n = boxes.shape[0]
    if n == 0:
        return np.zeros(0, dtype=bool)
    areas = np.asarray(pixel_areas, dtype=np.float64)
    # stable area-desc sort == Python sorted(key=area, reverse=True)
    order = np.argsort(-areas, kind="stable")
    keep = np.zeros(n, dtype=bool)
    kept_idx: list[int] = []
    for i in order:
        if areas[i] < float(min_size) * float(min_size):
            continue
        ok = True
        if kept_idx:
            kb = boxes[kept_idx]
            if filter_contained and contained_matrix(boxes[i], kb).any():
                ok = False
            elif (overlap_ratio_matrix(boxes[i], kb) > overlap_threshold).any():
                ok = False
        if ok:
            keep[i] = True
            kept_idx.append(int(i))
    return keep


def merge_ranges(ranges) -> list[tuple[int, int]]:
    """Sorted maximal ranges covering ``ranges``; a range starting at or
    before the previous end (nested, overlapping or touching) merges."""
    merged: list[tuple[int, int]] = []
    for s, e in sorted(ranges):
        if merged and s <= merged[-1][1]:
            merged[-1] = (merged[-1][0], max(merged[-1][1], e))
        else:
            merged.append((s, e))
    return merged
