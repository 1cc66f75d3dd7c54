"""Geometry kernel parity tests (J1/J2/J3/D4 semantics)."""
from __future__ import annotations

import numpy as np
import pytest

from pdf_parser_spark.kernels.geometry import (
    boxes_overlap,
    contained_matrix,
    merge_ranges,
    nms_keep_mask,
    overlap_ratio_matrix,
)


def test_overlap_touching_edges_counts():
    # reference _is_overlap returns True when edges touch (strict > separation)
    a = [(0, 0, 10, 10)]
    b = [(10, 0, 20, 10)]
    assert boxes_overlap(a, b)[0, 0]
    b2 = [(10.0001, 0, 20, 10)]
    assert not boxes_overlap(a, b2)[0, 0]


def test_overlap_ratio_min_denominator():
    # core semantics: intersection / min(area1, area2)
    a = [(0, 0, 10, 10)]          # area 100
    b = [(5, 0, 25, 10)]          # area 200, intersection 50
    r = overlap_ratio_matrix(a, b)[0, 0]
    assert r == pytest.approx(50 / 100)  # min denominator, NOT /200


def test_containment_inclusive():
    inner = [(2, 2, 8, 8)]
    outer = [(2, 2, 10, 10)]  # shared edges still contained (>=/<=)
    assert contained_matrix(inner, outer)[0, 0]
    assert not contained_matrix(outer, inner)[0, 0]


def test_nms_greedy_keep_largest():
    boxes = np.array(
        [
            (0, 0, 100, 100),    # big, kept
            (10, 10, 50, 50),    # contained in big -> dropped
            (5, 5, 95, 95),      # overlap ratio vs big = 8100/8100 ... contained too
            (200, 200, 300, 300),  # disjoint, kept
        ],
        dtype=float,
    )
    areas = np.array([500 * 500, 200 * 200, 450 * 450, 300 * 300], dtype=float)
    keep = nms_keep_mask(boxes, areas, min_size=100, overlap_threshold=0.8)
    assert keep.tolist() == [True, False, False, True]


def test_nms_min_size_gate():
    boxes = np.array([(0, 0, 50, 50)], dtype=float)
    assert not nms_keep_mask(boxes, [99 * 99], min_size=100).any()
    assert nms_keep_mask(boxes, [100 * 100], min_size=100).all()


def test_nms_overlap_strictly_greater():
    # ratio exactly == threshold is KEPT (reference uses strict >)
    big = (0.0, 0.0, 10.0, 10.0)
    # overlap exactly 80% of the smaller box: box2 5x10 shifted so 4x10 inside
    small = (6.0, 0.0, 11.0, 8.0)  # 5x8=40 area; inter = 4x8=32; 32/40 = 0.8
    boxes = np.array([big, small])
    keep = nms_keep_mask(boxes, [1000 * 1000, 200 * 200], min_size=10,
                         overlap_threshold=0.8, filter_contained=True)
    assert keep.tolist() == [True, True]
    keep2 = nms_keep_mask(boxes, [1000 * 1000, 200 * 200], min_size=10,
                          overlap_threshold=0.79, filter_contained=True)
    assert keep2.tolist() == [True, False]


def test_nms_antichain_property():
    # property: no kept box is contained in another kept box
    rng = np.random.RandomState(7)
    for _ in range(25):
        n = rng.randint(1, 30)
        x0 = rng.uniform(0, 500, n)
        y0 = rng.uniform(0, 500, n)
        boxes = np.stack([x0, y0, x0 + rng.uniform(5, 300, n), y0 + rng.uniform(5, 300, n)], 1)
        areas = (boxes[:, 2] - boxes[:, 0]) * (boxes[:, 3] - boxes[:, 1]) * 4
        keep = nms_keep_mask(boxes, areas, min_size=10, overlap_threshold=0.8)
        kept = boxes[keep]
        if len(kept) > 1:
            cm = contained_matrix(kept, kept)
            np.fill_diagonal(cm, False)
            assert not cm.any()


def test_nms_idempotent():
    rng = np.random.RandomState(11)
    n = 40
    x0 = rng.uniform(0, 400, n)
    y0 = rng.uniform(0, 400, n)
    boxes = np.stack([x0, y0, x0 + rng.uniform(20, 200, n), y0 + rng.uniform(20, 200, n)], 1)
    areas = (boxes[:, 2] - boxes[:, 0]) * (boxes[:, 3] - boxes[:, 1]) * 4
    keep = nms_keep_mask(boxes, areas, min_size=10)
    again = nms_keep_mask(boxes[keep], areas[keep], min_size=10)
    assert again.all()


@pytest.mark.parametrize(
    "ranges, want",
    [
        ([], []),
        ([(5, 9), (0, 2), (3, 4)], [(0, 2), (3, 4), (5, 9)]),  # unsorted, disjoint
        ([(0, 10), (2, 3), (4, 10)], [(0, 10)]),  # nested
        ([(0, 3), (3, 6), (7, 8)], [(0, 6), (7, 8)]),  # touching (e == s) merges
        ([(4, 8), (0, 5), (6, 7), (9, 9)], [(0, 8), (9, 9)]),  # overlap, unsorted
    ],
)
def test_merge_ranges(ranges, want):
    assert merge_ranges(ranges) == want
    assert merge_ranges(iter(ranges)) == want
