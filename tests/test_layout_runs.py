"""Differential test: run-level layout equals glyph-level layout.

The parser emits one run per ``Tj`` and layout groups runs, splitting them
into glyphs only where a glyph could group differently from its run. The
oracle below is the glyph-at-a-time layout the run model replaced, frozen:
it explodes every run into one record per glyph (box, size, byte offset)
and groups those. Text, byte ranges, block counts, classification stats and
rendered pixels must all agree on generated pages that stress the split
rules: shared baselines with different sizes, runs overlapping in x, sizes
0, negative and fractional, baselines inside the line tolerance, escapes,
empty literals and latin-1 high bytes.
"""
from __future__ import annotations

from dataclasses import dataclass, field
from typing import NamedTuple

import numpy as np
from hypothesis import example, given, settings
from hypothesis import strategies as st

from pdf_parser_spark.config import DEFAULT_CONFIG, ExtractConfig
from pdf_parser_spark.kernels.layout import layout_page, layout_text_and_offsets
from pdf_parser_spark.kernels.pdf_classify import doc_stats, sample_stats
from pdf_parser_spark.kernels.pdf_mini import (
    CHAR_WIDTH_RATIO,
    PageSpec,
    ParsedPage,
    TextRun,
    build_pdf,
    parse_pdf,
)
from pdf_parser_spark.kernels.render import _fill_rect, _TEXT_GRAY, render_page

# ------------------------------------------------------ frozen glyph oracle ---


class Glyph(NamedTuple):
    char: str
    x0: float
    y0: float
    x1: float
    y1: float
    size: float
    byte_off: int


def glyphs_of(page: ParsedPage) -> list[Glyph]:
    out = []
    for r in page.runs:
        cw = CHAR_WIDTH_RATIO * r.size
        offs = [o for s, e in r.segs for o in range(s, e)]
        assert len(offs) == len(r.text)
        for k, (ch, off) in enumerate(zip(r.text, offs)):
            out.append(Glyph(ch, r.x0 + k * cw, r.y0, r.x0 + (k + 1) * cw, r.y1, r.size, off))
    return out


@dataclass
class _Line:
    chars: list[Glyph]
    y0: float
    y1: float
    x0: float


@dataclass
class _Block:
    lines: list[_Line] = field(default_factory=list)
    x0: float = 0.0
    y0: float = 0.0
    x1: float = 0.0
    y1: float = 0.0


def _line_text(line, cfg):
    parts, offs, prev = [], [], None
    for ch in line.chars:
        if prev is not None and (ch.x0 - prev.x1) > cfg.word_gap_ratio * ch.size:
            if parts and parts[-1] != " ":
                parts.append(" ")
                offs.append(-1)
        parts.append(ch.char)
        offs.append(ch.byte_off)
        prev = ch
    while parts and parts[-1] == " " and offs[-1] == -1:
        parts.pop()
        offs.pop()
    return "".join(parts), offs


def _group_lines(chars, cfg):
    if not chars:
        return []
    order = sorted(range(len(chars)), key=lambda i: (-chars[i].y0, chars[i].x0, i))
    lines, cur, cur_y = [], [], None
    for i in order:
        ch = chars[i]
        if cur_y is None or abs(ch.y0 - cur_y) <= cfg.line_merge_tol_ratio * ch.size:
            cur.append(ch)
            if cur_y is None:
                cur_y = ch.y0
        else:
            lines.append(_mk_line(cur))
            cur, cur_y = [ch], ch.y0
    if cur:
        lines.append(_mk_line(cur))
    return lines


def _mk_line(chs):
    chs = sorted(chs, key=lambda c: (c.x0, c.byte_off))
    return _Line(chs, min(c.y0 for c in chs), max(c.y1 for c in chs), min(c.x0 for c in chs))


def _mk_block(lines):
    return _Block(
        lines,
        min(ln.x0 for ln in lines),
        min(ln.y0 for ln in lines),
        max(max(c.x1 for c in ln.chars) for ln in lines),
        max(ln.y1 for ln in lines),
    )


def glyph_layout_page(page, cfg):
    blocks, cur = [], []
    for ln in _group_lines(glyphs_of(page), cfg):
        if cur:
            gap = cur[-1].y0 - ln.y1
            if gap > cfg.block_gap_ratio * max(c.size for c in ln.chars):
                blocks.append(_mk_block(cur))
                cur = []
        cur.append(ln)
    if cur:
        blocks.append(_mk_block(cur))
    blocks.sort(key=lambda b: (-b.y1, b.x0))
    return blocks


def glyph_page_text(page, cfg):
    parts, offs = [], []
    blocks = glyph_layout_page(page, cfg)
    for blk in blocks:
        joiner = "\n\n"
        for ln in blk.lines:
            if parts:
                parts.append(joiner)
                offs.extend([-1] * len(joiner))
            joiner = "\n"
            text, line_offs = _line_text(ln, cfg)
            parts.append(text)
            offs.extend(line_offs)
    return "".join(parts), offs, len(blocks)


def glyph_join_pages(pages):
    text = "\n\n".join(t for t, _, n in pages if n)
    ranges = []
    for off in sorted({o for _, offs, _ in pages for o in offs if o >= 0}):
        if ranges and ranges[-1][1] == off:
            ranges[-1][1] = off + 1
        else:
            ranges.append([off, off + 1])
    return text, [(s, e) for s, e in ranges], sum(n for _, _, n in pages)


def glyph_render_page(page, dpi):
    img = render_page(page, dpi=dpi, text_stripped=True)
    zoom, ph = dpi / 72.0, page.height
    for g in glyphs_of(page):
        _fill_rect(img, g.x0, g.y0, g.x1, g.y1, zoom, ph, _TEXT_GRAY)
    return img


def read_literal(data, i):
    """The glyph-at-a-time literal reader: [(char, byte offset)]."""
    out = []
    while i < len(data):
        c = data[i]
        if c == 0x5C and i + 1 < len(data):
            out.append((chr(data[i + 1]), i))
            i += 2
        elif c == 0x29:
            return out
        else:
            out.append((chr(c), i))
            i += 1
    raise AssertionError("unterminated literal")


# ------------------------------------------------------------- the check ---


def _boxes(blocks):
    return [((b.x0, b.y0, b.x1, b.y1), [(ln.y0, ln.y1, ln.x0) for ln in b.lines]) for b in blocks]


def assert_matches_glyph_model(raw: bytes, cfg: ExtractConfig = DEFAULT_CONFIG, dpi=None):
    doc = parse_pdf(raw)
    for page in doc.pages:
        for r in page.runs:  # a run's first glyph byte opens its literal
            assert read_literal(raw, r.segs[0][0]) == [
                (g.char, g.byte_off) for g in glyphs_of(ParsedPage(runs=[r]))
            ]
    want = glyph_join_pages([glyph_page_text(p, cfg) for p in doc.pages])
    assert layout_text_and_offsets(doc.pages, cfg) == want
    sample = doc.pages[: cfg.classify_page_cap]
    assert doc_stats(doc, cfg) == sample_stats(
        doc, [glyph_page_text(p, cfg)[0] for p in sample], cfg
    )
    for p in doc.pages:  # block and line boxes, not just the text
        assert _boxes(layout_page(p, cfg)) == _boxes(glyph_layout_page(p, cfg))
    if dpi:
        for page in doc.pages:
            assert np.array_equal(render_page(page, dpi=dpi), glyph_render_page(page, dpi))
    return want


# ------------------------------------------------------------ generators ---

# ASCII letters, the three escaped bytes, spaces and latin-1 high bytes
_ALPHABET = "ab Z.()\\" + "".join(map(chr, range(0xE0, 0xE4))) + "\xa0\xff"

runs = st.builds(
    TextRun,
    # x on a 0.7pt grid over a narrow band, so runs abut and overlap and
    # glyph edges are inexact floats
    x=st.integers(0, 60).map(lambda i: round(60 + 0.7 * i, 1)),
    # a few baselines, each with offsets inside and outside the tolerance
    y=st.tuples(st.sampled_from([700.0, 690.0, 672.0, 640.0]),
                st.sampled_from([0.0, 0.5, 1.0, 2.0, 3.5, -1.0])).map(sum),
    size=st.sampled_from([10.0, 10.0, 10.0, 7.3, 0.5, 0.0, -4.0, 1.1]),
    text=st.text(alphabet=_ALPHABET, max_size=12),
)
pages = st.lists(
    st.builds(lambda rs: PageSpec(text_runs=rs), st.lists(runs, max_size=9)),
    min_size=1,
    max_size=3,
)


@settings(max_examples=400, deadline=None)
@given(pages)
@example([PageSpec(text_runs=[TextRun(72, 700, 10, "ab"), TextRun(72, 700, 12, "cd")])])
@example([PageSpec(text_runs=[TextRun(60, 700, 10, "abcdef"), TextRun(63, 700, 10, "XYZ")])])
@example([PageSpec(text_runs=[TextRun(60, 700, -4, "a b"), TextRun(60, 700, 0, "zz")])])
@example([PageSpec(text_runs=[TextRun(60, 700, 10, "a(b"), TextRun(60, 701.5, 10, "c\\d")])])
@example([PageSpec(text_runs=[  # split glyphs overlapping a whole run
    TextRun(60.7, 700, 7.3, "abcdef"), TextRun(88, 700, -4, "g"),
    TextRun(61.4, 700.5, 7.3, "wxyz"),
])])
def test_runs_lay_out_like_glyphs(page_specs):
    assert_matches_glyph_model(build_pdf(page_specs))


@settings(max_examples=25, deadline=None)
@given(pages, st.sampled_from([72, 100, 150]))
def test_runs_render_like_glyphs(page_specs, dpi):
    assert_matches_glyph_model(build_pdf(page_specs), dpi=dpi)


def test_nonfinite_and_negative_ratio_pages_lay_out_like_glyphs():
    """An overflowing number parses to inf, and a config may set negative
    gap ratios; both make whole runs group differently from their glyphs."""
    spec = [PageSpec(text_runs=[
        TextRun(60, 700, 10, "abc"), TextRun(66, 700, 10, "de"),
        TextRun(90, 690, 10, "fg"), TextRun(62, 700.5, 10, "h"),
    ])]
    raw = build_pdf(spec)
    huge = b"9" * 400
    for old, new in ((b"/F1 10 Tf 66", b"/F1 " + huge + b" Tf 66"),
                     (b"Tf 90 690", b"Tf " + huge + b" 690"),
                     (b"Tf 90 690", b"Tf 90 " + huge)):
        assert old in raw
        assert assert_matches_glyph_model(raw.replace(old, new))[0]
    for cfg in (ExtractConfig(word_gap_ratio=-0.5), ExtractConfig(line_merge_tol_ratio=-0.1)):
        assert assert_matches_glyph_model(raw, cfg)[0]
