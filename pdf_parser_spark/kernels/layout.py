"""Layout analysis: run → line → block grouping + reading order.

From-scratch reimplementation of the text-extraction semantics the reference
delegates to pdfplumber's ``page.extract_text()`` (chars→words→lines layout
grouping, ``pdf_api/core/pdf_analyzer.py:72``) and PyMuPDF's
``extractBLOCKS()`` (``pdf_api/core/pdf_image_extractor.py:188-195``), per
the north_star ("pdfminer-style layout analysis: char→word→line→block
grouping by bbox clustering, reading-order sort").

The unit is the parser's text run; a glyph is a run of length one. The
result is that of grouping glyph by glyph, and a run is split into glyphs
only where its glyphs could part: on a baseline whose runs differ in size
or have size <= 0, on a page with a non-finite number or a negative gap
ratio, and in a line whose runs overlap in x. Spans need no layout: every
glyph lands in the text, so a document's byte ranges are the merged union
of its runs' byte segments.

Determinism contract (SURVEY.md §7.3): all thresholds are exact float64
comparisons on writer-controlled coordinates (integers and 0.5 multiples);
sorts use total keys with original-index tie-breakers; text assembly is pure
integer/string ops. The same function runs in the golden pytest harness and
inside the Spark Arrow kernel.
"""
from __future__ import annotations

from dataclasses import dataclass, field
from math import isfinite

from .geometry import merge_ranges
from .pdf_mini import CHAR_WIDTH_RATIO, ParsedPage, ParsedRun
from ..config import ExtractConfig, DEFAULT_CONFIG

__all__ = [
    "LayoutBlock", "layout_page", "page_text", "join_pages", "layout_text_and_offsets",
]


@dataclass
class LayoutLine:
    runs: list[ParsedRun]
    y0: float
    y1: float
    x0: float


@dataclass
class LayoutBlock:
    lines: list[LayoutLine] = field(default_factory=list)
    x0: float = 0.0
    y0: float = 0.0
    x1: float = 0.0
    y1: float = 0.0


def _glyphs(run: ParsedRun) -> list[ParsedRun]:
    """``run`` as one run per glyph, with glyph k's edges x0 + k*cw and
    x0 + (k+1)*cw; a glyph comes back as is, its x1 never re-derived."""
    if len(run.text) == 1:
        return [run]
    cw = CHAR_WIDTH_RATIO * run.size
    offs = (o for s, e in run.segs for o in range(s, e))
    return [
        run._replace(text=c, x0=run.x0 + k * cw, x1=run.x0 + (k + 1) * cw, segs=((o, o + 1),))
        for k, (c, o) in enumerate(zip(run.text, offs))
    ]


def _units(runs: list[ParsedRun], cfg: ExtractConfig) -> list[ParsedRun]:
    """``runs`` in page order, split into glyphs where the module docstring
    says whole runs could group differently."""
    sizes: dict[float, set[float]] = {}
    for r in runs:
        sizes.setdefault(r.y0, set()).add(r.size)
    finite = isfinite(sum(r.x0 + r.y0 + r.size for r in runs))
    whole = finite and cfg.line_merge_tol_ratio >= 0 <= cfg.word_gap_ratio
    return [
        u for r in runs
        for u in ([r] if whole and r.size > 0 and sizes[r.y0] == {r.size} else _glyphs(r))
    ]


def _line_text(line: LayoutLine, cfg: ExtractConfig) -> str:
    """Join a line's runs left to right; a gap > word_gap_ratio*size before
    a run inserts one space unless the text before it ends in a space."""
    parts = [line.runs[0].text]
    for prev, r in zip(line.runs, line.runs[1:]):
        if r.x0 - prev.x1 > cfg.word_gap_ratio * r.size and prev.text[-1] != " ":
            parts.append(" ")
        parts.append(r.text)
    return "".join(parts)


def _group_lines(runs: list[ParsedRun], cfg: ExtractConfig) -> list[LayoutLine]:
    units = _units(runs, cfg)
    # cluster by baseline y (descending = top of page first, y-up coords)
    order = sorted(range(len(units)), key=lambda i: (-units[i].y0, units[i].x0, i))
    lines: list[LayoutLine] = []
    cur: list[ParsedRun] = []
    cur_y = None
    for i in order:
        r = units[i]
        if cur_y is None or abs(r.y0 - cur_y) <= cfg.line_merge_tol_ratio * r.size:
            cur.append(r)
            if cur_y is None:
                cur_y = r.y0
        else:
            lines.append(_mk_line(cur))
            cur = [r]
            cur_y = r.y0
    if cur:
        lines.append(_mk_line(cur))
    return lines


def _before(a: ParsedRun, b: ParsedRun) -> bool:
    """Every glyph of ``a`` sorts before every glyph of ``b`` by (x0, byte)."""
    last_x0 = a.x0 + (len(a.text) - 1) * (CHAR_WIDTH_RATIO * a.size)
    return (last_x0, a.segs[-1][1] - 1) < (b.x0, b.segs[0][0])


def _mk_line(units: list[ParsedRun]) -> LayoutLine:
    runs = sorted(units, key=lambda r: (r.x0, r.segs[0][0]))
    if not all(map(_before, runs, runs[1:])):
        # the runs' glyphs interleave: order them one glyph at a time
        glyphs = (g for r in units for g in _glyphs(r))
        runs = sorted(glyphs, key=lambda g: (g.x0, g.segs[0][0]))
    return LayoutLine(
        runs=runs,
        y0=min(r.y0 for r in runs),
        y1=max(r.y1 for r in runs),
        x0=min(r.x0 for r in runs),
    )


def layout_page(page: ParsedPage, cfg: ExtractConfig = DEFAULT_CONFIG) -> list[LayoutBlock]:
    """Group a page's runs into reading-ordered blocks."""
    lines = _group_lines(page.runs, cfg)
    # lines already ordered top-to-bottom; split into blocks on big gaps
    blocks: list[LayoutBlock] = []
    cur: list[LayoutLine] = []
    for ln in lines:
        if cur:
            gap = cur[-1].y0 - ln.y1  # bottom of prev line to top of this one
            size = max(r.size for r in ln.runs)
            if gap > cfg.block_gap_ratio * size:
                blocks.append(_mk_block(cur))
                cur = []
        cur.append(ln)
    if cur:
        blocks.append(_mk_block(cur))
    # reading order: top-to-bottom, then left-to-right (stable tie-break by
    # construction order)
    blocks.sort(key=lambda b: (-b.y1, b.x0))
    return blocks


def _mk_block(lines: list[LayoutLine]) -> LayoutBlock:
    return LayoutBlock(
        lines=lines,
        x0=min(ln.x0 for ln in lines),
        y0=min(ln.y0 for ln in lines),
        x1=max(max(r.x1 for r in ln.runs) for ln in lines),
        y1=max(ln.y1 for ln in lines),
    )


def page_text(
    page: ParsedPage, cfg: ExtractConfig = DEFAULT_CONFIG
) -> tuple[str, list[tuple[int, int]], int]:
    """Lay out one page: (reading-order text, raw-PDF byte ranges of its
    glyphs, n_blocks).

    With join_pages, the only code that knows the text format: lines are
    joined by a newline, blocks and pages by a blank line.
    """
    parts: list[str] = []
    blocks = layout_page(page, cfg)
    for blk in blocks:
        joiner = "\n\n"
        for ln in blk.lines:
            if parts:
                parts.append(joiner)
            joiner = "\n"
            parts.append(_line_text(ln, cfg))
    return "".join(parts), [s for r in page.runs for s in r.segs], len(blocks)


def join_pages(
    pages: list[tuple[str, list[tuple[int, int]], int]]
) -> tuple[str, list[tuple[int, int]], int]:
    """Join ``page_text`` results into (text, sorted maximal byte ranges
    into the raw PDF bytes, n_blocks). Pages without blocks leave no gap."""
    text = "\n\n".join(t for t, _, n in pages if n)
    ranges = merge_ranges(seg for _, segs, _ in pages for seg in segs)
    return text, ranges, sum(n for _, _, n in pages)


def layout_text_and_offsets(
    pages: list[ParsedPage], cfg: ExtractConfig = DEFAULT_CONFIG
) -> tuple[str, list[tuple[int, int]], int]:
    """Full-document reading-order text + merged byte spans + block count."""
    return join_pages([page_text(p, cfg) for p in pages])


def byte_ranges_to_base64_spans(
    ranges: list[tuple[int, int]], b64_len: int
) -> list[tuple[int, int]]:
    """Map decoded-byte ranges to covering char ranges in the base64 payload.

    base64 maps each 3-byte group to 4 chars; a byte range [b0,b1) is covered
    by base64 chars [floor(b0/3)*4, ceil(b1/3)*4). Deterministic and
    documented as the span contract for pdf payload kinds (spans point into
    the raw ``text`` column per FIXTURES.md §3, which for PDFs is base64).
    """
    return merge_ranges(
        ((s // 3) * 4, min(((e + 2) // 3) * 4, b64_len)) for s, e in ranges
    )
