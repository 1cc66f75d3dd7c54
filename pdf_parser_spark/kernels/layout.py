"""Layout analysis: char → word → line → block grouping + reading order.

From-scratch reimplementation of the text-extraction semantics the reference
delegates to pdfplumber's ``page.extract_text()`` (chars→words→lines layout
grouping, ``pdf_api/core/pdf_analyzer.py:72``) and PyMuPDF's
``extractBLOCKS()`` (``pdf_api/core/pdf_image_extractor.py:188-195``), per
the north_star ("pdfminer-style layout analysis: char→word→line→block
grouping by bbox clustering, reading-order sort").

Determinism contract (SURVEY.md §7.3): all thresholds are exact float64
comparisons on writer-controlled coordinates (integers and 0.5 multiples);
sorts use total keys with original-index tie-breakers; text assembly is pure
integer/string ops. The same function runs in the golden pytest harness and
inside the Spark Arrow kernel.
"""
from __future__ import annotations

from dataclasses import dataclass, field

from .pdf_mini import ParsedChar, ParsedPage
from ..config import ExtractConfig, DEFAULT_CONFIG

__all__ = [
    "LayoutBlock", "layout_page", "page_text", "join_pages", "layout_text_and_offsets",
]


@dataclass
class LayoutLine:
    chars: list[ParsedChar]
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


def _line_text(line: LayoutLine, cfg: ExtractConfig) -> tuple[str, list[int]]:
    """Assemble a line's text; returns (text, byte_offset per char or -1).

    Chars are joined left-to-right; a gap > word_gap_ratio*size between
    consecutive chars inserts a single synthetic space (offset -1 — synthetic
    chars carry no span).
    """
    parts: list[str] = []
    offs: list[int] = []
    prev: ParsedChar | None = None
    for ch in line.chars:
        if prev is not None and (ch.x0 - prev.x1) > cfg.word_gap_ratio * ch.size:
            if parts and parts[-1] != " ":
                parts.append(" ")
                offs.append(-1)
        parts.append(ch.char)
        offs.append(ch.byte_off)
        prev = ch
    # trim trailing synthetic space
    while parts and parts[-1] == " " and offs[-1] == -1:
        parts.pop()
        offs.pop()
    return "".join(parts), offs


def _group_lines(chars: list[ParsedChar], cfg: ExtractConfig) -> list[LayoutLine]:
    if not chars:
        return []
    # cluster by baseline y (descending = top of page first, y-up coords)
    order = sorted(range(len(chars)), key=lambda i: (-chars[i].y0, chars[i].x0, i))
    lines: list[LayoutLine] = []
    cur: list[ParsedChar] = []
    cur_y = None
    for i in order:
        ch = chars[i]
        if cur_y is None or abs(ch.y0 - cur_y) <= cfg.line_merge_tol_ratio * ch.size:
            cur.append(ch)
            if cur_y is None:
                cur_y = ch.y0
        else:
            lines.append(_mk_line(cur))
            cur = [ch]
            cur_y = ch.y0
    if cur:
        lines.append(_mk_line(cur))
    return lines


def _mk_line(chs: list[ParsedChar]) -> LayoutLine:
    chs = sorted(chs, key=lambda c: (c.x0, c.byte_off))
    return LayoutLine(
        chars=chs,
        y0=min(c.y0 for c in chs),
        y1=max(c.y1 for c in chs),
        x0=min(c.x0 for c in chs),
    )


def layout_page(page: ParsedPage, cfg: ExtractConfig = DEFAULT_CONFIG) -> list[LayoutBlock]:
    """Group a page's chars into reading-ordered blocks."""
    lines = _group_lines(page.chars, cfg)
    # lines already ordered top-to-bottom; split into blocks on big gaps
    blocks: list[LayoutBlock] = []
    cur: list[LayoutLine] = []
    for ln in lines:
        if cur:
            gap = cur[-1].y0 - ln.y1  # bottom of prev line to top of this one
            size = max(c.size for c in ln.chars)
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
        x1=max(max(c.x1 for c in ln.chars) for ln in lines),
        y1=max(ln.y1 for ln in lines),
    )


def page_text(
    page: ParsedPage, cfg: ExtractConfig = DEFAULT_CONFIG
) -> tuple[str, list[int], int]:
    """Lay out one page: (reading-order text, raw-PDF byte offset per char
    or -1 for synthetic chars and joiners, n_blocks).

    With join_pages, the only code that knows the text format: lines are
    joined by a newline, blocks and pages by a blank line.
    """
    parts: list[str] = []
    offs: list[int] = []
    blocks = layout_page(page, cfg)
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


def join_pages(
    pages: list[tuple[str, list[int], int]]
) -> tuple[str, list[tuple[int, int]], int]:
    """Join ``page_text`` results into (text, sorted maximal byte ranges
    into the raw PDF bytes, n_blocks). Pages without blocks leave no gap."""
    text = "\n\n".join(t for t, _, n in pages if n)
    ranges: list[list[int]] = []
    for off in sorted({o for _, offs, _ in pages for o in offs if o >= 0}):
        if ranges and ranges[-1][1] == off:
            ranges[-1][1] = off + 1
        else:
            ranges.append([off, off + 1])
    return text, [(s, e) for s, e in ranges], sum(n for _, _, n in pages)


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
    spans = [((s // 3) * 4, min(((e + 2) // 3) * 4, b64_len)) for s, e in ranges]
    spans.sort()
    merged: list[tuple[int, int]] = []
    for s, e in spans:
        if merged and s <= merged[-1][1]:
            merged[-1] = (merged[-1][0], max(merged[-1][1], e))
        else:
            merged.append((s, e))
    return merged
