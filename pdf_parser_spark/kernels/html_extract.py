"""HTML boilerplate stripping: readability-style text/link-density heuristics.

Required by the north_star (BASELINE.json:6 — "HTML boilerplate stripping via
text-density/link-density DOM heuristics à la readability"); absent from the
reference (SURVEY.md §2.10 K8), so this is a from-scratch kernel.

Algorithm (deterministic, regex tokenizer — no external HTML lib):

1. Strip ``<script>``/``<style>``/comments wholesale (they never contribute
   main content).
2. Linear scan of tags and text nodes; maintain a stack of open elements and
   boilerplate-ancestor depth (nav/header/footer/aside/form/button/select).
3. Text nodes accumulate into the current *block*, delimited by block-level
   tags (p, div, article, section, h1..h6, li, td, th, pre, blockquote, main,
   table, ul, ol, tr, br, title, body, html, head, nav, header, footer,
   aside, figure, figcaption).
4. Per block compute ``text_len`` (entity-decoded, whitespace-collapsed) and
   ``link_text_len`` (portion inside <a>); keep a block iff:
   - not inside a boilerplate ancestor, AND
   - link_density = link_text_len / text_len <= max_link_density, AND
   - text_len >= min_block_chars, OR (block tag is h1..h6 and
     text_len >= heading_min_chars and link_text_len == 0).
5. Output: kept blocks' normalized text joined by "\\n\\n"; spans are the
   merged (start,end) character ranges of the contributing raw text nodes in
   the ORIGINAL html string (trimmed to their non-whitespace extent).
"""
from __future__ import annotations

import re
from dataclasses import dataclass, field

from ..config import ExtractConfig, DEFAULT_CONFIG

__all__ = ["extract_html"]

_SCRIPT_RE = re.compile(
    r"<script\b.*?</script\s*>|<style\b.*?</style\s*>|<!--.*?-->",
    re.DOTALL | re.IGNORECASE,
)
_TAG_RE = re.compile(r"<\s*(/?)\s*([a-zA-Z][a-zA-Z0-9]*)[^>]*?(/?)\s*>")
_WS_RE = re.compile(r"\s+")

_BLOCK_TAGS = frozenset(
    "p div article section h1 h2 h3 h4 h5 h6 li td th pre blockquote main "
    "table ul ol tr br title body html head nav header footer aside figure "
    "figcaption form".split()
)
_BOILER_TAGS = frozenset("nav header footer aside form button select".split())
_HEADING_TAGS = frozenset("h1 h2 h3 h4 h5 h6".split())
_DROP_CONTENT_TAGS = frozenset("head title".split())

# Named character references: the XML five + the names that dominate wild
# HTML (typography, spaces, legal marks, arrows/math common in docs, and the
# Latin-1 accents). Wild pages overwhelmingly use this head of the WHATWG
# table; anything unknown is left literal (browser behavior for unknown
# names). r04 verdict gap #1: the previous seven-entry table passed numeric
# references (&#8217;) and common names (&mdash;) through as literal text.
_NAMED_ENTITIES = {
    "amp": "&", "lt": "<", "gt": ">", "quot": '"', "apos": "'",
    "nbsp": " ", "ensp": " ", "emsp": " ", "thinsp": " ",
    "shy": "­",
    "mdash": "—", "ndash": "–",
    "lsquo": "‘", "rsquo": "’", "sbquo": "‚",
    "ldquo": "“", "rdquo": "”", "bdquo": "„",
    "laquo": "«", "raquo": "»",
    "hellip": "…", "middot": "·", "bull": "•",
    "dagger": "†", "Dagger": "‡", "prime": "′",
    "Prime": "″", "oline": "‾", "frasl": "⁄",
    "copy": "©", "reg": "®", "trade": "™",
    "sect": "§", "para": "¶", "deg": "°",
    "plusmn": "±", "sup2": "²", "sup3": "³",
    "micro": "µ", "times": "×", "divide": "÷",
    "frac14": "¼", "frac12": "½", "frac34": "¾",
    "cent": "¢", "pound": "£", "yen": "¥", "euro": "€",
    "curren": "¤", "iexcl": "¡", "iquest": "¿",
    "larr": "←", "uarr": "↑", "rarr": "→", "darr": "↓",
    "harr": "↔", "minus": "−", "lowast": "∗",
    "infin": "∞", "ne": "≠", "le": "≤", "ge": "≥",
    "szlig": "ß", "agrave": "à", "aacute": "á",
    "acirc": "â", "atilde": "ã", "auml": "ä",
    "aring": "å", "aelig": "æ", "ccedil": "ç",
    "egrave": "è", "eacute": "é", "ecirc": "ê",
    "euml": "ë", "igrave": "ì", "iacute": "í",
    "icirc": "î", "iuml": "ï", "ntilde": "ñ",
    "ograve": "ò", "oacute": "ó", "ocirc": "ô",
    "otilde": "õ", "ouml": "ö", "oslash": "ø",
    "ugrave": "ù", "uacute": "ú", "ucirc": "û",
    "uuml": "ü", "yacute": "ý", "yuml": "ÿ",
}

# Numeric references in 0x80-0x9F are windows-1252 bytes in the wild
# (&#146; for an apostrophe is endemic); WHATWG mandates this remapping.
_C1_WINDOWS_1252 = {
    0x80: "€", 0x82: "‚", 0x83: "ƒ", 0x84: "„",
    0x85: "…", 0x86: "†", 0x87: "‡", 0x88: "ˆ",
    0x89: "‰", 0x8A: "Š", 0x8B: "‹", 0x8C: "Œ",
    0x8E: "Ž", 0x91: "‘", 0x92: "’", 0x93: "“",
    0x94: "”", 0x95: "•", 0x96: "–", 0x97: "—",
    0x98: "˜", 0x99: "™", 0x9A: "š", 0x9B: "›",
    0x9C: "œ", 0x9E: "ž", 0x9F: "Ÿ",
}

# One pattern, three arms: decimal, hex, named. The trailing ';' is required
# (the legacy semicolon-less forms are ambiguous mid-word and rare in
# post-2000 HTML); unknown names and out-of-range codepoints stay literal.
_ENTITY_RE = re.compile(r"&(?:#([0-9]{1,8})|#[xX]([0-9a-fA-F]{1,6})|([a-zA-Z][a-zA-Z0-9]{1,31}));")


def _entity_char(m: re.Match) -> str:
    dec, hexa, name = m.groups()
    if name is not None:
        return _NAMED_ENTITIES.get(name, m.group(0))
    cp = int(dec, 10) if dec is not None else int(hexa, 16)
    if cp in _C1_WINDOWS_1252:
        return _C1_WINDOWS_1252[cp]
    if cp > 0x10FFFF or 0xD800 <= cp <= 0xDFFF:
        return m.group(0)  # spec says U+FFFD; literal is safer for spans
    if cp < 0x20 and cp not in (0x09, 0x0A):
        return m.group(0)  # C0 controls (e.g. the \x1f digest separator)
    return chr(cp)


def _decode_entities(s: str) -> str:
    return _ENTITY_RE.sub(_entity_char, s)


def _normalize(s: str) -> str:
    return _WS_RE.sub(" ", _decode_entities(s)).strip()


@dataclass
class _Block:
    tag: str
    segments: list[tuple[int, int, bool]] = field(default_factory=list)
    # (raw_start, raw_end, inside_link) per text node
    boiler: bool = False
    dropped: bool = False

    def finalize(self, raw: str) -> tuple[str, int, int, list[tuple[int, int]]]:
        texts: list[str] = []
        link_len = 0
        spans: list[tuple[int, int]] = []
        for s, e, in_link in self.segments:
            seg = raw[s:e]
            norm = _normalize(seg)
            if not norm:
                continue
            texts.append(norm)
            if in_link:
                link_len += len(norm)
            # trim span to non-whitespace extent of the raw segment
            ls = len(seg) - len(seg.lstrip())
            rs = len(seg) - len(seg.rstrip())
            spans.append((s + ls, e - rs))
        text = " ".join(texts)
        return text, len(text), link_len, spans


def extract_html(
    raw: str, cfg: ExtractConfig = DEFAULT_CONFIG
) -> tuple[str, list[tuple[int, int]], int]:
    """Return (main_text, spans into raw html, n_blocks_kept)."""
    # Blank out scripts/styles/comments in a COPY with same length so raw
    # offsets stay valid.
    masked_chars = list(raw)
    for m in _SCRIPT_RE.finditer(raw):
        for i in range(m.start(), m.end()):
            masked_chars[i] = " "
    masked = "".join(masked_chars)

    blocks: list[_Block] = []
    cur = _Block(tag="body")
    link_depth = 0
    boiler_depth = 0
    drop_depth = 0
    pos = 0

    def flush(next_tag: str) -> None:
        nonlocal cur
        if cur.segments:
            blocks.append(cur)
        cur = _Block(tag=next_tag, boiler=boiler_depth > 0, dropped=drop_depth > 0)

    for m in _TAG_RE.finditer(masked):
        if m.start() > pos:
            seg_start, seg_end = pos, m.start()
            if masked[seg_start:seg_end].strip():
                cur.boiler = cur.boiler or boiler_depth > 0
                cur.dropped = cur.dropped or drop_depth > 0
                cur.segments.append((seg_start, seg_end, link_depth > 0))
        closing, tag, self_close = m.group(1) == "/", m.group(2).lower(), m.group(3) == "/"
        if tag == "a" and not self_close:
            link_depth = max(0, link_depth - 1) if closing else link_depth + 1
        if tag in _BOILER_TAGS and not self_close:
            boiler_depth = max(0, boiler_depth - 1) if closing else boiler_depth + 1
        if tag in _DROP_CONTENT_TAGS and not self_close:
            drop_depth = max(0, drop_depth - 1) if closing else drop_depth + 1
        if tag in _BLOCK_TAGS:
            flush(next_tag=tag if not closing else "body")
        pos = m.end()
    if pos < len(masked) and masked[pos:].strip():
        cur.segments.append((pos, len(masked), link_depth > 0))
    if cur.segments:
        blocks.append(cur)

    kept_texts: list[str] = []
    kept_spans: list[tuple[int, int]] = []
    n_kept = 0
    for blk in blocks:
        if blk.dropped or blk.boiler:
            continue
        text, tlen, link_len, spans = blk.finalize(raw)
        if tlen == 0:
            continue
        link_density = link_len / tlen
        is_heading = blk.tag in _HEADING_TAGS
        keep = (
            tlen >= cfg.html_min_block_chars
            and link_density <= cfg.html_max_link_density
        ) or (is_heading and tlen >= cfg.html_heading_min_chars and link_len == 0)
        if keep:
            kept_texts.append(text)
            kept_spans.extend(spans)
            n_kept += 1

    kept_spans.sort()
    merged: list[tuple[int, int]] = []
    for s, e in kept_spans:
        if merged and s <= merged[-1][1]:
            merged[-1] = (merged[-1][0], max(merged[-1][1], e))
        else:
            merged.append((s, e))
    return "\n\n".join(kept_texts), merged, n_kept
