"""HTML boilerplate stripping: readability-style text/link-density heuristics.

Required by the north_star (BASELINE.json:6 — "HTML boilerplate stripping via
text-density/link-density DOM heuristics à la readability"); absent from the
reference (SURVEY.md §2.10 K8), so this is a from-scratch kernel.

Algorithm (deterministic, regex tokenizer — no external HTML lib):

1. Blank out ``<script>``/``<style>``/comments with spaces of the same
   length, so tags inside them are never seen and offsets stay valid.
2. One linear scan of tags and text nodes. ``_TAGS`` classifies a tag by the
   depth counter it opens or closes (link ``<a>``; boilerplate
   nav/header/footer/aside/form/button/select; dropped content head/title)
   and by whether it starts a block; unclassified tags only end a text node.
3. Text nodes accumulate into the current *block*, delimited by block-level
   tags (p, div, article, section, h1..h6, li, td, th, pre, blockquote, main,
   table, ul, ol, tr, br, title, body, html, head, nav, header, footer,
   aside, figure, figcaption, form). A block that starts, or has a text node,
   inside boilerplate or dropped content is discarded.
4. Per block compute ``text_len`` (entity-decoded, whitespace-collapsed) and
   ``link_text_len`` (portion inside <a>); keep a block iff:
   - link_density = link_text_len / text_len <= max_link_density, AND
   - text_len >= min_block_chars, OR (block tag is h1..h6 and
     text_len >= heading_min_chars and link_text_len == 0).
5. Output: kept blocks' normalized text joined by "\\n\\n"; spans are the
   merged (start,end) character ranges of the contributing raw text nodes in
   the ORIGINAL html string (trimmed to their non-whitespace extent).
"""
from __future__ import annotations

import re

from ..config import ExtractConfig, DEFAULT_CONFIG
from .geometry import merge_ranges

__all__ = ["extract_html"]

_SCRIPT_RE = re.compile(
    r"<script\b.*?</script\s*>|<style\b.*?</style\s*>|<!--.*?-->",
    re.DOTALL | re.IGNORECASE,
)
_TAG_RE = re.compile(r"<\s*(/?)\s*([a-zA-Z][a-zA-Z0-9]*)[^>]*?(/?)\s*>")
_HEADING_TAGS = frozenset("h1 h2 h3 h4 h5 h6".split())

# tag -> (index into the depth counters it opens/closes or None, starts a block)
_LINK, _BOILER, _DROP = 0, 1, 2
_TAGS = {
    **dict.fromkeys(
        "p div article section h1 h2 h3 h4 h5 h6 li td th pre blockquote main "
        "table ul ol tr br body html figure figcaption".split(), (None, True)),
    **dict.fromkeys("nav header footer aside form".split(), (_BOILER, True)),
    **dict.fromkeys("button select".split(), (_BOILER, False)),
    **dict.fromkeys("head title".split(), (_DROP, True)),
    "a": (_LINK, False),
}

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


def extract_html(
    raw: str, cfg: ExtractConfig = DEFAULT_CONFIG
) -> tuple[str, list[tuple[int, int]], int]:
    """Return (main_text, spans into raw html, n_blocks_kept)."""
    masked = _SCRIPT_RE.sub(lambda m: " " * (m.end() - m.start()), raw)
    # blocks are (tag, [(raw_start, raw_end, inside_link) per text node]),
    # kept only outside boilerplate and dropped content
    blocks: list[tuple[str, list[tuple[int, int, bool]]]] = []
    tag, segs, skip = "body", [], False
    depth = [0, 0, 0]  # link, boilerplate, dropped content
    pos = 0
    # every tag ends at a '>': past the last one no attempt can match, and
    # each attempt there would scan to the end of the string
    for m in _TAG_RE.finditer(masked, 0, masked.rfind(">") + 1):
        start = m.start()
        if start > pos and not masked[pos:start].isspace():
            skip = skip or depth[_BOILER] > 0 or depth[_DROP] > 0
            segs.append((pos, start, depth[_LINK] > 0))
        pos = m.end()
        closing, name, self_close = m.groups()
        name = name.lower()
        kind = _TAGS.get(name)
        if kind is None:
            continue
        counter, starts_block = kind
        if counter is not None and not self_close:
            depth[counter] = max(0, depth[counter] - 1) if closing else depth[counter] + 1
        if starts_block:
            if segs and not skip:
                blocks.append((tag, segs))
            tag, segs = ("body" if closing else name), []
            skip = depth[_BOILER] > 0 or depth[_DROP] > 0
    if pos < len(masked) and not masked[pos:].isspace():
        segs.append((pos, len(masked), depth[_LINK] > 0))
    if segs and not skip:
        blocks.append((tag, segs))

    kept_texts: list[str] = []
    kept_spans: list[tuple[int, int]] = []
    for tag, segs in blocks:
        texts: list[str] = []
        spans: list[tuple[int, int]] = []
        link_len = 0
        for s, e, in_link in segs:
            seg = raw[s:e]
            norm = " ".join((_decode_entities(seg) if "&" in seg else seg).split())
            if not norm:
                continue
            texts.append(norm)
            if in_link:
                link_len += len(norm)
            # trim span to non-whitespace extent of the raw segment
            spans.append((e - len(seg.lstrip()), s + len(seg.rstrip())))
        text = " ".join(texts)
        tlen = len(text)
        if tlen == 0:
            continue
        if (
            tlen >= cfg.html_min_block_chars
            and link_len / tlen <= cfg.html_max_link_density
        ) or (
            tag in _HEADING_TAGS and tlen >= cfg.html_heading_min_chars and link_len == 0
        ):
            kept_texts.append(text)
            kept_spans.extend(spans)
    return "\n\n".join(kept_texts), merge_ranges(kept_spans), len(kept_texts)
