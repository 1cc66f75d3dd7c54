"""HTML boilerplate-strip kernel (K8) tests."""
from __future__ import annotations

import re
from dataclasses import dataclass, field

from hypothesis import example, given, settings
from hypothesis import strategies as st

from pdf_parser_spark.config import DEFAULT_CONFIG, ExtractConfig
from pdf_parser_spark.kernels.html_extract import (
    _SCRIPT_RE,
    _TAG_RE,
    _decode_entities,
    extract_html,
)

PAGE = (
    "<html><head><title>t</title><style>.x{}</style>"
    "<script>if(1<2){alert('<p>')}</script></head>"
    "<body><header><nav>"
    '<a href="/">home</a> <a href="/a">about</a> <a href="/b">products</a>'
    "</nav></header>"
    "<article><h1>The Main Headline Here</h1>"
    "<p>This is the first real paragraph of main content with plenty of words "
    "to clear the minimum block length threshold easily.</p>"
    "<p>Second paragraph, also long enough to be kept by the density "
    'heuristics, with one inline <a href="/x">link</a> inside it.</p></article>'
    "<aside><p>Related links sidebar content</p></aside>"
    "<footer><a href='/p'>privacy</a> <a href='/t'>terms</a></footer>"
    "</body></html>"
)


def test_strips_nav_footer_scripts():
    text, spans, n = extract_html(PAGE)
    assert "home" not in text
    assert "privacy" not in text
    assert "alert" not in text
    assert "t" != text[:1] or "title" not in text  # <title> dropped


def test_keeps_main_content_and_heading():
    text, spans, n = extract_html(PAGE)
    assert text.startswith("The Main Headline Here")
    assert "first real paragraph" in text
    assert "Second paragraph" in text
    assert "one inline link inside" in text  # low link-density inline <a> kept
    assert n == 3  # h1 + 2 paragraphs


def test_drops_link_farms():
    farm = (
        "<html><body><div>"
        + " ".join(f'<a href="/{i}">some repeated navigation link {i}</a>' for i in range(20))
        + "</div><p>"
        + "genuine article prose " * 5
        + "</p></body></html>"
    )
    text, _, n = extract_html(farm)
    assert "navigation link" not in text
    assert "genuine article prose" in text


def test_spans_point_into_raw_html():
    text, spans, _ = extract_html(PAGE)
    assert spans == sorted(spans)
    for s, e in spans:
        assert 0 <= s < e <= len(PAGE)
    # every span's raw slice, normalized, appears in the output text
    for s, e in spans:
        frag = " ".join(PAGE[s:e].split())
        for piece in frag.split():
            if piece.isalpha():
                assert piece in text
                break


def test_spans_non_overlapping():
    _, spans, _ = extract_html(PAGE)
    for (s1, e1), (s2, e2) in zip(spans, spans[1:]):
        assert e1 <= s2


def test_entities_decoded():
    html = "<html><body><p>" + "alpha &amp; beta &lt;gamma&gt; delta epsilon zeta eta theta</p></body></html>"
    text, _, _ = extract_html(html)
    assert "alpha & beta <gamma> delta" in text


def test_empty_and_textless():
    assert extract_html("<html><body></body></html>")[0] == ""
    assert extract_html("<div></div>")[2] == 0


def test_numeric_and_named_entities_decoded():
    """r04 verdict gap #1: numeric (&#NNNN;/&#xHH;), windows-1252 C1
    numerics, and the common named entities must decode; unknown names and
    out-of-range codepoints stay literal (single-pass, browser-style)."""
    from pdf_parser_spark.kernels.html_extract import _decode_entities

    cases = {
        "it&#8217;s": "it’s",
        "what&#x27;s": "what's",
        "don&#146;t": "don’t",           # C1 -> windows-1252 remap
        "a &mdash; b": "a — b",
        "&ldquo;q&rdquo;": "“q”",
        "caf&eacute;": "café",
        "&copy;&trade;&deg;": "©™°",
        "&amp;lt;": "&lt;",              # single decode, never double
        "&unknownname;": "&unknownname;",
        "&amp": "&amp",                  # semicolon required
        "&#0;": "&#0;",                  # out of range stays literal
        "&#xD800;": "&#xD800;",          # surrogate stays literal
        "a&#31;b": "a&#31;b",            # C0 controls stay literal: \x1f is
        "a&#x1f;b": "a&#x1f;b",          # the digest queries' separator
        "a&#12;b": "a&#12;b",
        "a&#9;b": "a\tb",                # tab and newline still decode
    }
    for raw, want in cases.items():
        assert _decode_entities(raw) == want, raw


def test_entities_decode_inside_blocks_spans_stay_raw():
    html = (
        "<html><body><p>it&#8217;s a caf&eacute; &mdash; genuinely "
        "&ldquo;nice&rdquo; spot overall</p></body></html>"
    )
    text, spans, n = extract_html(html)
    assert n == 1
    assert "it’s a café — genuinely “nice” spot overall" == text
    # spans index the RAW html (entities un-decoded there)
    for s, e in spans:
        assert 0 <= s < e <= len(html)
    s, e = spans[0]
    assert "&#8217;" in html[s:e]


# ------------------------------------------------ frozen block-object oracle ---
# The kernel before it became one pass over one tag table: a _Block object
# per block, a flush closure, three tag sets, a per-char script mask and a
# regex whitespace collapse. extract_html must return exactly what it did.

_REF_WS_RE = re.compile(r"\s+")
_REF_BLOCK_TAGS = frozenset(
    "p div article section h1 h2 h3 h4 h5 h6 li td th pre blockquote main "
    "table ul ol tr br title body html head nav header footer aside figure "
    "figcaption form".split()
)
_REF_BOILER_TAGS = frozenset("nav header footer aside form button select".split())
_REF_HEADING_TAGS = frozenset("h1 h2 h3 h4 h5 h6".split())
_REF_DROP_CONTENT_TAGS = frozenset("head title".split())


@dataclass
class _Block:
    tag: str
    segments: list[tuple[int, int, bool]] = field(default_factory=list)
    boiler: bool = False
    dropped: bool = False

    def finalize(self, raw):
        texts, link_len, spans = [], 0, []
        for s, e, in_link in self.segments:
            seg = raw[s:e]
            norm = _REF_WS_RE.sub(" ", _decode_entities(seg)).strip()
            if not norm:
                continue
            texts.append(norm)
            if in_link:
                link_len += len(norm)
            ls = len(seg) - len(seg.lstrip())
            rs = len(seg) - len(seg.rstrip())
            spans.append((s + ls, e - rs))
        text = " ".join(texts)
        return text, len(text), link_len, spans


def ref_extract_html(raw, cfg=DEFAULT_CONFIG):
    masked_chars = list(raw)
    for m in _SCRIPT_RE.finditer(raw):
        for i in range(m.start(), m.end()):
            masked_chars[i] = " "
    masked = "".join(masked_chars)

    blocks = []
    cur = _Block(tag="body")
    link_depth = boiler_depth = drop_depth = 0
    pos = 0

    def flush(next_tag):
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
        if tag in _REF_BOILER_TAGS and not self_close:
            boiler_depth = max(0, boiler_depth - 1) if closing else boiler_depth + 1
        if tag in _REF_DROP_CONTENT_TAGS and not self_close:
            drop_depth = max(0, drop_depth - 1) if closing else drop_depth + 1
        if tag in _REF_BLOCK_TAGS:
            flush(next_tag=tag if not closing else "body")
        pos = m.end()
    if pos < len(masked) and masked[pos:].strip():
        cur.segments.append((pos, len(masked), link_depth > 0))
    if cur.segments:
        blocks.append(cur)

    kept_texts, kept_spans, n_kept = [], [], 0
    for blk in blocks:
        if blk.dropped or blk.boiler:
            continue
        text, tlen, link_len, spans = blk.finalize(raw)
        if tlen == 0:
            continue
        keep = (
            tlen >= cfg.html_min_block_chars
            and link_len / tlen <= cfg.html_max_link_density
        ) or (
            blk.tag in _REF_HEADING_TAGS
            and tlen >= cfg.html_heading_min_chars
            and link_len == 0
        )
        if keep:
            kept_texts.append(text)
            kept_spans.extend(spans)
            n_kept += 1

    kept_spans.sort()
    merged = []
    for s, e in kept_spans:
        if merged and s <= merged[-1][1]:
            merged[-1] = (merged[-1][0], max(merged[-1][1], e))
        else:
            merged.append((s, e))
    return "\n\n".join(kept_texts), merged, n_kept


# ------------------------------------------------------------- tag soup -------

_TOKENS = [
    "<p>", "</p>", "<P class='x'>", "<div>", "</DIV>", "<h1>", "</h1>", "<H2 id=a>",
    "<a href='/x'>", "</a>", "<A HREF=\"y\">", "</A >", "<a/>", "<br/>", "<br>",
    "<nav>", "</nav>", "<NAV>", "<head>", "</head>", "<title>", "</title>",
    "<header>", "</footer>", "<aside>", "<form>", "</form>", "<button>",
    "</button>", "<select/>", "<span>", "</span>", "<li>", "<td>", "<b>",
    "<html>", "<body>", "</body>", "< / p >", "<h3/>", "</nav></nav>",
    "<script>x<p>y</p></script>", "<SCRIPT type=t>a</SCRIPT >", "<style>.p{}</style>",
    "<!-- c <p>d</p> -->", "<!---->", "<!doctype html>", "<!",
    "&amp;", "&lt;", "&#31;", "&#x27;", "&#146;", "&nbsp;", "&mdash;", "&shy;",
    "&#9;", "&bogus;", "&", ";", "#", "!", "-", "<", ">", "/",
    " ", "  ", "\n", "\t", "\xa0", "\u2003",
    "word", "Content", "text that is long enough to be a kept block",
]
_SOUP = st.lists(
    st.one_of(
        st.sampled_from(_TOKENS),
        st.text(alphabet="ab &;#!-<>/=' \n", max_size=6),
    ),
    max_size=60,
).map("".join)
# small thresholds so random blocks are often kept, with a heading rule
# that differs from the density rule
_LOW = ExtractConfig(
    html_min_block_chars=4, html_max_link_density=0.5, html_heading_min_chars=2
)


@given(_SOUP, st.sampled_from([DEFAULT_CONFIG, _LOW]))
@settings(max_examples=400, deadline=None)
@example("<a/>text after a self-closed link is not link text", DEFAULT_CONFIG)
@example("<p>a&#31;b and more words than the block minimum</p>", DEFAULT_CONFIG)
@example("<a href='/'><h1>A Heading Inside A Link</h1></a>", DEFAULT_CONFIG)
@example("<nav>menu</nav>text after the closed nav is main content", DEFAULT_CONFIG)
@example("<p>long paragraph text<button>tail after an unclosed button", DEFAULT_CONFIG)
@example("</p></a></nav></head>closers without openers stay at depth zero", _LOW)
@example(PAGE, DEFAULT_CONFIG)
def test_extract_html_matches_block_object_oracle(raw, cfg):
    assert extract_html(raw, cfg) == ref_extract_html(raw, cfg)
