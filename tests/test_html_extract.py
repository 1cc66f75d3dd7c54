"""HTML boilerplate-strip kernel (K8) tests."""
from __future__ import annotations

from pdf_parser_spark.kernels.html_extract import extract_html

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
