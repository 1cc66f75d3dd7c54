"""pdf_mini roundtrip, layout analysis, classification, image pipeline."""
from __future__ import annotations

import base64
import os
import subprocess
import sys

import pytest

from pdf_parser_spark.config import DEFAULT_CONFIG
from pdf_parser_spark.kernels import layout
from pdf_parser_spark.kernels.extract import extract_one
from pdf_parser_spark.kernels.images import extract_image_records
from pdf_parser_spark.kernels.layout import layout_page, layout_text_and_offsets, page_text
from pdf_parser_spark.kernels.pdf_classify import classify_pdf, doc_stats
from pdf_parser_spark.kernels.pdf_mini import (
    ImageSpec,
    PageSpec,
    PdfParseError,
    TextRun,
    build_pdf,
    deterministic_bytes,
    parse_pdf,
)


def _page_with_text(lines_blocks: list[list[str]], size: float = 10.0) -> PageSpec:
    runs = []
    y = 750.0
    for block in lines_blocks:
        for line in block:
            runs.append(TextRun(x=72.0, y=y, size=size, text=line))
            y -= 12.0
        y -= 18.0  # extra gap => new block
    return PageSpec(text_runs=runs)


def test_roundtrip_chars():
    page = _page_with_text([["hello world"], ["second block"]])
    doc = parse_pdf(build_pdf([page]))
    assert len(doc.pages) == 1
    chars = doc.pages[0].chars
    assert "".join(c.char for c in chars) == "hello worldsecond block"
    # monospace metric: each char advances 6pt at size 10
    assert chars[1].x0 - chars[0].x0 == pytest.approx(6.0)


def test_roundtrip_escapes():
    page = PageSpec(text_runs=[TextRun(72, 700, 10, r"a(b)c\d")])
    doc = parse_pdf(build_pdf([page]))
    assert "".join(c.char for c in doc.pages[0].chars) == r"a(b)c\d"


def test_layout_blocks_and_reading_order():
    spec = _page_with_text([["line one", "line two"], ["block two"]])
    page = parse_pdf(build_pdf([spec])).pages[0]
    assert len(layout_page(page)) == 2
    assert page_text(page)[0] == "line one\nline two\n\nblock two"


def test_layout_two_runs_same_line_get_space():
    # two Tj runs on one baseline with a gap -> synthetic single space
    page = PageSpec(
        text_runs=[TextRun(72, 700, 10, "left"), TextRun(150, 700, 10, "right")]
    )
    text, _, n = layout_text_and_offsets(parse_pdf(build_pdf([page])).pages)
    assert text == "left right"
    assert n == 1


def test_layout_byte_offsets_point_at_chars():
    one_page = [_page_with_text([["abcdef"]])]
    # pages join by a blank line; a page without chars leaves no gap
    three_pages = [_page_with_text([["a"]]), PageSpec(), _page_with_text([["b"], ["c"]])]
    for pages, want_text, want_blocks in (
        (one_page, "abcdef", 1),
        (three_pages, "a\n\nb\n\nc", 3),
    ):
        raw = build_pdf(pages)
        doc = parse_pdf(raw)
        text, ranges, n_blocks = layout_text_and_offsets(doc.pages)
        assert text == want_text
        assert n_blocks == want_blocks
        recovered = b"".join(raw[s:e] for s, e in ranges).decode("latin-1")
        assert recovered == want_text.replace("\n", "")


def test_drawing_counts_and_classification():
    page = PageSpec(text_runs=[TextRun(72, 700, 10, "x")], n_lines=700, n_rects=200, n_curves=150)
    doc = parse_pdf(build_pdf([page]))
    p = doc.pages[0]
    assert (p.n_lines, p.n_rects, p.n_curves) == (700, 200, 150)
    stats = doc_stats(doc)
    assert stats.total_vectors == 1050
    assert stats.pdf_type == "vector"


def test_classify_case_table():
    # exact reference CASE semantics incl. the ==100 gap (pdf_analyzer.py:118-136)
    assert classify_pdf(0, 0, 1001) == "vector"
    assert classify_pdf(0, 0, 1000) == "text"
    assert classify_pdf(50, 2, 0) == "scanned"
    assert classify_pdf(101, 2, 0) == "digital"
    assert classify_pdf(100, 2, 0) == "text"  # the reference's fall-through gap
    assert classify_pdf(5000, 0, 0) == "text"


def test_classification_total_over_kinds():
    for t in range(0, 300, 37):
        for i in (0, 1, 5):
            for v in (0, 500, 1500):
                assert classify_pdf(t, i, v) in {"vector", "scanned", "digital", "text"}


def test_classify_three_page_cap():
    pages = [_page_with_text([["some text here"]]) for _ in range(5)]
    pages[4].n_lines = 5000  # beyond the 3-page sample window
    stats = doc_stats(parse_pdf(build_pdf(pages)))
    assert stats.total_vectors == 0
    assert stats.pdf_type == "text"


def test_extract_one_lays_out_each_page_once(monkeypatch):
    calls = []
    group_lines = layout._group_lines
    monkeypatch.setattr(
        layout, "_group_lines", lambda chars, cfg: calls.append(1) or group_lines(chars, cfg)
    )

    def run(pages):
        calls.clear()
        kind = extract_one(base64.b64encode(build_pdf(pages)).decode())[0]
        return kind, len(calls)

    text_pages = [_page_with_text([[f"page {i} has some text"]]) for i in range(5)]
    assert run(text_pages) == ("pdf_text", 5)
    # a scanned doc stops after the classification sample: the text pages
    # past it are never laid out
    image = ImageSpec(100, 400, 300, 200, 600, 400, deterministic_bytes("A", 300))
    scanned = [PageSpec(images=[image]) for _ in range(3)] + text_pages[:2]
    assert run(scanned) == ("pdf_scanned", 3)


def test_image_pipeline_filters():
    big = deterministic_bytes("A", 300)
    page = PageSpec(
        text_runs=[TextRun(72, 780, 10, "t" * 30)],
        images=[
            ImageSpec(100, 400, 300, 200, 600, 400, big),        # kept
            ImageSpec(100, 100, 150, 100, 600, 400, big),        # dup md5
            ImageSpec(150, 450, 100, 80, 400, 320, deterministic_bytes("B", 200)),  # contained
            ImageSpec(450, 600, 30, 30, 60, 60, deterministic_bytes("C", 64)),      # min_size
            ImageSpec(500, 700, 200, 150, 400, 300, deterministic_bytes("D", 100)), # bounds
        ],
    )
    doc = parse_pdf(build_pdf([page]))
    recs = extract_image_records(doc.pages)
    reasons = [r.drop_reason for r in recs]
    assert [r.kept for r in recs] == [True, False, False, False, False]
    assert reasons == ["", "duplicate", "nms", "min_size", "bounds"]


def test_parse_errors():
    with pytest.raises(PdfParseError):
        parse_pdf(b"not a pdf")
    with pytest.raises(PdfParseError):
        parse_pdf(b"%PDF-1.4\ntruncated")


def test_extract_one_error_paths():
    assert extract_one("")[0] == "error"
    assert extract_one(None)[0] == "error"
    assert extract_one("JVBERi0xLj!!corrupt!!")[0] == "error"
    truncated = base64.b64encode(b"%PDF-1.4\n1 0 obj\n<< trunca").decode()
    assert extract_one(truncated)[0] == "error"


def test_extract_one_propagates_memory_error(monkeypatch):
    """Resource exhaustion fails the task instead of counting an error row."""
    from pdf_parser_spark.kernels import pdf_mini

    payload = base64.b64encode(build_pdf([_page_with_text([["hello"]])])).decode()
    assert extract_one(payload)[4]

    def oom(data):
        raise MemoryError

    monkeypatch.setattr(pdf_mini, "_parse_pdf_inner", oom)
    with pytest.raises(MemoryError):
        extract_one(payload)


def test_extract_one_pdf_spans_cover_text_bytes():
    page = _page_with_text([["alpha beta gamma"]])
    raw = build_pdf([page])
    payload = base64.b64encode(raw).decode()
    kind, text, spans, n_blocks, ok = extract_one(payload)
    assert kind == "pdf_text" and ok and n_blocks == 1
    assert text == "alpha beta gamma"
    # decode the span region: it must contain the literal text bytes
    covered = "".join(payload[s["start"]:s["end"]] for s in spans)
    # pad to base64 alignment for decode
    blob = base64.b64decode(payload)
    joined = b"".join(
        blob[(s["start"] // 4) * 3 : (s["end"] // 4) * 3] for s in spans
    )
    assert b"alpha beta gamma" in joined
    assert covered  # non-empty span text


# ------------------------------------------- PDF 1.5: ObjStm + xref stream ---


def _two_page_doc():
    from pdf_parser_spark.kernels.pdf_mini import (
        ImageSpec, PageSpec, TextRun, deterministic_bytes)

    return (
        [
            PageSpec(
                text_runs=[TextRun(72, 700, 10, "hello objstm world."),
                           TextRun(72, 680, 10, "second (escaped) line")],
                images=[ImageSpec(100, 400, 300, 200, 60, 40,
                                  deterministic_bytes("A", 500))],
                n_lines=2, n_rects=1, n_curves=1,
            ),
            PageSpec(text_runs=[TextRun(72, 700, 12, "page two text")]),
        ],
        {"Title": "T1", "Author": "A1", "CreationDate": "D:20260101120000Z"},
    )


def test_objstm_layout_parses_identically():
    """The PDF 1.5 layout (dict objects in an /ObjStm, binary xref stream
    with /W columns + Predictor 12) must parse to the same document as the
    classic 1.4 layout, and spans must still anchor into the raw bytes
    (content streams stay top-level)."""
    from pdf_parser_spark.kernels.pdf_mini import build_pdf, parse_pdf

    pages, info = _two_page_doc()
    d14 = build_pdf(pages, info=info)
    d15 = build_pdf(pages, info=info, objstm=True)
    assert d15.startswith(b"%PDF-1.5") and b"/Type /ObjStm" in d15
    assert b"trailer" not in d15  # the trailer dict lives in the xref stream
    p14, p15 = parse_pdf(d14), parse_pdf(d15)
    assert p15.metadata == p14.metadata == info
    assert len(p15.pages) == len(p14.pages)
    for a, b in zip(p14.pages, p15.pages):
        assert "".join(c.char for c in a.chars) == "".join(c.char for c in b.chars)
        assert [i.data for i in a.images] == [i.data for i in b.images]
        assert (a.n_lines, a.n_rects, a.n_curves) == (b.n_lines, b.n_rects, b.n_curves)
    ch = p15.pages[0].chars[0]
    assert d15[ch.byte_off : ch.byte_off + 1] == b"h"


def test_xref_stream_decode_and_consistency():
    """_decode_xref_stream recovers the typed rows (un-predicting the
    PNG-Up filter); a tampered type-1 offset makes parse_pdf raise."""
    import re
    import zlib

    from pdf_parser_spark.kernels.pdf_mini import (
        PdfParseError, _decode_xref_stream, _parse_objects, build_pdf, parse_pdf)

    pages, info = _two_page_doc()
    d15 = build_pdf(pages, info=info, objstm=True)
    objs, _offs, _heads = _parse_objects(d15)
    xref_body = next(b for b in objs.values() if b"/Type /XRef" in b)
    entries = _decode_xref_stream(xref_body)
    kinds = {t for t, _, _ in entries.values()}
    assert kinds == {0, 1, 2}  # free head + top-level + packed
    objstm_id = next(i for i, b in objs.items() if b"/Type /ObjStm" in b)
    packed = [(oid, f3) for oid, (t, f2, f3) in entries.items()
              if t == 2 and f2 == objstm_id]
    assert packed and [f3 for _, f3 in sorted(packed, key=lambda p: p[1])] == list(
        range(len(packed))
    )

    # tamper: bump one type-1 offset by one, re-predict, re-compress, splice
    raw = zlib.decompress(
        xref_body[xref_body.find(b"stream\n") + 7 : xref_body.rfind(b"\nendstream")]
    )
    cols = 7
    rows = []
    prev = bytes(cols)
    for i in range(0, len(raw), cols + 1):
        cur = bytes((a + b) & 0xFF for a, b in zip(raw[i + 1 : i + 1 + cols], prev))
        rows.append(bytearray(cur))
        prev = cur
    victim = next(r for r in rows if r[0] == 1 and int.from_bytes(r[1:5], "big") > 0)
    victim[4] = (victim[4] + 1) & 0xFF
    out = bytearray()
    prev = bytes(cols)
    for r in rows:
        out += b"\x02" + bytes((a - b) & 0xFF for a, b in zip(r, prev))
        prev = bytes(r)
    bad_stream = zlib.compress(bytes(out))
    start = d15.find(xref_body)
    i = start + xref_body.find(b"stream\n") + 7
    j = start + xref_body.rfind(b"\nendstream")
    tampered = d15[:i] + bad_stream + d15[j:]
    with pytest.raises(PdfParseError, match="mismatch|xref"):
        parse_pdf(tampered)


def test_objstm_payload_through_extraction_kernel():
    """A 1.5-layout payload rides the full extraction kernel to the same
    text as its 1.4 twin (classification, layout, spans all downstream of
    the parse)."""
    from pdf_parser_spark.kernels.pdf_mini import build_pdf

    from pdf_parser_spark.kernels.pdf_mini import PageSpec, TextRun

    # text-heavy doc -> classification takes the text branch
    lines = [TextRun(72, 700 - 14 * i, 10, f"line {i} of enough prose to classify as text.")
             for i in range(12)]
    out = {}
    for tag, objstm in (("14", False), ("15", True)):
        payload = base64.b64encode(
            build_pdf([PageSpec(text_runs=lines)], objstm=objstm)
        ).decode()
        kind, text, spans, n_blocks, ok = extract_one(payload, DEFAULT_CONFIG)
        out[tag] = (kind, text, n_blocks, ok)
    assert out["15"][3] and out["14"][3]
    assert out["15"][1] == out["14"][1] and "enough prose" in out["15"][1]
    assert out["15"][0] == out["14"][0] == "pdf_text"
    assert out["15"][2] == out["14"][2]


def test_hostile_fixture_taxonomy_buckets():
    """datagen's malformed arm must exercise DISTINCT PdfParseError taxonomy
    buckets end-to-end (r04 verdict task #6): lying xref offsets, corrupted
    ObjStm bytes, nonsense ObjStm header — each a typed failure, each an
    error row through extract_one (never a task-killing bare exception)."""
    import base64

    from pdf_parser_spark.datagen import _h, _make_malformed
    from pdf_parser_spark.kernels.extract import extract_one
    from pdf_parser_spark.kernels.pdf_mini import PdfParseError, parse_pdf

    by_variant = {}
    for d in range(600):
        v = _h(d, "bad") % 6
        by_variant.setdefault(v, d)
    assert sorted(by_variant) == [0, 1, 2, 3, 4, 5]

    want = {
        2: "no objects",
        3: "xref stream offset mismatch",
        4: "bad ObjStm stream",
        5: "short ObjStm header",
    }
    for v, d in sorted(by_variant.items()):
        payload = _make_malformed(d)
        kind, text, spans, n_blocks, ok = extract_one(payload)
        assert kind == "error" and ok is False, v
        if v in want:
            with pytest.raises(PdfParseError, match=want[v]):
                parse_pdf(base64.b64decode(payload))


def test_parse_pdf_never_raises_untyped():
    """Any byte garbage after the %PDF- magic must surface as PdfParseError,
    not ValueError/KeyError/zlib.error — an untyped escape inside
    mapInPandas would kill the whole Arrow batch's task."""
    import zlib as _zlib

    from pdf_parser_spark.kernels.pdf_mini import (
        PdfParseError,
        build_pdf,
        parse_pdf,
    )
    from pdf_parser_spark.kernels.pdf_mini import PageSpec, TextRun

    base = build_pdf(
        [PageSpec(text_runs=[TextRun(x=72, y=700, size=10, text="hello world")])],
        objstm=True,
    )
    # aggressive deterministic tampers: byte deletions, splices, bit flips
    tampers = [
        base[:50] + base[60:],
        base[:9] + b"0 0 obj\n<<" + base[9:],
        base.replace(b"/First", b"/Fbrst"),
        base.replace(b"/N ", b"/N 9", 1),
        bytes(b ^ 0x5A if 200 < i < 260 else b for i, b in enumerate(base)),
        base[: len(base) // 2],
    ]
    for i, bad in enumerate(tampers):
        try:
            parse_pdf(bad)  # surviving a tamper losslessly is acceptable
        except PdfParseError:
            pass  # typed: what the kernel's error accounting needs
        except Exception as e:  # pragma: no cover
            raise AssertionError(f"tamper {i} escaped untyped: {type(e).__name__}: {e}")


def test_kernels_import_no_spark():
    """The golden runner and the Spark layer wrap the same kernels, so no
    kernel module may import Spark."""
    code = (
        "import importlib, pkgutil, sys\n"
        "import pdf_parser_spark.kernels as k\n"
        "mods = [m.name for m in pkgutil.iter_modules(k.__path__, k.__name__ + '.')]\n"
        "for m in mods:\n"
        "    importlib.import_module(m)\n"
        "print(len(mods), sorted(n for n in sys.modules if n.startswith('pyspark')))\n"
    )
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out = subprocess.run(
        [sys.executable, "-c", code],
        cwd=repo, capture_output=True, text=True, check=True,
    )
    n_mods, spark_mods = out.stdout.split(" ", 1)
    assert int(n_mods) > 0
    assert spark_mods.strip() == "[]"
