"""Minimal deterministic PDF writer + parser (the "simple subset").

The reference leans on pdfplumber/PyMuPDF/pypdfium2 to open PDFs
(``pdf_api/core/pdf_analyzer.py:39``, ``pdf_api/core/pdf_image_extractor.py:110``,
``pdfplumber/smart_pdf_extractor.py:37-38``). Those libraries are not in this
container and a port is out of scope; instead we define a *simple, fully
specified subset* of PDF (FIXTURES.md §2: "minimal synthetic PDF … one content
stream of positioned text runs with bboxes") and implement both sides from
scratch:

- ``build_pdf(pages)``: emits a syntactically valid PDF 1.4 byte string with
  a correct xref table, page objects, content streams using only
  ``BT/Tf/Td/Tj/ET`` text ops, ``m/l/re/S/f/c`` path ops and
  ``q/cm/Do/Q`` image placements, plus raw ``/Subtype /Image`` XObjects.
- ``parse_pdf(data)``: tokenizes that subset back into per-page text runs
  (one ``ParsedRun`` per non-empty ``Tj``: text, bbox, size and the absolute
  byte ranges of its glyphs in ``data`` — the span source; no per-glyph
  object), image records (bbox + pixel dims + bytes), vector-drawing counts.

Both sides are pure Python/stdlib, deterministic, and shared by the datagen,
the golden runner and the Spark UDF kernels.

Geometry contract (fixed, so layout analysis is exact):
- MediaBox 0 0 612 792 (y-up, PDF convention).
- Monospace glyph metric: advance = CHAR_WIDTH_RATIO * fontsize; glyph bbox
  height = fontsize, baseline at Td y, top at y + fontsize.
"""
from __future__ import annotations

import re
import zlib
from dataclasses import dataclass, field
from typing import NamedTuple

from .limits import inflate

CHAR_WIDTH_RATIO = 0.6
PAGE_W = 612.0
PAGE_H = 792.0

_ESC = {"\\": "\\\\", "(": "\\(", ")": "\\)"}


# ---------------------------------------------------------------- writer ---

@dataclass
class TextRun:
    x: float
    y: float          # baseline y (PDF y-up)
    size: float
    text: str


@dataclass
class ImageSpec:
    x: float
    y: float          # lower-left of placement
    w: float          # placement width (pts)
    h: float          # placement height (pts)
    px_w: int         # intrinsic pixel width
    px_h: int         # intrinsic pixel height
    data: bytes       # raw payload bytes (opaque; md5-dedup'd downstream)
    fmt: str = "raw"      # 'jpeg' -> /DCTDecode, 'flate' -> /FlateDecode,
    #                       'raw' -> no /Filter (format metadata for A6)
    color: str = "rgb"    # 'rgb' -> /DeviceRGB, 'gray' -> /DeviceGray


@dataclass
class PageSpec:
    text_runs: list[TextRun] = field(default_factory=list)
    images: list[ImageSpec] = field(default_factory=list)
    n_lines: int = 0      # emit this many `l` path ops (vector drawings)
    n_rects: int = 0      # emit this many `re` ops
    n_curves: int = 0     # emit this many `c` ops


def _escape(s: str) -> str:
    return "".join(_ESC.get(c, c) for c in s)


def _fmt(v: float) -> str:
    # deterministic short float formatting: ints print as ints
    if float(v).is_integer():
        return str(int(v))
    return repr(round(float(v), 4))


def _content_stream(page: PageSpec, img_names: list[str]) -> bytes:
    out: list[str] = []
    for run in page.text_runs:
        out.append(
            f"BT /F1 {_fmt(run.size)} Tf {_fmt(run.x)} {_fmt(run.y)} Td "
            f"({_escape(run.text)}) Tj ET"
        )
    x = 36.0
    for _ in range(page.n_lines):
        out.append(f"{_fmt(x)} 100 m {_fmt(x + 8)} 120 l S")
        x = 36.0 + (x - 30.0) % 540.0
    for i in range(page.n_rects):
        out.append(f"{_fmt(40 + (i * 7) % 500)} 200 12 9 re f")
    for i in range(page.n_curves):
        out.append(
            f"{_fmt(40 + (i * 11) % 500)} 300 m "
            f"{_fmt(50 + (i * 11) % 500)} 310 {_fmt(60 + (i * 11) % 500)} 290 "
            f"{_fmt(70 + (i * 11) % 500)} 300 c S"
        )
    for name, img in zip(img_names, page.images):
        out.append(
            f"q {_fmt(img.w)} 0 0 {_fmt(img.h)} {_fmt(img.x)} {_fmt(img.y)} cm "
            f"/{name} Do Q"
        )
    return "\n".join(out).encode("latin-1")


def build_pdf(
    pages: list[PageSpec],
    info: dict[str, str] | None = None,
    objstm: bool = False,
) -> bytes:
    """Serialize pages into a valid single-xref PDF 1.4 byte string.

    ``info`` emits a document information dictionary (/Info in the trailer —
    Title/Author/CreationDate etc. as literal strings), the metadata surface
    the reference's analyzer carries (``pdf_api/core/pdf_analyzer.py:42-43``,
    ``pdfplumber/pdf_page_extractor.py:37-60``).

    ``objstm=True`` emits the PDF 1.5+ layout virtually every modern writer
    produces: dict-only objects (catalog, pages tree, page dicts, /Info)
    packed into one FlateDecode ``/Type /ObjStm`` object stream, and the
    classic xref table + trailer replaced by a binary cross-reference
    STREAM (``/Type /XRef``, ``/W [1 4 2]`` columns, rows PNG-Up-predicted
    via ``/DecodeParms << /Predictor 12 >>``). Content and image streams
    stay top-level (streams cannot live inside an object stream, spec
    §7.5.7), so glyph byte-range spans keep their raw-file anchors.
    """
    objs: list[bytes] = []  # 1-indexed object bodies (without "N 0 obj")
    page_obj_ids: list[int] = []

    def add(body: bytes) -> int:
        objs.append(body)
        return len(objs)

    catalog_id = add(b"")   # placeholder, filled after pages tree known
    pages_id = add(b"")

    for page in pages:
        img_ids: list[int] = []
        img_names: list[str] = []
        for k, img in enumerate(page.images):
            name = f"Im{k}"
            filt = {"jpeg": " /Filter /DCTDecode", "flate": " /Filter /FlateDecode"}.get(
                img.fmt, ""
            )
            cspace = "/DeviceGray" if img.color == "gray" else "/DeviceRGB"
            body = (
                f"<< /Type /XObject /Subtype /Image /Width {img.px_w} "
                f"/Height {img.px_h} /ColorSpace {cspace} /BitsPerComponent 8"
                f"{filt} /Length {len(img.data)} >>\nstream\n".encode("latin-1")
                + img.data
                + b"\nendstream"
            )
            img_ids.append(add(body))
            img_names.append(name)
        content = _content_stream(page, img_names)
        content_id = add(
            f"<< /Length {len(content)} >>\nstream\n".encode("latin-1")
            + content
            + b"\nendstream"
        )
        xobj = ""
        if img_ids:
            refs = " ".join(
                f"/{n} {i} 0 R" for n, i in zip(img_names, img_ids)
            )
            xobj = f" /XObject << {refs} >>"
        page_id = add(
            f"<< /Type /Page /Parent {pages_id} 0 R "
            f"/MediaBox [0 0 {_fmt(PAGE_W)} {_fmt(PAGE_H)}] "
            f"/Resources << /Font << /F1 << /Type /Font /Subtype /Type1 "
            f"/BaseFont /Courier >> >>{xobj} >> "
            f"/Contents {content_id} 0 R >>".encode("latin-1")
        )
        page_obj_ids.append(page_id)

    kids = " ".join(f"{i} 0 R" for i in page_obj_ids)
    objs[pages_id - 1] = (
        f"<< /Type /Pages /Kids [{kids}] /Count {len(page_obj_ids)} >>"
    ).encode("latin-1")
    objs[catalog_id - 1] = (
        f"<< /Type /Catalog /Pages {pages_id} 0 R >>"
    ).encode("latin-1")

    info_id = None
    if info:
        body = " ".join(f"/{k} ({_escape(v)})" for k, v in info.items())
        info_id = add(f"<< {body} >>".encode("latin-1"))

    if objstm:
        return _serialize_objstm(objs, catalog_id, info_id)

    buf = bytearray(b"%PDF-1.4\n")
    offsets = [0]
    for i, body in enumerate(objs, start=1):
        offsets.append(len(buf))
        buf += f"{i} 0 obj\n".encode("latin-1") + body + b"\nendobj\n"
    xref_at = len(buf)
    buf += f"xref\n0 {len(objs) + 1}\n".encode("latin-1")
    buf += b"0000000000 65535 f \n"
    for off in offsets[1:]:
        buf += f"{off:010d} 00000 n \n".encode("latin-1")
    info_ref = f" /Info {info_id} 0 R" if info_id else ""
    buf += (
        f"trailer\n<< /Size {len(objs) + 1} /Root {catalog_id} 0 R{info_ref} >>\n"
        f"startxref\n{xref_at}\n%%EOF\n"
    ).encode("latin-1")
    return bytes(buf)


def _serialize_objstm(objs: list[bytes], catalog_id: int, info_id: int | None) -> bytes:
    """PDF 1.5 serialization: ObjStm-packed dict objects + xref stream."""
    packed = [i for i, b in enumerate(objs, start=1) if b"stream\n" not in b]
    top = [i for i, b in enumerate(objs, start=1) if b"stream\n" in b]
    objstm_id = len(objs) + 1
    xref_id = len(objs) + 2

    # object stream: "oid off oid off ...\n" header, then the bodies,
    # space-separated (offsets are relative to /First)
    header_parts: list[str] = []
    bodies: list[bytes] = []
    off = 0
    for oid in packed:
        body = objs[oid - 1]
        header_parts.append(f"{oid} {off}")
        bodies.append(body)
        off += len(body) + 1
    header = (" ".join(header_parts) + "\n").encode("latin-1")
    stm_raw = header + b" ".join(bodies)
    stm_z = zlib.compress(stm_raw)
    objstm_body = (
        f"<< /Type /ObjStm /N {len(packed)} /First {len(header)} "
        f"/Filter /FlateDecode /Length {len(stm_z)} >>\nstream\n".encode("latin-1")
        + stm_z
        + b"\nendstream"
    )

    buf = bytearray(b"%PDF-1.5\n")
    offsets: dict[int, int] = {}
    for oid in top:
        offsets[oid] = len(buf)
        buf += f"{oid} 0 obj\n".encode("latin-1") + objs[oid - 1] + b"\nendobj\n"
    offsets[objstm_id] = len(buf)
    buf += f"{objstm_id} 0 obj\n".encode("latin-1") + objstm_body + b"\nendobj\n"

    # xref stream rows: W = [1 4 2] (type, 4-byte offset/objstm-id,
    # 2-byte gen/index), one row per object id 0..xref_id, PNG-Up
    # predicted (/Predictor 12, the layout real writers emit)
    xref_at = len(buf)
    rows: list[bytes] = []
    idx_in_stm = {oid: k for k, oid in enumerate(packed)}
    for oid in range(xref_id + 1):
        if oid == 0:
            rows.append(b"\x00" + (0).to_bytes(4, "big") + (65535).to_bytes(2, "big"))
        elif oid in idx_in_stm:
            rows.append(
                b"\x02"
                + objstm_id.to_bytes(4, "big")
                + idx_in_stm[oid].to_bytes(2, "big")
            )
        else:
            at = offsets[oid] if oid != xref_id else xref_at
            rows.append(b"\x01" + at.to_bytes(4, "big") + (0).to_bytes(2, "big"))
    cols = 7
    pred_rows = bytearray()
    prev = bytes(cols)
    for row in rows:
        pred_rows += b"\x02" + bytes((a - b) & 0xFF for a, b in zip(row, prev))
        prev = row
    xref_z = zlib.compress(bytes(pred_rows))
    info_ref = f" /Info {info_id} 0 R" if info_id else ""
    xref_body = (
        f"<< /Type /XRef /Size {xref_id + 1} /Root {catalog_id} 0 R{info_ref} "
        f"/W [1 4 2] /Filter /FlateDecode "
        f"/DecodeParms << /Predictor 12 /Columns {cols} >> "
        f"/Length {len(xref_z)} >>\nstream\n".encode("latin-1")
        + xref_z
        + b"\nendstream"
    )
    buf += f"{xref_id} 0 obj\n".encode("latin-1") + xref_body + b"\nendobj\n"
    buf += f"startxref\n{xref_at}\n%%EOF\n".encode("latin-1")
    return bytes(buf)


# ---------------------------------------------------------------- parser ---

class ParsedRun(NamedTuple):
    # one per non-empty Tj literal; glyph k spans x0 + k*cw .. x0 + (k+1)*cw
    # (cw = CHAR_WIDTH_RATIO * size), so glyph boxes are never stored
    text: str
    x0: float
    y0: float
    x1: float         # x0 + len(text) * cw, the last glyph's right edge
    y1: float
    size: float
    # raw-PDF byte ranges [start, end) holding the glyphs, one byte each in
    # text order: a plain glyph is its byte, an escaped one its backslash
    segs: tuple[tuple[int, int], ...]


@dataclass
class ParsedImage:
    x0: float
    y0: float
    x1: float
    y1: float
    px_w: int
    px_h: int
    data: bytes
    img_idx: int
    # format/color metadata, the reference's image_info fields format +
    # color_mode (pdfplumber/pdf_image_extractor_improved.py:284-299) —
    # derived from /Filter (/DCTDecode -> jpeg, /FlateDecode -> flate, none
    # -> raw) and /ColorSpace (/DeviceGray -> gray, /DeviceRGB -> rgb)
    format: str = "raw"
    color_mode: str = "rgb"


@dataclass
class ParsedPage:
    runs: list[ParsedRun] = field(default_factory=list)
    images: list[ParsedImage] = field(default_factory=list)
    n_lines: int = 0
    n_rects: int = 0
    n_curves: int = 0
    width: float = PAGE_W
    height: float = PAGE_H


@dataclass
class ParsedDoc:
    pages: list[ParsedPage] = field(default_factory=list)
    # /Info document metadata (Title/Author/CreationDate literal strings),
    # insertion-ordered as written — the analyzer's metadata surface
    # (pdf_api/core/pdf_analyzer.py:42-43)
    metadata: dict[str, str] = field(default_factory=dict)


# (?<!\d): an attempt that fails at a digit run's first digit fails at
# every later digit of the run, so only the first is tried
_OBJ_RE = re.compile(rb"(?<!\d)(\d+) 0 obj\n(.*?)\nendobj\n", re.DOTALL)
_REF_RE = re.compile(rb"/(\w+) (\d+) 0 R")
_NUM = rb"(-?\d+(?:\.\d+)?)"
_TEXT_OP = re.compile(
    rb"BT /F1 " + _NUM + rb" Tf " + _NUM + rb" " + _NUM + rb" Td \(",
)
_IMG_OP = re.compile(
    rb"q " + _NUM + rb" 0 0 " + _NUM + rb" " + _NUM + rb" " + _NUM
    + rb" cm /(\w+) Do Q"
)


class PdfParseError(ValueError):
    pass


# a Flate stream may inflate to this multiple of its compressed length, or
# to the floor for short streams; a bomb past that is a malformed file
_INFLATE_RATIO = 16
_INFLATE_FLOOR = 1 << 20


def _parse_objects(
    data: bytes,
) -> tuple[dict[int, bytes], dict[int, int], dict[int, int]]:
    """ONE regex pass over the raw bytes -> (id -> body, id -> absolute
    offset of the body start, id -> absolute offset of the object HEADER).
    The body offsets anchor glyph byte ranges (the span source); the header
    offsets are what xref rows record, kept from the actual match span so
    the xref cross-check never re-derives them from an assumed header
    layout ('N 0 obj\\n' exactly — a spec-valid writer may use \\r\\n or
    extra spaces). Folding all maps into a single finditer saves a full
    scan of every payload."""
    objs: dict[int, bytes] = {}
    spans: dict[int, int] = {}
    heads: dict[int, int] = {}
    # every object ends at a '\nendobj\n': the scan stops after the last one
    for m in _OBJ_RE.finditer(data, 0, data.rfind(b"\nendobj\n") + 8):
        oid = int(m.group(1))
        objs[oid] = m.group(2)
        spans[oid] = m.start(2)
        heads[oid] = m.start()
    if not objs:
        raise PdfParseError("no objects")
    return objs, spans, heads


def _stream_of(body: bytes) -> bytes:
    i = body.find(b"stream\n")
    j = body.rfind(b"\nendstream")
    if i < 0 or j < 0 or j < i:
        raise PdfParseError("bad stream")
    return body[i + len(b"stream\n"): j]


def _inflate_stream(body: bytes) -> bytes:
    """A Flate stream's data, bounded at ``_INFLATE_RATIO`` times its
    compressed length (``_INFLATE_FLOOR`` for short streams)."""
    z = _stream_of(body)
    return inflate(z, max(_INFLATE_FLOOR, _INFLATE_RATIO * len(z)))


def _unpack_object_streams(objs: dict[int, bytes], offs: dict[int, int]) -> None:
    """PDF 1.5 ``/Type /ObjStm`` unpacking (spec §7.5.7), in place.

    Modern writers pack every dict-only object into compressed object
    streams; only content/image streams remain top-level (streams cannot
    nest), so glyph byte-range spans keep their raw-file anchors. Packed
    objects get offset -1 — they are dicts and never anchor a span.
    """
    for body in list(objs.values()):
        if b"/Type /ObjStm" not in body:
            continue
        nm = re.search(rb"/N (\d+)", body)
        fm = re.search(rb"/First (\d+)", body)
        if not nm or not fm:
            raise PdfParseError("ObjStm without /N or /First")
        n, first = int(nm.group(1)), int(fm.group(1))
        try:
            raw = _inflate_stream(body)
        except zlib.error as e:
            raise PdfParseError(f"bad ObjStm stream: {e}") from e
        head = raw[:first].split()
        if len(head) < 2 * n:
            raise PdfParseError("short ObjStm header")
        pairs = [(int(head[2 * i]), int(head[2 * i + 1])) for i in range(n)]
        for k, (oid, rel) in enumerate(pairs):
            start = first + rel
            end = first + pairs[k + 1][1] if k + 1 < n else len(raw)
            objs[oid] = raw[start:end].strip()
            offs[oid] = -1


def _decode_xref_stream(body: bytes) -> dict[int, tuple[int, int, int]]:
    """Decode a ``/Type /XRef`` cross-reference stream (spec §7.5.8) into
    {object id: (type, field2, field3)} — type 1 rows carry raw-file
    offsets, type 2 rows (objstm_id, index) locate ObjStm-packed objects.

    Handles the ``/W`` column widths and the PNG row predictors of
    ``/DecodeParms /Predictor >= 10`` (filters None/Sub/Up — Up is what
    real writers emit; each row is predicted against the previous row
    exactly as in PNG scanline filtering).
    """
    wm = re.search(rb"/W \[([^\]]*)\]", body)
    sm = re.search(rb"/Size (\d+)", body)
    if not wm or not sm:
        raise PdfParseError("xref stream without /W or /Size")
    w = [int(x) for x in wm.group(1).split()]
    cols = sum(w)
    try:
        raw = _inflate_stream(body)
    except zlib.error as e:
        raise PdfParseError(f"bad xref stream: {e}") from e
    pm = re.search(rb"/Predictor (\d+)", body)
    if pm and int(pm.group(1)) >= 10:
        out = bytearray()
        prev = bytes(cols)
        if len(raw) % (cols + 1):
            raise PdfParseError("ragged predicted xref rows")
        for i in range(0, len(raw), cols + 1):
            ft, enc = raw[i], raw[i + 1 : i + 1 + cols]
            if ft == 0:
                cur = bytes(enc)
            elif ft == 1:  # Sub: left neighbor = previous byte in row
                acc = bytearray()
                for b in enc:
                    acc.append((b + (acc[-1] if acc else 0)) & 0xFF)
                cur = bytes(acc)
            elif ft == 2:  # Up
                cur = bytes((a + b) & 0xFF for a, b in zip(enc, prev))
            else:
                raise PdfParseError(f"xref predictor filter {ft}")
            out += cur
            prev = cur
        raw = bytes(out)
    if cols == 0 or len(raw) % cols:
        raise PdfParseError("ragged xref rows")
    # /Index defaults to [0 Size] — one subsection starting at object 0
    starts_counts = [0, int(sm.group(1))]
    im = re.search(rb"/Index \[([^\]]*)\]", body)
    if im:
        starts_counts = [int(x) for x in im.group(1).split()]
    entries: dict[int, tuple[int, int, int]] = {}
    row = 0
    for s in range(0, len(starts_counts), 2):
        start, count = starts_counts[s], starts_counts[s + 1]
        for oid in range(start, start + count):
            if row * cols >= len(raw):
                raise PdfParseError("xref /Index exceeds stream rows")
            rb_ = raw[row * cols : (row + 1) * cols]
            fields = []
            p = 0
            for width in w:
                fields.append(int.from_bytes(rb_[p : p + width], "big") if width else 1)
                p += width
            entries[oid] = tuple(fields)
            row += 1
    return entries


def _read_literal(data: bytes, start: int) -> tuple[str, list[tuple[int, int]], int]:
    """Read a PDF literal string starting just after '('.

    Returns (text, byte ranges of its glyphs, index just after ')'). A
    backslash escapes the next byte (the writer emits ``\\( \\) \\\\``); the
    escaped glyph's byte is its backslash.
    """
    parts: list[str] = []
    segs: list[tuple[int, int]] = []
    i = start
    while True:
        close = data.find(b")", i)
        if close < 0:
            raise PdfParseError("unterminated literal")
        esc = data.find(b"\\", i, close)
        if esc < 0:
            parts.append(data[i:close].decode("latin-1"))
            if close > i:
                segs.append((i, close))
            return "".join(parts), segs, close + 1
        # esc < close, so the escaped byte exists
        parts.append(data[i:esc].decode("latin-1") + chr(data[esc + 1]))
        segs.append((i, esc + 1))
        i = esc + 2


def parse_pdf(data: bytes) -> ParsedDoc:
    """Parse the simple-subset PDF back into text runs/images/drawing counts.

    Raises PdfParseError on anything outside the subset (malformed rows feed
    ``extraction_failure_count`` lineage accounting, BASELINE.json:14).
    EVERY failure surfaces as PdfParseError: a wild corpus contains files
    that break any fixed assumption (tampered offsets make an int() or
    dict-index raise bare ValueError/KeyError), and an untyped exception
    inside mapInPandas would fail the Spark TASK — killing the other
    thousands of rows in the batch — instead of counting one error row.
    MemoryError is the exception: resource exhaustion is the worker's
    failure, not the row's, so it propagates.
    """
    try:
        return _parse_pdf_inner(data)
    except (PdfParseError, MemoryError):
        raise
    except Exception as e:  # typed wrapper, never a task-killing escape
        raise PdfParseError(f"malformed pdf ({type(e).__name__}: {e})") from e


def _parse_pdf_inner(data: bytes) -> ParsedDoc:
    if not data.startswith(b"%PDF-"):
        raise PdfParseError("not a pdf")
    objs, offs, heads = _parse_objects(data)
    _unpack_object_streams(objs, offs)
    # a 1.5-style cross-reference STREAM, when present, must agree with the
    # reconstructed object map — decode it (W columns + PNG predictors)
    # and cross-check; a lying xref is a malformed file (feeds the
    # extraction_failure_count taxonomy), not a silent fallback
    for xid, body in objs.items():
        if b"/Type /XRef" not in body or offs.get(xid, -1) < 0:
            continue
        for oid, (etype, f2, _f3) in _decode_xref_stream(body).items():
            # xref type-1 rows record the object HEADER offset; compare
            # against the offset of the header the parser actually matched
            # (not a re-derived 'N 0 obj\n' layout assumption)
            if (
                etype == 1
                and oid in heads
                and offs.get(oid, -1) >= 0
                and f2 != heads[oid]
            ):
                raise PdfParseError(
                    f"xref stream offset mismatch for object {oid}"
                )
            if etype == 2 and oid not in objs:
                raise PdfParseError(f"xref names missing packed object {oid}")

    # find the pages tree through the catalog for well-formedness
    root = None
    for body in objs.values():
        if b"/Type /Catalog" in body:
            root = body
            break
    if root is None:
        raise PdfParseError("no catalog")
    kids_order: list[int] = []
    for body in objs.values():
        if b"/Type /Pages" in body:
            m = re.search(rb"/Kids \[([^\]]*)\]", body)
            if m:
                kids_order = [int(x) for x in re.findall(rb"(\d+) 0 R", m.group(1))]
            break

    doc = ParsedDoc()
    # /Info metadata (trailer reference -> literal-string dict entries)
    im = re.search(rb"/Info (\d+) 0 R", data)
    if im:
        ibody = objs.get(int(im.group(1)))
        if ibody is not None:
            for km in re.finditer(rb"/(\w+) \(", ibody):
                value, _segs, _end = _read_literal(ibody, km.end())
                doc.metadata[km.group(1).decode("latin-1")] = value
    for pid in kids_order:
        body = objs[pid]
        page = ParsedPage()
        mb = re.search(rb"/MediaBox \[0 0 " + _NUM + rb" " + _NUM + rb"\]", body)
        if mb:
            page.width = float(mb.group(1))
            page.height = float(mb.group(2))
        xobj_map: dict[bytes, int] = {}
        xm = re.search(rb"/XObject << (.*?) >>", body)
        if xm:
            for name, oid in _REF_RE.findall(xm.group(1)):
                xobj_map[name] = int(oid)
        cm = re.search(rb"/Contents (\d+) 0 R", body)
        if not cm:
            raise PdfParseError("page without contents")
        cid = int(cm.group(1))
        cbody = objs[cid]
        stream = _stream_of(cbody)
        # absolute offset of the stream inside `data`
        sbase = offs[cid] + cbody.find(b"stream\n") + len(b"stream\n")

        # text runs
        for m in _TEXT_OP.finditer(stream):
            size = float(m.group(1))
            x = float(m.group(2))
            y = float(m.group(3))
            text, segs, _end = _read_literal(stream, m.end())
            if text:
                page.runs.append(ParsedRun(
                    text, x, y, x + len(text) * (CHAR_WIDTH_RATIO * size), y + size,
                    size, tuple((sbase + s, sbase + e) for s, e in segs),
                ))
        # images
        for k, m in enumerate(_IMG_OP.finditer(stream)):
            w = float(m.group(1))
            h = float(m.group(2))
            x = float(m.group(3))
            y = float(m.group(4))
            name = m.group(5)
            oid = xobj_map.get(name)
            if oid is None:
                raise PdfParseError(f"unknown xobject {name!r}")
            ibody = objs[oid]
            pw = re.search(rb"/Width (\d+)", ibody)
            ph = re.search(rb"/Height (\d+)", ibody)
            if not pw or not ph:
                raise PdfParseError("image without dims")
            if b"/Filter /DCTDecode" in ibody:
                fmt = "jpeg"
            elif b"/Filter /FlateDecode" in ibody:
                fmt = "flate"
            else:
                fmt = "raw"
            color = "gray" if b"/ColorSpace /DeviceGray" in ibody else "rgb"
            page.images.append(
                ParsedImage(
                    x0=x, y0=y, x1=x + w, y1=y + h,
                    px_w=int(pw.group(1)), px_h=int(ph.group(1)),
                    data=_stream_of(ibody), img_idx=k,
                    format=fmt, color_mode=color,
                )
            )
        # vector drawing counts (analog of page.curves/.lines/.rects,
        # pdf_api/core/pdf_analyzer.py:80-88)
        page.n_lines = stream.count(b" l S") + stream.count(b" l\n")
        page.n_rects = len(re.findall(rb" re f", stream)) + len(
            re.findall(rb" re S", stream)
        )
        page.n_curves = stream.count(b" c S") + stream.count(b" c\n")
        doc.pages.append(page)
    if not doc.pages:
        raise PdfParseError("no pages")
    return doc


def deterministic_bytes(seed: str, n: int) -> bytes:
    """Deterministic pseudo-random payload bytes via zlib.crc32 chaining."""
    out = bytearray()
    state = zlib.crc32(seed.encode("utf-8"))
    while len(out) < n:
        state = zlib.crc32(state.to_bytes(4, "big"))
        out += state.to_bytes(4, "big")
    return bytes(out[:n])
