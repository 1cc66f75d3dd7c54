"""Property-based invariants (SURVEY.md §5.2), hypothesis-driven, kernel-only
(no Spark session — these run on the pure pandas/numpy layer).

- spans: in-bounds, ordered, non-overlapping for ANY payload string
- NMS: output is an antichain under containment; idempotent; min-size gated
- dedup: exact dedup idempotence f(f(x)) == f(x)
- classification: total over the payload universe (never raises, kind in domain)
- layout: extracted text is stable under re-parse (determinism)
- hostile payloads: damaged PDF/HTML/PNG/JPEG bytes never raise out of the
  kernels, never change the rows next to them, and finish within a budget
"""
from __future__ import annotations

import base64
import re
import struct
import time
import zlib

import numpy as np
import pandas as pd
from hypothesis import given, settings
from hypothesis import strategies as st

from pdf_parser_spark.config import ALL_KINDS, DEFAULT_CONFIG
from pdf_parser_spark.kernels.extract import extract_batch, extract_one
from pdf_parser_spark.kernels.geometry import contained_matrix, nms_keep_mask
from pdf_parser_spark.kernels.images import decode_image_status
from pdf_parser_spark.kernels.jpeg import encode_jpeg, encode_jpeg_progressive
from pdf_parser_spark.kernels.pdf_mini import ImageSpec, PageSpec, TextRun, build_pdf
from pdf_parser_spark.kernels.render import encode_png

# -------------------------------------------------------------- payloads ---

payload_strings = st.one_of(
    st.text(max_size=300),
    st.text(alphabet="<>abp /\"=romanz ", max_size=300),  # html-ish tag soup
    st.builds(
        lambda words: base64.b64encode(
            build_pdf(
                [
                    PageSpec(
                        text_runs=[
                            TextRun(x=72, y=700 - 14 * i, size=10, text=w)
                            for i, w in enumerate(words)
                        ]
                    )
                ]
            )
        ).decode(),
        st.lists(
            st.text(
                alphabet=st.characters(min_codepoint=32, max_codepoint=126),
                min_size=1,
                max_size=40,
            ),
            min_size=1,
            max_size=8,
        ),
    ),
)


@settings(max_examples=150, deadline=None)
@given(payload_strings)
def test_extract_total_and_span_invariants(payload):
    kind, text, spans, n_blocks, ok = extract_one(payload, DEFAULT_CONFIG)
    assert kind in ALL_KINDS
    assert isinstance(text, str) and isinstance(n_blocks, int)
    prev_end = 0
    for r in spans:
        s, e = r["start"], r["end"]
        assert 0 <= s < e <= len(payload)
        assert s >= prev_end  # ordered, non-overlapping
        prev_end = e


@settings(max_examples=150, deadline=None)
@given(payload_strings)
def test_extract_deterministic(payload):
    assert extract_one(payload, DEFAULT_CONFIG) == extract_one(payload, DEFAULT_CONFIG)


# ------------------------------------------------------------------- NMS ---

boxes_strategy = st.lists(
    st.tuples(
        st.floats(0, 500, allow_nan=False),
        st.floats(0, 700, allow_nan=False),
        st.floats(1, 110, allow_nan=False),
        st.floats(1, 90, allow_nan=False),
        st.integers(10, 700),  # px_w
        st.integers(10, 700),  # px_h
    ),
    min_size=0,
    max_size=12,
)


def _unpack(raw):
    boxes = np.array([[x, y, x + w, y + h] for x, y, w, h, _, _ in raw]).reshape(
        -1, 4
    )
    areas = np.array([pw * ph for *_, pw, ph in raw], dtype=float)
    return boxes, areas


@settings(max_examples=200, deadline=None)
@given(boxes_strategy)
def test_nms_antichain_under_containment(raw):
    boxes, areas = _unpack(raw)
    keep = nms_keep_mask(boxes, areas, min_size=100, overlap_threshold=0.8)
    kept = boxes[keep]
    if len(kept) > 1:
        m = contained_matrix(kept, kept)
        np.fill_diagonal(m, False)
        assert not m.any(), "kept box contained in another kept box"


@settings(max_examples=200, deadline=None)
@given(boxes_strategy)
def test_nms_min_size_gate_and_idempotence(raw):
    boxes, areas = _unpack(raw)
    keep = nms_keep_mask(boxes, areas, min_size=100, overlap_threshold=0.8)
    # F2: nothing below min_size**2 pixel area survives
    assert not (areas[keep] < 100 * 100).any()
    # idempotence: re-running on the survivors keeps all of them
    if keep.any():
        keep2 = nms_keep_mask(
            boxes[keep], areas[keep], min_size=100, overlap_threshold=0.8
        )
        assert keep2.all()


# ------------------------------------------------------------ exact dedup ---

@settings(max_examples=100, deadline=None)
@given(st.lists(st.text(max_size=30), max_size=30))
def test_exact_dedup_idempotent_first_wins(texts):
    # pandas-level model of operators.dedup.exact_dedup semantics
    import pandas as pd

    df = pd.DataFrame({"doc_id": range(len(texts)), "text": texts})

    def dedup(d):
        return d.loc[~d["text"].duplicated(keep="first")]

    once = dedup(df)
    assert dedup(once).equals(once)  # f(f(x)) == f(x)
    # survivor is always the lowest doc_id of its content group
    for _, grp in df.groupby("text"):
        assert grp["doc_id"].min() in set(once["doc_id"])


# ------------------------------------------------------- hostile payloads ---
# Generated PDF, HTML, PNG and JPEG payloads, damaged by truncation, bit
# flips, byte and object splicing, inflated length/dimension fields and
# small zlib bombs in place of a compressed stream. No damage may raise out
# of the kernels, corrupt the rows next to it, or stall its row.

ROW_BUDGET_S = 2.0
_STATUSES = {"ok", "unsupported_format", "corrupt", "too_large", "unknown_format"}
_BOMB = zlib.compress(bytes(8 << 20), 9)  # 8 MB of zeros, past every limit
_BIG = (30000, 65535, 10**9, 2**31 - 1, 2**32 - 1)


def _seed_payloads() -> dict[str, bytes]:
    rng = np.random.default_rng(0)
    img = rng.integers(0, 256, (6, 8, 3), dtype=np.uint8)
    jpg = encode_jpeg(img)
    page = PageSpec(
        text_runs=[TextRun(72, 700, 10, r"esc \(a\) b\\ c"), TextRun(72, 688, 10, "n\xe9xt"),
                   TextRun(150, 700, 12, "right"), TextRun(72, 650, 10, "")],
        images=[ImageSpec(100, 400, 80, 60, 8, 6, jpg, fmt="jpeg"),
                ImageSpec(300, 400, 40, 30, 4, 3,
                          zlib.compress(img[:3, :4].tobytes()), fmt="flate")],
        n_lines=3, n_rects=2, n_curves=1,
    )
    return {
        "pdf": build_pdf([page, PageSpec(text_runs=[TextRun(72, 700, 10, "p2")])]),
        "pdf_objstm": build_pdf([page], info={"Title": "t(1)"}, objstm=True),
        "html": b"<html><body><h1>Title here</h1><p>Some &amp; body text &#955; that is "
                b"long enough to keep.</p><a href='x'>link</a></body></html>",
        "png": encode_png(img),
        "jpeg": jpg,
        "jpeg_progressive": encode_jpeg_progressive(img),
    }


_SEEDS = _seed_payloads()
_OBJ_RE = re.compile(rb"\d+ 0 obj\n.*?\nendobj\n", re.DOTALL)
_PDF_FIELD_RE = re.compile(rb"/(?:Length|Width|Height|N|First|Size|Count) (\d+)|/W \[(\d+)")


def _truncate(raw: bytes, data) -> bytes:
    return raw[: data.draw(st.integers(0, len(raw)))]


def _flip(raw: bytes, data) -> bytes:
    b = bytearray(raw)
    for pos in data.draw(st.lists(st.integers(0, max(0, len(b) - 1)), min_size=1, max_size=8)):
        if b:
            b[pos] ^= 1 << data.draw(st.integers(0, 7))
    return bytes(b)


def _splice(raw: bytes, data) -> bytes:
    """Copy a slice of any seed over a slice of ``raw``; for PDFs, prefer
    whole ``N 0 obj … endobj`` objects, inserted or replacing one."""
    donor = _SEEDS[data.draw(st.sampled_from(sorted(_SEEDS)))]
    objs, spots = _OBJ_RE.findall(donor), list(_OBJ_RE.finditer(raw))
    if objs and spots and data.draw(st.booleans()):
        spot = data.draw(st.sampled_from(spots))
        end = spot.end() if data.draw(st.booleans()) else spot.start()
        return raw[: spot.start()] + data.draw(st.sampled_from(objs)) + raw[end:]
    a = data.draw(st.integers(0, len(donor)))
    piece = donor[a : data.draw(st.integers(a, len(donor)))]
    at = data.draw(st.integers(0, len(raw)))
    return raw[:at] + piece + raw[at + data.draw(st.integers(0, len(raw) - at)) :]


def _fields(raw: bytes) -> list[tuple[int, int, str]]:
    """(start, end, encoding) of the payload's length and dimension fields."""
    if raw.startswith(b"%PDF"):
        return [(m.start(g), m.end(g), "ascii")
                for m in _PDF_FIELD_RE.finditer(raw) for g in (1, 2) if m.group(g)]
    out = []
    if raw.startswith(b"\x89PNG"):
        pos = 8
        while pos + 8 <= len(raw):
            out.append((pos, pos + 4, ">I"))
            if raw[pos + 4 : pos + 8] == b"IHDR":
                out += [(pos + 8, pos + 12, ">I"), (pos + 12, pos + 16, ">I")]
            pos += 12 + struct.unpack(">I", raw[pos : pos + 4])[0]
    elif raw.startswith(b"\xff\xd8"):
        pos = 2
        while pos + 4 <= len(raw) and raw[pos] == 0xFF and raw[pos + 1] != 0xDA:
            out.append((pos + 2, pos + 4, ">H"))
            if raw[pos + 1] in (0xC0, 0xC2):
                out += [(pos + 5, pos + 7, ">H"), (pos + 7, pos + 9, ">H")]
            pos += 2 + struct.unpack(">H", raw[pos + 2 : pos + 4])[0]
    return out


def _inflate_field(raw: bytes, data) -> bytes:
    fields = _fields(raw)
    if not fields:
        return raw
    s, e, enc = data.draw(st.sampled_from(fields))
    big = data.draw(st.sampled_from(_BIG))
    if enc == "ascii":
        new = str(big).encode()
    else:
        new = struct.pack(enc, big & (0xFFFF if enc == ">H" else 0xFFFFFFFF))
    return raw[:s] + new + raw[e:]


def _bomb(raw: bytes, data) -> bytes:
    """Replace a Flate stream's body (PDF) or the first IDAT (PNG)."""
    if raw.startswith(b"\x89PNG"):
        at = raw.find(b"IDAT")
        if at < 4:
            return raw
        (n,) = struct.unpack(">I", raw[at - 4 : at])
        return raw[: at - 4] + struct.pack(">I", len(_BOMB)) + b"IDAT" + _BOMB + raw[at + 4 + n :]
    streams = [m for m in re.finditer(rb"/FlateDecode[^\n]*\nstream\n", raw)]
    if not streams:
        return raw
    m = data.draw(st.sampled_from(streams))
    end = raw.find(b"\nendstream", m.end())
    return raw[: m.end()] + _BOMB + raw[end if end >= 0 else len(raw) :]


_DAMAGE = (_truncate, _flip, _splice, _inflate_field, _bomb)


def _timed(fn, *args):
    t = time.perf_counter()
    out = fn(*args)
    secs = time.perf_counter() - t
    assert secs < ROW_BUDGET_S, secs
    return out


@settings(max_examples=300, deadline=None)
@given(st.sampled_from(sorted(_SEEDS)), st.data())
def test_hostile_payloads_fail_their_own_row_only(kind, data):
    raw = _SEEDS[kind]
    for _ in range(data.draw(st.integers(1, 3))):
        raw = data.draw(st.sampled_from(_DAMAGE))(raw, data)
    if kind.startswith(("png", "jpeg")):
        arr, status = _timed(decode_image_status, raw)
        assert status in _STATUSES
        assert arr.dtype == np.uint8 and arr.ndim == 3 and arr.shape[2] == 3
        return
    text = base64.b64encode(raw).decode() if kind.startswith("pdf") else raw.decode("latin-1")
    clean = base64.b64encode(_SEEDS["pdf"]).decode()
    out = _timed(extract_batch, pd.DataFrame({"text": [clean, text, "plain neighbour"]}))
    alone = extract_batch(pd.DataFrame({"text": [clean, "plain neighbour"]}))
    for col in ("payload_kind", "extracted_text", "spans", "n_blocks", "extraction_ok"):
        assert [out[col][0], out[col][2]] == list(alone[col])
    assert out["payload_kind"][1] in ALL_KINDS
    prev_end = 0
    for r in out["spans"][1]:
        assert prev_end <= r["start"] < r["end"] <= len(text)
        prev_end = r["end"]
