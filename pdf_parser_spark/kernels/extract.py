"""Top-level extraction kernel: pandas batch in → pandas batch out.

This is THE shared implementation (SURVEY.md §7.1): the golden pytest runner
calls ``extract_batch`` directly on a pandas DataFrame; the Spark pipeline
wraps the same function in ``mapInPandas``. Output contract (FIXTURES.md §3):

    payload_kind    string   plain/html/pdf_text/pdf_digital/pdf_vector/
                             pdf_scanned/error
    extracted_text  string   main content, reading order
    spans           list[{"start": int, "end": int}] — offsets into the raw
                             ``text`` payload; ordered, non-overlapping,
                             in-bounds
    n_blocks        int32    blocks kept after filtering
    extraction_ok   bool

Golden semantic decisions (documented deviations from the reference, which
is ambiguous/buggy in places — SURVEY.md §7.3):
- pdf_scanned turns yield extracted_text="" (a scanned page is an image; the
  reference's scanned path renders pages, it never extracts text —
  ``pdf_api/core/pdf_image_extractor.py:295-375``).
- pdf spans index into the BASE64 payload string via the 3-byte→4-char
  covering map (kernels.layout.byte_ranges_to_base64_spans).
- single render per vector page (the reference renders twice and duplicates
  records — ``pdf_image_extractor.py:226-285`` — a bug we do not replicate).
- dedup uses md5, not process-salted Python hash() (ref ``:486-497``).
"""
from __future__ import annotations

import base64

import pandas as pd

from ..config import (
    DEFAULT_CONFIG,
    ExtractConfig,
    KIND_ERROR,
    KIND_HTML,
    KIND_PDF_DIGITAL,
    KIND_PDF_SCANNED,
    KIND_PDF_TEXT,
    KIND_PDF_VECTOR,
    KIND_PLAIN,
)
from .html_extract import extract_html
from .layout import byte_ranges_to_base64_spans, join_pages, page_text
from .pdf_classify import sample_stats
from .pdf_mini import ParsedDoc, parse_pdf

__all__ = ["sniff_kind", "open_pdf", "extract_one", "extract_batch"]

_PDF_B64_PREFIX = "JVBERi0"  # base64 of b"%PDF-"

_PDF_TYPE_TO_KIND = {
    "text": KIND_PDF_TEXT,
    "digital": KIND_PDF_DIGITAL,
    "vector": KIND_PDF_VECTOR,
    "scanned": KIND_PDF_SCANNED,
}


def sniff_kind(text: str | None) -> str:
    """Cheap prefix sniff (the A3 dispatch analog; SURVEY.md §7.2 step 2).

    'pdf' here is provisional — the 4-way subtype needs a parse.
    """
    if text is None or text == "":
        return KIND_ERROR
    stripped = text.lstrip()
    if stripped.startswith("<"):
        return KIND_HTML
    if stripped.startswith(_PDF_B64_PREFIX):
        return "pdf"
    return KIND_PLAIN


def open_pdf(text: str | None) -> ParsedDoc | None:
    """The parsed document of a base64 PDF payload; None when the payload
    does not sniff as PDF, is not valid base64, or does not parse.
    ``MemoryError`` propagates (see ``parse_pdf``)."""
    if sniff_kind(text) != "pdf":
        return None
    try:
        return parse_pdf(base64.b64decode(text.strip(), validate=True))
    except ValueError:  # binascii.Error and PdfParseError are ValueErrors
        return None


def _spans_to_dicts(spans: list[tuple[int, int]]) -> list[dict]:
    return [{"start": int(s), "end": int(e)} for s, e in spans]


def extract_one(
    text: str | None, cfg: ExtractConfig = DEFAULT_CONFIG, fallback: bool = False
) -> tuple[str, str, list[dict], int, bool]:
    """Extract a single payload. Returns (kind, text, spans, n_blocks, ok).

    ``fallback`` retries a PDF-sniffed payload that does not open as plain
    text, inside the same call (SURVEY.md §4.1: the reference retries a
    failed file with the other method, ``pdf_image_extractor.py:761-821``).
    Empty and missing payloads stay ``error`` either way."""
    kind = sniff_kind(text)
    if kind == KIND_ERROR:
        return KIND_ERROR, "", [], 0, False
    if kind == KIND_HTML:
        out, spans, n_blocks = extract_html(text, cfg)
        return KIND_HTML, out, _spans_to_dicts(spans), n_blocks, True
    doc = open_pdf(text) if kind == "pdf" else None
    if doc is None:
        if kind == "pdf" and not fallback:
            return KIND_ERROR, "", [], 0, False
        return KIND_PLAIN, text, _spans_to_dicts([(0, len(text))]), 1, True
    # each page is laid out once: the classification sample first, the rest
    # only if the doc has text to extract
    pages = [page_text(p, cfg) for p in doc.pages[: cfg.classify_page_cap]]
    kind = _PDF_TYPE_TO_KIND[sample_stats(doc, [t for t, _, _ in pages], cfg).pdf_type]
    if kind == KIND_PDF_SCANNED:
        return kind, "", [], 0, True
    pages += [page_text(p, cfg) for p in doc.pages[len(pages) :]]
    out, byte_ranges, n_blocks = join_pages(pages)
    # map decoded-byte ranges into base64-char spans over the raw payload.
    # leading whitespace before the base64 (if any) shifts offsets.
    lead = len(text) - len(text.lstrip())
    spans = [
        (s + lead, e + lead)
        for s, e in byte_ranges_to_base64_spans(byte_ranges, len(text.strip()))
    ]
    return kind, out, _spans_to_dicts(spans), n_blocks, True


def extract_batch(
    pdf: pd.DataFrame, cfg: ExtractConfig = DEFAULT_CONFIG, fallback: bool = False
) -> pd.DataFrame:
    """Vectorized-batch extraction: adds the output columns, passes others through.
    ``fallback`` as in ``extract_one``.

    The Python loop here iterates WITHIN an Arrow batch (the reference's
    per-file loops become per-row kernel work inside a vectorized batch —
    SURVEY.md §1.3); there is no per-row Python at the Spark plan level.
    """
    kinds: list[str] = []
    texts: list[str] = []
    spans_col: list[list[dict]] = []
    n_blocks_col: list[int] = []
    ok_col: list[bool] = []
    for t in pdf["text"].astype(object):
        kind, out, spans, n_blocks, ok = extract_one(
            t if isinstance(t, str) else None, cfg, fallback
        )
        kinds.append(kind)
        texts.append(out)
        spans_col.append(spans)
        n_blocks_col.append(n_blocks)
        ok_col.append(ok)
    res = pdf.copy()
    res["payload_kind"] = pd.Series(kinds, index=pdf.index, dtype=object)
    res["extracted_text"] = pd.Series(texts, index=pdf.index, dtype=object)
    res["spans"] = pd.Series(spans_col, index=pdf.index, dtype=object)
    res["n_blocks"] = pd.Series(n_blocks_col, index=pdf.index, dtype="int32")
    res["extraction_ok"] = pd.Series(ok_col, index=pdf.index, dtype=bool)
    return res
