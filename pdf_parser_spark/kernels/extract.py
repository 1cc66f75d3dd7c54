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
import binascii

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
from .pdf_mini import PdfParseError, parse_pdf

__all__ = ["sniff_kind", "extract_one", "extract_batch", "OUTPUT_COLUMNS"]

OUTPUT_COLUMNS = ["payload_kind", "extracted_text", "spans", "n_blocks", "extraction_ok"]

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


def _spans_to_dicts(spans: list[tuple[int, int]]) -> list[dict]:
    return [{"start": int(s), "end": int(e)} for s, e in spans]


def _pdf_failure(text: str, cfg: ExtractConfig):
    """Undecodable/unparseable PDF payload: error, or — with the fallback
    replan enabled (reference ``pdf_image_extractor.py:761-821``: zero
    results → try the other extraction method) — plain-text identity."""
    if cfg.fallback_plain and text:
        return KIND_PLAIN, text, _spans_to_dicts([(0, len(text))]), 1, True
    return KIND_ERROR, "", [], 0, False


def extract_one(
    text: str | None, cfg: ExtractConfig = DEFAULT_CONFIG
) -> tuple[str, str, list[dict], int, bool]:
    """Extract a single payload. Returns (kind, text, spans, n_blocks, ok)."""
    kind = sniff_kind(text)
    if kind == KIND_ERROR:
        return KIND_ERROR, "", [], 0, False
    if kind == KIND_PLAIN:
        return KIND_PLAIN, text, _spans_to_dicts([(0, len(text))]), 1, True
    if kind == KIND_HTML:
        out, spans, n_blocks = extract_html(text, cfg)
        return KIND_HTML, out, _spans_to_dicts(spans), n_blocks, True
    # pdf branch
    payload = text.strip()
    try:
        raw = base64.b64decode(payload, validate=True)
    except (binascii.Error, ValueError):
        return _pdf_failure(text, cfg)
    try:
        doc = parse_pdf(raw)
    except PdfParseError:
        return _pdf_failure(text, cfg)
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
        for s, e in byte_ranges_to_base64_spans(byte_ranges, len(payload))
    ]
    return kind, out, _spans_to_dicts(spans), n_blocks, True


def extract_batch(
    pdf: pd.DataFrame, cfg: ExtractConfig = DEFAULT_CONFIG
) -> pd.DataFrame:
    """Vectorized-batch extraction: adds OUTPUT_COLUMNS, passes others through.

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
            t if isinstance(t, str) else None, cfg
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
