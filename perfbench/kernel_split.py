"""Single-node split of the extraction kernel by payload kind and PDF stage.

Times ``kernels.extract.extract_one`` per row, then re-runs every PDF row
through the same stage functions ``extract_one`` calls, in its order:
``base64.b64decode`` -> ``pdf_mini.parse_pdf`` -> ``pdf_classify.doc_stats``
-> ``layout.layout_text_and_offsets`` -> ``layout.byte_ranges_to_base64_spans``.
The composed stages must return exactly what ``extract_one`` returns for
every row, or the split is reported as failed.

Layout results are memoised on parsed pages, and ``doc_stats`` fills that
memo first, so layout work shows under ``classify_us`` as it does in the
kernel itself.
"""
from __future__ import annotations

import base64
import binascii
import time

import numpy as np

from pdf_parser_spark.config import DEFAULT_CONFIG
from pdf_parser_spark.kernels.extract import extract_one, sniff_kind
from pdf_parser_spark.kernels.layout import (
    byte_ranges_to_base64_spans,
    layout_text_and_offsets,
)
from pdf_parser_spark.kernels.pdf_classify import doc_stats
from pdf_parser_spark.kernels.pdf_mini import PdfParseError, parse_pdf

KINDS = ("plain", "html", "pdf_text", "pdf_digital", "pdf_vector", "pdf_scanned", "error")
PDF_STAGES = ("b64", "parse", "classify", "layout", "spans")
_KIND_OF_TYPE = {"text": "pdf_text", "digital": "pdf_digital", "vector": "pdf_vector",
                 "scanned": "pdf_scanned"}
_FAILED = ("error", "", [], 0, False)


def _staged_pdf(text: str, ns: dict[str, int]):
    """extract_one's PDF branch, one timed stage at a time."""
    cfg = DEFAULT_CONFIG
    clock = time.perf_counter_ns
    payload = text.strip()
    t = clock()
    try:
        raw = base64.b64decode(payload, validate=True)
    except (binascii.Error, ValueError):
        return _FAILED
    finally:
        ns["b64"] += clock() - t
    t = clock()
    try:
        doc = parse_pdf(raw)
    except PdfParseError:
        return _FAILED
    finally:
        ns["parse"] += clock() - t
    t = clock()
    kind = _KIND_OF_TYPE[doc_stats(doc, cfg).pdf_type]
    ns["classify"] += clock() - t
    if kind == "pdf_scanned":
        return kind, "", [], 0, True
    t = clock()
    out, byte_ranges, n_blocks = layout_text_and_offsets(doc.pages, cfg)
    ns["layout"] += clock() - t
    t = clock()
    lead = len(text) - len(text.lstrip())
    spans = [
        {"start": s + lead, "end": e + lead}
        for s, e in byte_ranges_to_base64_spans(byte_ranges, len(payload))
    ]
    ns["spans"] += clock() - t
    return kind, out, spans, n_blocks, True


def split(texts: list) -> tuple[dict[str, float], int]:
    """Per-layer metrics and the number of rows whose composed stages
    disagree with ``extract_one``."""
    clock = time.perf_counter_ns
    for t in texts[:200]:  # warm caches and imports before timing
        extract_one(t)
    by_kind: dict[str, list[int]] = {k: [] for k in KINDS}
    results = []
    for t in texts:
        t0 = clock()
        res = extract_one(t)
        by_kind[res[0]].append(clock() - t0)
        results.append(res)
    ns = dict.fromkeys(PDF_STAGES, 0)
    n_pdf = mismatched = 0
    for t, res in zip(texts, results):
        if sniff_kind(t) == "pdf":
            n_pdf += 1
            mismatched += _staged_pdf(t, ns) != res
    metrics: dict[str, float] = {}
    for kind, xs in by_kind.items():
        us = np.asarray(xs, dtype=float) / 1e3
        metrics[f"kernels.{kind}.us_p50"] = float(np.percentile(us, 50)) if xs else 0.0
        metrics[f"kernels.{kind}.us_p99"] = float(np.percentile(us, 99)) if xs else 0.0
        metrics[f"kernels.{kind}.rows"] = len(xs)
    for stage in PDF_STAGES:
        metrics[f"kernels.pdf.{stage}_us"] = ns[stage] / 1e3 / n_pdf if n_pdf else 0.0
    return metrics, mismatched
