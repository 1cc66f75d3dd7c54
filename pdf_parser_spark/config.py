"""Extraction configuration — defaults mirror the reference's served product.

Reference defaults: ``pdf_api/api/routes.py:127-134`` (min_size=100,
overlap_threshold=0.8, dpi=300, filter flags true) and classification
thresholds ``pdf_api/core/pdf_analyzer.py:118-136``.
"""
from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class ExtractConfig:
    # image filtering (pdf_api/core/pdf_image_extractor.py:404-408, :616-619)
    min_size: int = 100                 # area threshold is min_size**2 (core semantics)
    overlap_threshold: float = 0.8      # NMS drop if ratio > threshold (strict >)
    filter_contained: bool = True
    filter_duplicates: bool = True

    # force the PDF subtype past classification (the served product's
    # force_mode override, pdf_api/core/pdf_image_extractor.py:67-71 +
    # routes.py:131): one of "text"/"digital"/"vector"/"scanned", or None to
    # classify. Flips every downstream dispatch (image pipeline vs page
    # renders, CAD check, analyzer pdf_type) through the one sample_stats gate.
    force_kind: str | None = None

    # classification (pdf_api/core/pdf_analyzer.py:66, :118-136)
    classify_page_cap: int = 3          # analyze first min(3, page_count) pages
    vector_threshold: int = 1000        # total_vectors > 1000 -> vector
    text_char_threshold: int = 100      # images>0 & text<100 -> scanned; >100 -> digital
    cad_drawings_threshold: int = 10000 # pdf_image_extractor.py:94-103

    # layout analysis (our from-scratch K5 kernel; SURVEY.md §7.2 step 4)
    word_gap_ratio: float = 0.31        # gap > ratio*fontsize between runs => space
    line_merge_tol_ratio: float = 0.2   # baselines within tol*fontsize merge to a line
    block_gap_ratio: float = 0.9        # inter-line gap > ratio*fontsize => new block

    # HTML boilerplate stripping (K8; north_star readability-style heuristics)
    html_min_block_chars: int = 25
    html_max_link_density: float = 0.30
    html_heading_min_chars: int = 8

    # fallback replan (reference: 0 extracted -> try the other method,
    # pdf_api/core/pdf_image_extractor.py:761-821). Our analog: a payload
    # that looks like PDF but fails decode/parse is re-extracted as plain
    # text instead of erroring. Default off — golden fixtures pin the strict
    # semantics; the fallback query exercises the second-pass plan shape.
    fallback_plain: bool = False


DEFAULT_CONFIG = ExtractConfig()

# Payload kinds (FIXTURES.md §2 taxonomy; analog of PDFType enum
# pdf_api/core/pdf_analyzer.py:14-19 plus the html/plain/error branches).
KIND_PLAIN = "plain"
KIND_HTML = "html"
KIND_PDF_TEXT = "pdf_text"
KIND_PDF_DIGITAL = "pdf_digital"
KIND_PDF_VECTOR = "pdf_vector"
KIND_PDF_SCANNED = "pdf_scanned"
KIND_ERROR = "error"

ALL_KINDS = (
    KIND_PLAIN,
    KIND_HTML,
    KIND_PDF_TEXT,
    KIND_PDF_DIGITAL,
    KIND_PDF_VECTOR,
    KIND_PDF_SCANNED,
    KIND_ERROR,
)
