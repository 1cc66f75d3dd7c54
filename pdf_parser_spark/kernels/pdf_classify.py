"""Document-type classification: per-page feature counts → 4-way CASE.

Parity with the served product's analyzer (``pdf_api/core/pdf_analyzer.py``):

- sample only the first ``min(3, page_count)`` pages (``:66``),
- per page count text chars, images, vector objects = curves+lines+rects
  (``:68-103``),
- classify (``:118-136``):
    total_vectors > 1000                     -> "vector"
    total_images > 0 and total_text < 100    -> "scanned"
    total_images > 0 and total_text > 100    -> "digital"
    otherwise                                -> "text"
  (note the reference's gap at total_text == exactly 100 with images —
  it falls through to "text"; we reproduce that faithfully).

The repo contains two other divergent threshold sets
(``pdfplumber/analyze_pdf.py:148-156``, ``pdfplumber/smart_pdf_extractor.py:46-78``);
the ``pdf_api/core`` semantics are canonical (SURVEY.md §2.5 A3).
"""
from __future__ import annotations

from dataclasses import dataclass

from .pdf_mini import ParsedDoc
from .layout import page_text
from ..config import ExtractConfig, DEFAULT_CONFIG

__all__ = ["PageStats", "DocStats", "doc_stats", "sample_stats", "classify_pdf"]


@dataclass
class PageStats:
    page: int
    text_chars: int
    image_count: int
    curves: int
    lines: int
    rects: int

    @property
    def vector_count(self) -> int:
        return self.curves + self.lines + self.rects


@dataclass
class DocStats:
    page_count: int
    pages: list[PageStats]
    total_text_chars: int
    total_images: int
    total_vectors: int
    pdf_type: str


def doc_stats(doc: ParsedDoc, cfg: ExtractConfig = DEFAULT_CONFIG) -> DocStats:
    """Lay out the first ``classify_page_cap`` pages and classify ``doc``."""
    sample = doc.pages[: cfg.classify_page_cap]
    return sample_stats(doc, [page_text(p, cfg)[0] for p in sample], cfg)


def sample_stats(
    doc: ParsedDoc, texts: list[str], cfg: ExtractConfig = DEFAULT_CONFIG
) -> DocStats:
    """Classify ``doc`` from the laid-out text of its first
    ``classify_page_cap`` pages (the analog of ``page.extract_text()``)."""
    pages = [
        PageStats(
            page=i,
            text_chars=len(text),
            image_count=len(p.images),
            curves=p.n_curves,
            lines=p.n_lines,
            rects=p.n_rects,
        )
        for i, (p, text) in enumerate(zip(doc.pages, texts))
    ]
    total_text = sum(p.text_chars for p in pages)
    total_images = sum(p.image_count for p in pages)
    total_vectors = sum(p.vector_count for p in pages)
    return DocStats(
        page_count=len(doc.pages),
        pages=pages,
        total_text_chars=total_text,
        total_images=total_images,
        total_vectors=total_vectors,
        # force_mode override (pdf_image_extractor.py:67-71): the caller's
        # forced subtype wins over classification; every dispatch downstream
        # reads pdf_type from here, so one gate flips them all
        pdf_type=cfg.force_kind
        or classify_pdf(total_text, total_images, total_vectors, cfg),
    )


def classify_pdf(
    total_text: int,
    total_images: int,
    total_vectors: int,
    cfg: ExtractConfig = DEFAULT_CONFIG,
) -> str:
    if total_vectors > cfg.vector_threshold:
        return "vector"
    if total_images > 0 and total_text < cfg.text_char_threshold:
        return "scanned"
    if total_images > 0 and total_text > cfg.text_char_threshold:
        return "digital"
    return "text"
