"""Payload-level record kernels: image records + page renders per turn.

Pure pandas/numpy layer (no Spark imports) shared by the golden runner and
the Spark mapInPandas wrappers (SURVEY.md §7.1).

Dispatch parity with ``extractor.extract_images``
(``pdf_api/core/pdf_image_extractor.py:709-759``):
- DIGITAL → per-image pipeline (bounds F3 → NMS D4 incl. min-size F2 → md5
  dedup D1) + a K2 region-crop render of each KEPT image (``:462-478``).
- VECTOR → whole-page renders; CAD renderer K4 when page-0 drawings exceed
  the threshold (``:94-103``), else standard K1.
- SCANNED → whole-page K1 renders (``:295-375``).
- TEXT → no raster output (the reference skips or falls back; we record
  nothing, matching the filter_text=true served default).
"""
from __future__ import annotations

import base64
import binascii
import hashlib

from ..config import DEFAULT_CONFIG, ExtractConfig
from .images import extract_image_records
from .pdf_classify import doc_stats
from .pdf_mini import ParsedDoc, PdfParseError, parse_pdf
from .render import encode_png, render_cad_page, render_page, render_region

__all__ = [
    "payload_image_records",
    "payload_page_renders",
    "payload_analysis",
    "payload_render_media",
]


def _parse_payload(text: str | None) -> ParsedDoc | None:
    if not text:
        return None
    payload = text.strip()
    if not payload.startswith("JVBERi0"):
        return None
    try:
        raw = base64.b64decode(payload, validate=True)
        return parse_pdf(raw)
    except (binascii.Error, ValueError, PdfParseError):
        return None


def payload_image_records(
    text: str | None, cfg: ExtractConfig = DEFAULT_CONFIG, crop_dpi: int = 36
) -> list[dict]:
    """Image records for one payload; [] for non-PDF/unparseable payloads.

    Kept records of digital PDFs carry the md5 of their K2 crop render
    (content-addressed like ``img{i}_{md5[:8]}.png``,
    ``pdfplumber/smart_pdf_extractor.py:261``).
    """
    doc = _parse_payload(text)
    if doc is None:
        return []
    stats = doc_stats(doc, cfg)
    recs = extract_image_records(doc.pages, cfg)
    out = []
    for r in recs:
        crop_md5 = ""
        if r.kept and stats.pdf_type == "digital":
            crop = render_region(
                doc.pages[r.page], (r.x0, r.y0, r.x1, r.y1), dpi=crop_dpi
            )
            crop_md5 = hashlib.md5(encode_png(crop)).hexdigest()
        out.append(
            {
                "page": r.page,
                "img_idx": r.img_idx,
                "x0": r.x0, "y0": r.y0, "x1": r.x1, "y1": r.y1,
                "px_w": r.px_w, "px_h": r.px_h,
                "content_md5": r.md5,
                "size_bytes": r.size_bytes,
                "format": r.format,
                "color_mode": r.color_mode,
                "kept": r.kept,
                "drop_reason": r.drop_reason,
                "crop_md5": crop_md5,
            }
        )
    return out


def payload_analysis(
    text: str | None, cfg: ExtractConfig = DEFAULT_CONFIG
) -> list[dict]:
    """The analyzer's nested ``analysis_result`` envelope for one payload —
    ``pdf_api/core/pdf_analyzer.py:51-103``: per-page ``pages_info[]`` (an
    array of structs, capped at the first 3 pages like the reference's
    sample_pages ``:66``) plus document totals and the PDFType. [] for
    non-PDF payloads (the analyzer 400s on them, ``routes.py:56-59``)."""
    doc = _parse_payload(text)
    if doc is None:
        return []
    stats = doc_stats(doc, cfg)
    return [
        {
            "page_count": stats.page_count,
            "pages_info": [
                {
                    "page": p.page,
                    "text_chars": p.text_chars,
                    "image_count": p.image_count,
                    "curves": p.curves,
                    "lines": p.lines,
                    "rects": p.rects,
                }
                for p in stats.pages
            ],
            "total_text_chars": stats.total_text_chars,
            "total_images": stats.total_images,
            "total_vectors": stats.total_vectors,
            "pdf_type": stats.pdf_type,
            # /Info document metadata (Title/Author/CreationDate), the
            # analyzer's metadata dict (pdf_api/core/pdf_analyzer.py:42-43)
            "metadata": dict(doc.metadata),
        }
    ]


def _whole_page_renders(text: str | None, cfg: ExtractConfig, dpi: int):
    """Yield (page_no, page, renderer, raster) for every page of a
    vector/scanned PDF payload; nothing for any other payload."""
    doc = _parse_payload(text)
    if doc is None:
        return
    stats = doc_stats(doc, cfg)
    if stats.pdf_type not in ("vector", "scanned"):
        return
    # CAD check on page 0's drawing count (pdf_image_extractor.py:94-103)
    p0 = doc.pages[0]
    is_cad = (p0.n_lines + p0.n_rects + p0.n_curves) > cfg.cad_drawings_threshold
    for page_no, page in enumerate(doc.pages):
        if stats.pdf_type == "vector" and is_cad:
            yield page_no, page, "cad", render_cad_page(page, dpi=dpi * 2)
        else:
            yield page_no, page, "standard", render_page(page, dpi=dpi)


def payload_page_renders(
    text: str | None, cfg: ExtractConfig = DEFAULT_CONFIG, dpi: int = 72
) -> list[dict]:
    """Whole-page render records for one payload (vector/scanned kinds)."""
    out = []
    for page_no, _page, renderer, img in _whole_page_renders(text, cfg, dpi):
        png = encode_png(img)
        out.append(
            {
                "page": page_no,
                "renderer": renderer,
                "px_w": int(img.shape[1]),
                "px_h": int(img.shape[0]),
                "png_md5": hashlib.md5(png).hexdigest(),
                "png_bytes": len(png),
            }
        )
    return out


JPEG_MEDIA_SIZE = 64  # edge length of the downsampled JPEG media variant


def payload_render_media(
    text: str | None, cfg: ExtractConfig = DEFAULT_CONFIG, dpi: int = 72
) -> list[dict]:
    """Page-render media payload rows for the REAL-pixel D3/F5/F6 path.

    For each vector/scanned page, emits four media variants whose bytes are
    actual encoded rasters (decoded for real by ``kernels.png`` /
    ``kernels.jpeg``; the ``png`` column holds the encoded payload, whose
    format follows the variant):

      media_ord 0 'full'     — the K1/K4 render (same dispatch as
                               payload_page_renders), PNG
      media_ord 1 'stripped' — the K7 text-stripped rebuild of the same page
                               (a perceptual NEAR-duplicate of 'full': same
                               strokes/images, text ink removed —
                               ``pdf_image_extractor.py:200-218``), PNG
      media_ord 2 'dup'      — byte-identical copy of 'full' (an exact
                               perceptual duplicate), PNG
      media_ord 3 'jpeg'     — the 'full' raster downsampled to
                               JPEG_MEDIA_SIZE² and BASELINE-JPEG-encoded
                               (4:2:0) by the from-scratch DCT codec, so
                               the pixel filters also exercise real
                               Huffman+IDCT decode paths

    The perceptual dedup's first-wins order (media_ord) must keep 'full' and
    drop 'dup'; 'stripped' drops iff its 32x32 similarity to 'full' clears
    the threshold; the lossy 'jpeg' variant's keep/drop is likewise decided
    on its actually-decoded pixels.
    """
    from .images import resize_nearest
    from .jpeg import encode_jpeg

    out = []
    for page_no, page, _renderer, full_img in _whole_page_renders(text, cfg, dpi):
        full = encode_png(full_img)
        stripped = encode_png(render_page(page, dpi=dpi, text_stripped=True))
        jpeg = encode_jpeg(
            resize_nearest(full_img, JPEG_MEDIA_SIZE), subsample=True
        )
        for ord_, variant, payload in (
            (0, "full", full),
            (1, "stripped", stripped),
            (2, "dup", full),
            (3, "jpeg", jpeg),
        ):
            out.append(
                {"page": page_no, "media_ord": ord_, "variant": variant, "png": payload}
            )
    return out
