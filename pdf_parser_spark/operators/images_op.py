"""DataFrame operators for the reference's flagship raster outputs.

``image_records``  — the per-embedded-image pipeline of ``_extract_digital_pdf``
(S6 explode → F3 bounds → D4 NMS incl. F2 min-size → D1 md5 dedup → K2 crop
render of kept images), one row per image object with keep/drop provenance.
``page_renders``   — the vector/scanned whole-page render path (K1, K4 CAD).

Both are single mapInPandas crossings over the transcripts table: the heavy
payload column never survives the kernel (only md5s/dims/flags come back),
so downstream shuffles move tiny rows — the extract-first-shuffle-later rule
from SURVEY.md §7.3.
"""
from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import types as T
from pyspark.sql.pandas.types import from_arrow_schema

from ..config import DEFAULT_CONFIG, ExtractConfig
from ..kernels import records
from ..kernels.records import (
    explode_records,
    payload_analysis,
    payload_image_records,
    payload_page_renders,
    payload_render_media,
)

__all__ = [
    "IMAGE_RECORD_SCHEMA",
    "PAGE_RENDER_SCHEMA",
    "ANALYSIS_SCHEMA",
    "image_records",
    "page_renders",
    "analysis_records",
]

IMAGE_RECORD_SCHEMA = from_arrow_schema(records.IMAGE_RECORD_SCHEMA)
PAGE_RENDER_SCHEMA = from_arrow_schema(records.PAGE_RENDER_SCHEMA)

ANALYSIS_SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType(), False),
        T.StructField("turn_idx", T.IntegerType(), False),
        T.StructField("page_count", T.IntegerType(), False),
        # the analyzer's nested pages_info[] — array of per-page stat structs
        # (``pdf_api/core/pdf_analyzer.py:92-103``)
        T.StructField(
            "pages_info",
            T.ArrayType(
                T.StructType(
                    [
                        T.StructField("page", T.IntegerType(), False),
                        T.StructField("text_chars", T.IntegerType(), False),
                        T.StructField("image_count", T.IntegerType(), False),
                        T.StructField("curves", T.IntegerType(), False),
                        T.StructField("lines", T.IntegerType(), False),
                        T.StructField("rects", T.IntegerType(), False),
                    ]
                )
            ),
            False,
        ),
        T.StructField("total_text_chars", T.IntegerType(), False),
        T.StructField("total_images", T.IntegerType(), False),
        T.StructField("total_vectors", T.IntegerType(), False),
        T.StructField("pdf_type", T.StringType(), False),
        # /Info document metadata map (Title/Author/CreationDate),
        # insertion-ordered as written in the PDF
        T.StructField("metadata", T.MapType(T.StringType(), T.StringType()), False),
    ]
)


def _explode(transcripts: DataFrame, payload_fn, schema: T.StructType) -> DataFrame:
    """One mapInPandas crossing over (conv_id, turn_idx, text): each batch
    becomes ``explode_records`` of its turns."""
    from .. import map_in_pandas

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield explode_records(pdf, payload_fn, schema.names)

    df = transcripts.select("conv_id", "turn_idx", "text")
    return map_in_pandas(df, kernel, schema)


def image_records(
    transcripts: DataFrame, cfg: ExtractConfig = DEFAULT_CONFIG, crop_dpi: int = 36
) -> DataFrame:
    # no pre-shuffle: scan splits are payload-size-uniform (16 MB splits,
    # session_defaults), so shuffling the heavy text column would cost more
    # than it balances; the tiny record rows shuffle freely downstream
    return _explode(
        transcripts,
        lambda t: payload_image_records(t, cfg, crop_dpi),
        IMAGE_RECORD_SCHEMA,
    )


def page_renders(
    transcripts: DataFrame, cfg: ExtractConfig = DEFAULT_CONFIG, dpi: int = 72
) -> DataFrame:
    return _explode(
        transcripts, lambda t: payload_page_renders(t, cfg, dpi), PAGE_RENDER_SCHEMA
    )


def analysis_records(
    transcripts: DataFrame, cfg: ExtractConfig = DEFAULT_CONFIG
) -> DataFrame:
    """The analyzer envelope (``/api/analyze``) as a DataFrame: one row per
    PDF turn with the nested ArrayType(StructType) ``pages_info`` column."""
    return _explode(transcripts, lambda t: payload_analysis(t, cfg), ANALYSIS_SCHEMA)


RENDER_MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType(), False),
        T.StructField("turn_idx", T.IntegerType(), False),
        T.StructField("page", T.IntegerType(), False),
        T.StructField("media_ord", T.IntegerType(), False),
        T.StructField("variant", T.StringType(), False),
        T.StructField("png", T.BinaryType(), False),
    ]
)


def render_media(
    transcripts: DataFrame, cfg: ExtractConfig = DEFAULT_CONFIG, dpi: int = 72
) -> DataFrame:
    """Page renders as a binary media table (conv_id, turn_idx, page,
    media_ord, variant, png) — real PNG payloads for the pixel operators."""
    return _explode(
        transcripts, lambda t: payload_render_media(t, cfg, dpi), RENDER_MEDIA_SCHEMA
    )
