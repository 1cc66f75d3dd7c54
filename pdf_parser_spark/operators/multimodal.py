"""Multimodal binary-column plumbing: opaque payload bytes + typed metadata.

A 100 TB training-data table carries image/audio/video as ``binary`` columns.
Decoding goes through ``kernels.images.decode_image_status``: PNG and JPEG
payloads decode for real (from-scratch readers, no PIL/ffmpeg), anything
else gets deterministic fabricated pixels and a ``decode_status`` that says
so. Everything Spark-side — schema, Arrow batching via ``mapInPandas``,
feature extraction shape, partitioning — is real and tested.

The reference's analog is its embedded-image byte handling
(``PyMuPDF/pdf_image_extractor.py:143-166`` extract_image → bytes + ext;
md5 naming ``pdfplumber/smart_pdf_extractor.py:161``).
"""
from __future__ import annotations

import hashlib
from collections.abc import Iterator, Sequence

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..kernels.images import decode_image_status

__all__ = [
    "as_media_table",
    "media_features",
    "perceptual_dedup",
]


def as_media_table(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Project a documents table into (media_id, payload binary) — the opaque
    binary-column shape; encode stays JVM-side."""
    return docs.select(
        F.col(id_col).cast("long").alias("media_id"),
        F.encode(F.col(text_col), "UTF-8").alias("payload"),
    )


def media_features(
    media: DataFrame, key_cols: Sequence[str] = ("media_id",)
) -> DataFrame:
    """Arrow-batched feature extraction over the binary ``payload`` column,
    keyed by the passthrough ``key_cols``.

    One ``mapInPandas`` crossing; the per-element numpy work stays inside the
    batch. Cheap scalar features (n_bytes, md5) intentionally ALSO exist as
    JVM expressions (F.octet_length / F.md5) — the oracle checks the
    Python-kernel output against the SQL-predicted values, proving the
    plumbing is faithful. width/height come from the payload itself (real
    decode for PNG/JPEG bytes), so joining them against independently
    recorded dimensions cross-checks the decoder, not just the plumbing.
    """
    from .. import map_in_pandas

    key_cols = list(key_cols)
    schema = T.StructType(
        [media.schema[c] for c in key_cols]
        + [
            T.StructField("n_bytes", T.IntegerType(), False),
            T.StructField("content_md5", T.StringType(), False),
            T.StructField("width", T.IntegerType(), False),
            T.StructField("height", T.IntegerType(), False),
            T.StructField("mean_luma", T.DoubleType(), False),
            T.StructField("decode_ok", T.BooleanType(), False),
            T.StructField("decode_status", T.StringType(), False),
        ]
    )

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats = []
            for data in pdf["payload"]:
                b = bytes(data) if data is not None else b""
                arr, status = decode_image_status(b)
                feats.append(
                    (
                        len(b),
                        hashlib.md5(b).hexdigest(),
                        int(arr.shape[1]),
                        int(arr.shape[0]),
                        round(float(arr.mean()), 6),
                        status == "ok",
                        status,
                    )
                )
            out = pdf[key_cols].reset_index(drop=True)
            fdf = pd.DataFrame(feats, columns=schema.names[len(key_cols):])
            yield pd.concat([out, fdf], axis=1)

    return map_in_pandas(media, kernel, schema)


def perceptual_dedup(
    media: DataFrame,
    group_col: str = "group_id",
    sim_threshold: float = 0.9,
) -> DataFrame:
    """D3 perceptual near-dup filter, distributed per group (applyInPandas —
    the reference compares pairwise within one page only,
    ``pdfplumber/pdf_image_extractor_improved.py:261-270``; groups bound the
    O(n²) pass exactly like the per-page locality in SURVEY.md §4.1).

    Input: (group_col, media_id, payload binary). Output adds ``kept`` plus
    the F5/F6 mostly-white / mostly-black flags
    (``pdf_image_extractor_improved.py:77-124``), ordered first-wins by
    media_id within each group.
    """
    from .. import drop_zip_finders, ship_package
    from ..kernels.images import mostly_black, mostly_white, perceptual_keep_mask

    ship_package(media.sparkSession)
    schema = T.StructType(
        [
            media.schema[group_col],
            media.schema["media_id"],
            T.StructField("kept", T.BooleanType(), False),
            T.StructField("is_mostly_white", T.BooleanType(), False),
            T.StructField("is_mostly_black", T.BooleanType(), False),
        ]
    )

    def _group(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("media_id", kind="mergesort").reset_index(drop=True)
        arrays = [
            decode_image_status(bytes(b) if b is not None else b"")[0]
            for b in pdf["payload"]
        ]
        keep = perceptual_keep_mask(arrays, sim_threshold)
        drop_zip_finders()
        return pd.DataFrame(
            {
                group_col: pdf[group_col],
                "media_id": pdf["media_id"],
                "kept": keep,
                "is_mostly_white": [mostly_white(a) for a in arrays],
                "is_mostly_black": [mostly_black(a) for a in arrays],
            }
        )

    return media.groupBy(group_col).applyInPandas(_group, schema=schema)
