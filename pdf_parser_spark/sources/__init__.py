"""Sources: table readers for the engine.

The reference's "sources" are per-request file opens
(``pdf_api/api/routes.py:113-144`` multipart upload → temp file;
``pdfplumber.open``/``fitz.open``/``pdfium.PdfDocument`` per backend —
SURVEY.md §2.1 S1-S4). Here the source is a scan of the transcripts table
(``read_transcripts``): Catalyst gets predicate pushdown + column pruning
for free, and PDFs arrive as base64 payloads opened inside the kernel
(``kernels.extract.open_pdf``).
"""
from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..pipeline import TRANSCRIPT_SPARK_SCHEMA


def read_transcripts(spark: SparkSession, path: str) -> DataFrame:
    """The primary input: transcripts parquet with the fixed schema.

    An Iceberg catalog would make this ``spark.read.table(name)`` plus
    snapshot options; parquet with the identical schema stands in for it
    (SURVEY.md §1.3)."""
    return spark.read.schema(TRANSCRIPT_SPARK_SCHEMA).parquet(path)
