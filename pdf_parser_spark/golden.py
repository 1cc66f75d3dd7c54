"""Single-node golden runner + deterministic artifact cache.

Produces, for a given sf dir (TESTDATA.md):

- ``transcripts_<tag>.parquet``  — the synthetic input table (datagen)
- ``golden_<tag>.parquet``       — the golden extraction output, computed by
  calling the SAME kernel (kernels.extract.extract_batch) single-node in
  pandas, with the window-reassembly ordering (turn_seq) and a JSON-encoded
  spans column matching Spark's ``F.to_json`` byte format.

The golden parquet doubles as the DuckDB oracle source for the extraction
queries in ``__spark_entry__.py``: DuckDB reads it by path, so the driver's
value-hash compares Spark's distributed output against the single-node
golden — exactly the north metric (BASELINE.json:2), run by the driver.

Every artifact is cached under ``cache_path``, whose name is keyed on the
package sources and the tables of the sf dir, so changed code or regenerated
tables never read an artifact the old ones built. Writes are atomic (tmp +
os.replace) so concurrent callers (Spark query and oracle harness) can race
safely; content is a pure function of the key, so a winner-takes-all replace
is correct.
"""
from __future__ import annotations

import hashlib
import json
import os
import tempfile

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from . import package_digest
from .config import KIND_ERROR, KIND_PLAIN, ExtractConfig
from .datagen import TRANSCRIPT_SCHEMA, generate_transcripts
from .kernels.extract import extract_batch
from .kernels.geometry import nms_keep_mask
from .kernels.images import (
    decode_image_status,
    mostly_black,
    mostly_white,
    perceptual_keep_mask,
)
from .kernels.records import (
    IMAGE_RECORD_SCHEMA,
    JPEG_MEDIA_SIZE,
    PAGE_RENDER_SCHEMA,
    explode_records,
    payload_analysis,
    payload_image_records,
    payload_page_renders,
    payload_render_media,
)

__all__ = [
    "CACHE_DIR",
    "sf_tag",
    "cache_path",
    "ensure_transcripts",
    "ensure_golden",
    "ensure_nms_boxes",
    "ensure_nms_golden",
    "spans_to_json",
]

CACHE_DIR = os.environ.get("PDF_PARSER_SPARK_CACHE", "/tmp/pdf_parser_spark_cache")

GOLDEN_SCHEMA = pa.schema(
    [
        ("conv_id", pa.string()),
        ("turn_idx", pa.int32()),
        ("role", pa.string()),
        ("tool", pa.string()),
        ("payload_kind", pa.string()),
        ("extracted_text", pa.string()),
        ("spans_json", pa.string()),
        ("n_blocks", pa.int32()),
        ("extraction_ok", pa.bool_()),
        ("turn_seq", pa.int32()),
    ]
)


def sf_tag(sf_dir: str) -> str:
    return os.path.basename(sf_dir.rstrip("/")) or "sf"


def cache_path(name: str, sf_dir: str, suffix: str = ".parquet") -> str:
    """``{name}_{sf_tag}_{key}{suffix}`` under CACHE_DIR; ``key`` hashes the
    package digest and (file, size, mtime_ns) of each table in ``sf_dir``."""
    key = hashlib.md5(package_digest().encode())
    for fn in sorted(os.listdir(sf_dir)):
        if fn.endswith(".parquet"):
            st = os.stat(os.path.join(sf_dir, fn))
            key.update(f"{fn}:{st.st_size}:{st.st_mtime_ns};".encode())
    return os.path.join(
        CACHE_DIR, f"{name}_{sf_tag(sf_dir)}_{key.hexdigest()[:16]}{suffix}"
    )


def _cached(name: str, sf_dir: str, schema: pa.Schema, build) -> str:
    """The cached artifact's path, first writing ``build()`` (a DataFrame)
    there under ``schema`` if it is missing."""
    path = cache_path(name, sf_dir)
    if not os.path.exists(path):
        os.makedirs(CACHE_DIR, exist_ok=True)
        table = pa.Table.from_pandas(build(), schema=schema, preserve_index=False)
        fd, tmp = tempfile.mkstemp(dir=CACHE_DIR, suffix=".parquet.tmp")
        os.close(fd)
        try:
            pq.write_table(table, tmp)
            os.replace(tmp, path)
        finally:
            if os.path.exists(tmp):
                os.remove(tmp)
    return path


def spans_to_json(spans: list[dict]) -> str:
    """Byte-identical to Spark's F.to_json(array<struct<start,end>>)."""
    return json.dumps(
        [{"start": int(r["start"]), "end": int(r["end"])} for r in spans],
        separators=(",", ":"),
    )


def ensure_transcripts(sf_dir: str) -> str:
    """Generate-and-cache the transcripts parquet for an sf dir."""
    return _cached(
        "transcripts", sf_dir, TRANSCRIPT_SCHEMA, lambda: generate_transcripts(sf_dir)
    )


def ensure_golden(sf_dir: str) -> str:
    """Run the single-node golden extractor; cache the result parquet."""
    return _ensure_extraction_golden(sf_dir, "golden", rescue=False)


def ensure_bpe_golden(sf_dir: str) -> str:
    """Exact BPE token counts of the documents table by the single-node
    kernel (kernels.bpe.count_batch — the SAME function the Spark
    mapInPandas wrapper calls), as (doc_id, n_bpe_tokens). The BPE
    arm of the token_stats oracle joins this, golden-parquet style; the
    SQL-expressible columns keep their independent DuckDB mirror."""
    from .kernels.bpe import count_batch

    def build():
        docs = pq.read_table(
            os.path.join(sf_dir, "documents.parquet"), columns=["doc_id", "text"]
        ).to_pandas()
        return pd.DataFrame(
            {
                "doc_id": docs["doc_id"],
                "n_bpe_tokens": pd.Series(
                    count_batch(docs["text"]), index=docs.index, dtype="int32"
                ),
            }
        )

    schema = pa.schema([("doc_id", pa.int64()), ("n_bpe_tokens", pa.int32())])
    return _cached("bpe_golden", sf_dir, schema, build)


def ensure_golden_fallback(sf_dir: str) -> str:
    """The strict golden with the fallback rescue applied by its own pandas
    code, independent of the kernel's ``fallback`` flag: every error row
    with a non-empty payload becomes plain text (identity text, one
    full-range span, one block)."""
    return _ensure_extraction_golden(sf_dir, "golden_fb", rescue=True)


def _ensure_extraction_golden(sf_dir: str, name: str, rescue: bool) -> str:
    def build():
        g = extract_batch(generate_transcripts(sf_dir))
        if rescue:
            m = (g["payload_kind"] == KIND_ERROR) & (g["text"].str.len() > 0)
            g.loc[m, "payload_kind"] = KIND_PLAIN
            g.loc[m, "extracted_text"] = g.loc[m, "text"]
            g["spans"] = [
                [{"start": 0, "end": len(t)}] if rescued else spans
                for rescued, t, spans in zip(m, g["text"], g["spans"])
            ]
            g.loc[m, "n_blocks"] = 1
            g.loc[m, "extraction_ok"] = True
        g = g.sort_values(["conv_id", "turn_idx"], kind="mergesort").reset_index(
            drop=True
        )
        g["turn_seq"] = (g.groupby("conv_id").cumcount() + 1).astype("int32")
        g["spans_json"] = [spans_to_json(s) for s in g["spans"]]
        return g[[f.name for f in GOLDEN_SCHEMA]]

    return _cached(name, sf_dir, GOLDEN_SCHEMA, build)


# ------------------------------------------- image-record / render goldens ---

def _ensure_record_golden(sf_dir: str, name: str, payload_fn, schema: pa.Schema) -> str:
    def build():
        return explode_records(generate_transcripts(sf_dir), payload_fn, schema.names)

    return _cached(name, sf_dir, schema, build)


def ensure_image_records_golden(sf_dir: str) -> str:
    return _ensure_record_golden(
        sf_dir, "image_records", payload_image_records, IMAGE_RECORD_SCHEMA
    )


def ensure_page_renders_golden(sf_dir: str) -> str:
    return _ensure_record_golden(
        sf_dir, "page_renders", payload_page_renders, PAGE_RENDER_SCHEMA
    )


def ensure_forced_renders_golden(sf_dir: str) -> str:
    """Golden for the force_mode override: force_kind='vector' routes every
    parseable PDF through the whole-page render dispatch regardless of its
    classified subtype (pdf_image_extractor.py:67-71)."""
    cfg = ExtractConfig(force_kind="vector")
    return _ensure_record_golden(
        sf_dir,
        "page_renders_forced",
        lambda t: payload_page_renders(t, cfg),
        PAGE_RENDER_SCHEMA,
    )


ANALYSIS_PA_SCHEMA = pa.schema(
    [
        ("conv_id", pa.string()),
        ("turn_idx", pa.int32()),
        ("page_count", pa.int32()),
        ("pages_info_json", pa.string()),
        ("total_text_chars", pa.int32()),
        ("total_images", pa.int32()),
        ("total_vectors", pa.int32()),
        ("pdf_type", pa.string()),
        ("metadata_json", pa.string()),
        ("creation_date", pa.string()),
    ]
)


def ensure_analysis_golden(sf_dir: str) -> str:
    """Golden for the analyzer's nested envelope; pages_info and the /Info
    metadata map serialized with json.dumps(separators=(',', ':')) —
    byte-identical to Spark's F.to_json over the nested columns (same recipe
    as spans_json). ``creation_date`` is the X2 'D:YYYYMMDDHHmmSS' parse of
    the REAL parsed /Info CreationDate, computed here with python strptime —
    fully independent of the Spark side's to_timestamp/date_format path."""
    import datetime as _dt

    def fn(text):
        out = []
        for rec in payload_analysis(text):
            rec = dict(rec)
            rec["pages_info_json"] = json.dumps(
                rec.pop("pages_info"), separators=(",", ":")
            )
            meta = rec.pop("metadata")
            rec["metadata_json"] = json.dumps(meta, separators=(",", ":"))
            cd = meta.get("CreationDate", "")
            parsed = ""
            if cd.startswith("D:") and len(cd) >= 16:
                try:
                    parsed = _dt.datetime.strptime(
                        cd[2:16], "%Y%m%d%H%M%S"
                    ).strftime("%Y-%m-%d %H:%M:%S")
                except ValueError:
                    parsed = ""
            rec["creation_date"] = parsed
            out.append(rec)
        return out

    return _ensure_record_golden(sf_dir, "analysis", fn, ANALYSIS_PA_SCHEMA)


PERCEPTUAL_PA_SCHEMA = pa.schema(
    [
        ("group_id", pa.int64()),
        ("media_id", pa.int64()),
        ("kept", pa.bool_()),
        ("is_mostly_white", pa.bool_()),
        ("is_mostly_black", pa.bool_()),
    ]
)


def ensure_perceptual_golden(sf_dir: str, n_groups: int = 40) -> str:
    """Golden for D3 perceptual dedup: documents + exact copies (media_id
    +1e6) grouped by doc_id % n_groups, single-node kernel run per group."""
    def build():
        docs = pq.read_table(
            os.path.join(sf_dir, "documents.parquet"), columns=["doc_id", "text"]
        ).to_pandas()
        rows = []
        for d, t in zip(docs["doc_id"], docs["text"]):
            rows.append((int(d) % n_groups, int(d), t))
            rows.append((int(d) % n_groups, int(d) + 1000000, t))
        df = pd.DataFrame(rows, columns=["group_id", "media_id", "text"])
        out = []
        for gid, g in df.groupby("group_id"):
            g = g.sort_values("media_id", kind="mergesort")
            arrays = [decode_image_status(t.encode())[0] for t in g["text"]]
            keep = perceptual_keep_mask(arrays)
            for (_, row), k, a in zip(g.iterrows(), keep, arrays):
                out.append(
                    (gid, row["media_id"], bool(k), mostly_white(a), mostly_black(a))
                )
        return pd.DataFrame(out, columns=[f.name for f in PERCEPTUAL_PA_SCHEMA])

    return _cached("perceptual", sf_dir, PERCEPTUAL_PA_SCHEMA, build)


# ----------------------------------------------------------- NMS fixture ---

NMS_BOX_SCHEMA = pa.schema(
    [
        ("doc_id", pa.int64()),
        ("page", pa.int64()),
        ("img_idx", pa.int64()),
        ("x0", pa.float64()),
        ("y0", pa.float64()),
        ("x1", pa.float64()),
        ("y1", pa.float64()),
        ("px_w", pa.int64()),
        ("px_h", pa.int64()),
    ]
)


def _nms_boxes_pdf(sf_dir: str, cap: int = 600) -> pd.DataFrame:
    """Deterministic bbox table derived from part.parquet p_partkey.

    Coordinates are pure md5 functions of the key; clustered into ~60 docs ×
    3 pages so groups hold ~3-4 boxes with frequent overlaps and some
    sub-min_size pixel areas (the D4/F2 decision space).
    """
    part = pq.read_table(
        os.path.join(sf_dir, "part.parquet"), columns=["p_partkey"]
    ).to_pandas()
    keys = sorted(int(k) for k in part["p_partkey"].tolist())[:cap]
    rows = []
    for pk in keys:
        d = hashlib.md5(f"nmsbox:{pk}".encode()).digest()
        x0 = float(d[0] % 200) * 2.0
        y0 = float(d[1] % 200) * 3.0
        w = 40.0 + float(d[2])
        h = 40.0 + float(d[3])
        px_w = 60 + int.from_bytes(d[4:6], "big") % 600
        px_h = 60 + int.from_bytes(d[6:8], "big") % 600
        rows.append((pk % 60, pk % 3, pk, x0, y0, x0 + w, y0 + h, px_w, px_h))
    df = pd.DataFrame(
        rows, columns=["doc_id", "page", "p_partkey", "x0", "y0", "x1", "y1", "px_w", "px_h"]
    )
    df = df.sort_values(["doc_id", "page", "p_partkey"], kind="mergesort").reset_index(
        drop=True
    )
    df["img_idx"] = df.groupby(["doc_id", "page"]).cumcount().astype("int64")
    return df[[f.name for f in NMS_BOX_SCHEMA]].astype(
        {"doc_id": "int64", "page": "int64"}
    )


def ensure_nms_boxes(sf_dir: str) -> str:
    return _cached("nms_boxes", sf_dir, NMS_BOX_SCHEMA, lambda: _nms_boxes_pdf(sf_dir))


def ensure_nms_golden(sf_dir: str) -> str:
    """Golden NMS output: the numpy kernel run single-node per group."""
    def build():
        df = _nms_boxes_pdf(sf_dir)
        kept = np.zeros(len(df), dtype=bool)
        for _, idx in df.groupby(["doc_id", "page"]).groups.items():
            sub = df.loc[idx].sort_values("img_idx", kind="mergesort")
            mask = nms_keep_mask(
                sub[["x0", "y0", "x1", "y1"]].to_numpy(dtype=float),
                (sub["px_w"] * sub["px_h"]).to_numpy(dtype=float),
            )
            kept[sub.index.to_numpy()] = mask
        return df.assign(kept=kept)

    schema = pa.schema(list(NMS_BOX_SCHEMA) + [pa.field("kept", pa.bool_())])
    return _cached("nms_golden", sf_dir, schema, build)


JPEG_MEDIA_PA_SCHEMA = pa.schema(
    [
        ("conv_id", pa.string()),
        ("turn_idx", pa.int32()),
        ("page", pa.int32()),
        ("n_bytes", pa.int32()),
        ("content_md5", pa.string()),
        ("width", pa.int32()),
        ("height", pa.int32()),
        ("mean_luma", pa.float64()),
    ]
)


def ensure_jpeg_media_golden(sf_dir: str) -> str:
    """Golden for the REAL-JPEG media path: per 'jpeg' render-media variant,
    the ENCODE-side facts (byte length, md5, the JPEG_MEDIA_SIZE target
    dims) plus the single-node decoded mean luma. width/height here are the
    encoder's target — the Spark side reports what the from-scratch baseline
    JPEG DECODER parsed out of SOF0 and assembled from the scan, so a
    decoder bug (header parse, huffman, MCU layout) breaks the hash."""

    def fn(text):
        out = []
        for rec in payload_render_media(text):
            if rec["variant"] != "jpeg":
                continue
            b = rec["png"]
            arr, status = decode_image_status(b)
            if status != "ok":
                raise RuntimeError("golden jpeg failed to decode")  # hard stop
            out.append(
                {
                    "page": rec["page"],
                    "n_bytes": len(b),
                    "content_md5": hashlib.md5(b).hexdigest(),
                    "width": JPEG_MEDIA_SIZE,
                    "height": JPEG_MEDIA_SIZE,
                    "mean_luma": round(float(arr.mean()), 6),
                }
            )
        return out

    return _ensure_record_golden(sf_dir, "jpeg_media", fn, JPEG_MEDIA_PA_SCHEMA)


RENDER_PERCEPTUAL_PA_SCHEMA = pa.schema(
    [
        ("group_id", pa.string()),
        ("media_id", pa.int64()),
        ("kept", pa.bool_()),
        ("is_mostly_white", pa.bool_()),
        ("is_mostly_black", pa.bool_()),
    ]
)


def ensure_render_perceptual_golden(sf_dir: str) -> str:
    """Golden for the REAL-pixel D3 path: per page-render group
    (full/stripped/dup PNGs), the perceptual keep mask + F5/F6 flags computed
    single-node over pixels decoded by the from-scratch PNG reader."""

    def build():
        media = explode_records(
            generate_transcripts(sf_dir),
            payload_render_media,
            ["conv_id", "turn_idx", "page", "media_ord", "png"],
        )
        out = []
        keys = ["conv_id", "turn_idx", "page"]
        for (conv_id, turn_idx, page_no), g in media.groupby(keys, sort=False):
            g = g.sort_values("media_ord", kind="mergesort")
            arrays = [decode_image_status(b)[0] for b in g["png"]]
            keep = perceptual_keep_mask(arrays)
            gid = f"{conv_id}|{turn_idx}|{page_no}"
            for o, k, a in zip(g["media_ord"], keep, arrays):
                out.append((gid, o, bool(k), mostly_white(a), mostly_black(a)))
        return pd.DataFrame(out, columns=[f.name for f in RENDER_PERCEPTUAL_PA_SCHEMA])

    return _cached("render_perceptual", sf_dir, RENDER_PERCEPTUAL_PA_SCHEMA, build)
