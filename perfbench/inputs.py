"""Seeded inputs for the benchmark workloads.

Every table is a pure function of the workload seed. The seed draws the
document texts and shifts the ``doc_id`` range that
``pdf_parser_spark.datagen`` hashes into payload kinds, PDF bodies and
conversations, so a new seed gives a different corpus with the same mix.
The program under test only ever sees the generated parquet files.
"""
from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from pdf_parser_spark.datagen import TRANSCRIPT_SCHEMA, generate_transcripts
from pdf_parser_spark.kernels.extract import sniff_kind

# the vocabulary of the repository's testdata documents tables
VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()

# doc ids stay below 10^6: the registry's dedup queries add 10^6 to mark
# their derived copies, and their oracles split corpus from batch on it
_ID_SPACE = 1_000_000
_ID_STRIDE = 104_729  # prime, so consecutive seeds land far apart


def doc_id_offset(seed: int, n_rows: int) -> int:
    return (seed * _ID_STRIDE) % (_ID_SPACE - n_rows)


def documents(seed: int, n_docs: int) -> pd.DataFrame:
    """A documents table shaped like the testdata one: 10-100 words each."""
    rng = np.random.default_rng(seed)
    lengths = rng.integers(10, 101, n_docs)
    words = np.asarray(VOCAB, dtype=object)
    texts = [" ".join(words[rng.integers(0, len(VOCAB), k)]) for k in lengths]
    return pd.DataFrame(
        {
            "doc_id": np.arange(n_docs, dtype="int64") + doc_id_offset(seed, n_docs),
            "text": texts,
        }
    )


def mixed_transcripts(seed: int, n_docs: int, work: str) -> str:
    """datagen's natural payload mix, one turn per document."""
    sf_dir = os.path.join(work, "mixed_docs")
    os.makedirs(sf_dir, exist_ok=True)
    pq.write_table(
        pa.Table.from_pandas(documents(seed, n_docs), preserve_index=False),
        os.path.join(sf_dir, "documents.parquet"),
    )
    out = os.path.join(work, "mixed_turns.parquet")
    generate_transcripts(sf_dir, out_path=out)
    return out


def chat_transcripts(seed: int, n_docs: int, work: str) -> str:
    """A chat-like turns table: datagen's plain and html turns only, with
    ``turn_idx`` and ``ts`` renumbered densely within each conversation."""
    turns = mixed_transcripts(seed, n_docs, work)
    df = pq.read_table(turns).to_pandas()
    df = df[[sniff_kind(t) in ("plain", "html") for t in df["text"]]]
    df = df.sort_values(["conv_id", "turn_idx"], kind="mergesort").reset_index(drop=True)
    df["turn_idx"] = df.groupby("conv_id").cumcount().astype("int32")
    df["ts"] = np.datetime64("2024-01-01T00:00:00", "us") + df[
        "turn_idx"
    ].to_numpy().astype("timedelta64[m]")
    out = os.path.join(work, "chat_turns.parquet")
    # datagen's row-group size: scan parallelism follows row groups
    pq.write_table(
        pa.Table.from_pandas(df, schema=TRANSCRIPT_SCHEMA, preserve_index=False),
        out,
        row_group_size=2048,
    )
    return out


def dedup_tables(seed: int, n_docs: int, replicas: int, work: str) -> str:
    """documents and embeddings tables, each ``replicas`` copies of one
    seeded base table under consecutive id ranges (the registry's replicated
    bench tables, kept below the 10^6 id mark)."""
    rng = np.random.default_rng(seed + 1)
    base = documents(seed, n_docs)
    vecs = rng.standard_normal((n_docs, 64)).astype("float32")
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    first = doc_id_offset(seed, n_docs * replicas)
    ids = [np.arange(n_docs, dtype="int64") + first + m * n_docs for m in range(replicas)]
    # only the columns the dedup_ops queries read
    docs = pd.DataFrame(
        {"doc_id": np.concatenate(ids), "text": list(base["text"]) * replicas}
    )
    emb = pd.DataFrame({"vec_id": np.concatenate(ids), "embedding": list(vecs) * replicas})
    # the basename keys golden.py's cache, so it names the seed
    out = os.path.join(work, f"dedup_tables_s{seed}")
    os.makedirs(out, exist_ok=True)
    for name, df in (("documents", docs), ("embeddings", emb)):
        pq.write_table(
            pa.Table.from_pandas(df, preserve_index=False),
            os.path.join(out, f"{name}.parquet"),
            row_group_size=4096,
        )
    return out
