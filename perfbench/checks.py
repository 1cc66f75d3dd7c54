"""Independent references the benchmark checks the program's outputs against.

Extraction workloads are checked row by row against the single-node kernel
(``kernels.extract.extract_batch``) on the same input. The registry
operators are checked against their DuckDB oracle queries from
``__spark_entry__``, run over the same generated tables.
"""
from __future__ import annotations

import os
from collections import Counter

import duckdb
import pandas as pd
import pyarrow.parquet as pq

from pdf_parser_spark import golden
from pdf_parser_spark.kernels.extract import extract_batch

ROW_FIELDS = (
    "role",
    "tool",
    "payload_kind",
    "extracted_text",
    "spans",
    "n_blocks",
    "extraction_ok",
    "turn_seq",
)


def extraction_reference(turns_path: str) -> pd.DataFrame:
    """Single-node extraction of a turns table, with the window
    reassembly's ``turn_seq`` (1..n in ``turn_idx`` order per conversation)."""
    ref = extract_batch(pq.read_table(turns_path).to_pandas())
    ref = ref.sort_values(["conv_id", "turn_idx"], kind="mergesort").reset_index(drop=True)
    ref["turn_seq"] = ref.groupby("conv_id").cumcount() + 1
    return ref


def _keyed(cols: dict[str, list], fields: tuple[str, ...]):
    """((conv_id, turn_idx), row) pairs; spans compare as (start, end) tuples."""
    values = [
        [tuple((s["start"], s["end"]) for s in v) for v in cols[f]] if f == "spans" else cols[f]
        for f in fields
    ]
    return zip(zip(cols["conv_id"], cols["turn_idx"]), zip(*values))


def bad_rows(out_cols: dict[str, list], ref: pd.DataFrame, fields=ROW_FIELDS) -> int:
    """Output rows that are missing, duplicated, unexpected or differ from
    the reference in any of ``fields``."""
    expected = dict(_keyed({c: ref[c].tolist() for c in ("conv_id", "turn_idx") + fields}, fields))
    seen: Counter = Counter()
    bad = 0
    for key, row in _keyed(out_cols, fields):
        seen[key] += 1
        if seen[key] > 1 or expected.get(key) != row:
            bad += 1
    return bad + sum(1 for key in expected if key not in seen)


# ------------------------------------------------------------- oracles ---

def oracle_queries(entry, tables_dir: str) -> dict[str, str]:
    """The DuckDB oracle SQL ``__spark_entry__.oracle_sql()`` registers for
    the four dedup_ops queries, taken from its per-query SQL functions:
    ``oracle_sql()`` itself first builds every golden file of the registry
    at the repository's fixed testdata scale. The BPE arm of token_stats
    joins the single-node BPE golden of ``tables_dir`` instead."""
    bpe = golden.ensure_bpe_golden(tables_dir)
    return {
        "minhash_lsh_pairs": entry._minhash_sql(),
        "minhash_incremental": entry._minhash_incremental_sql(),
        "embedding_near_dup": entry._near_dup_sql(),
        "token_stats": (
            "WITH base AS (" + entry._TOKEN_STATS_BASE_SQL + ")\n"
            "SELECT base.*, bpe.n_bpe_tokens\n"
            f"FROM base JOIN '{bpe}' bpe USING (doc_id)"
        ),
    }


def _norm(v):
    # strict, as scripts/check_oracles.py compares: an int never equals a float
    if v is None or isinstance(v, (bool, int, float)):
        return (type(v).__name__, v)
    return ("str", str(v))


def row_multiset(cols: list[str], rows) -> Counter:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return Counter(tuple(_norm(r[i]) for i in order) for r in rows)


def oracle_results(tables_dir: str, sql: dict[str, str]) -> dict[str, tuple]:
    """name -> (sorted column names, row multiset) from DuckDB."""
    con = duckdb.connect()
    try:
        con.execute("SET threads = 4")
        for t in ("documents", "embeddings"):
            path = os.path.join(tables_dir, f"{t}.parquet")
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
        out = {}
        for name, q in sql.items():
            rel = con.sql(q)
            out[name] = (sorted(rel.columns), row_multiset(rel.columns, rel.fetchall()))
        return out
    finally:
        con.close()


def matches_oracle(table, expected: tuple) -> bool:
    """Spark result (pyarrow Table) equals the oracle's rows exactly."""
    cols, rows = expected
    got = row_multiset(table.column_names, zip(*(c.to_pylist() for c in table.columns)))
    return sorted(table.column_names) == cols and got == rows
