"""THE north-metric test: Spark pipeline output == single-node golden runner,
byte-for-byte, under stable (conv_id, turn_idx) ordering (BASELINE.json:2).

The golden is produced by calling kernels.extract.extract_batch directly on
pandas (no Spark); the pipeline wraps the identical function in mapInPandas.
Equality therefore validates the Spark orchestration: salting, Arrow
round-trip, hash repartition, window reassembly.
"""
from __future__ import annotations

import os
import shutil

import pandas as pd
import pytest

from conftest import SF_SMOKE
from pdf_parser_spark import golden as G
from pdf_parser_spark.kernels.extract import extract_batch
from pdf_parser_spark.pipeline import extract_turns, reassemble, run_extraction


@pytest.fixture(scope="module")
def golden(transcripts_pdf):
    g = extract_batch(transcripts_pdf)
    g = g.sort_values(["conv_id", "turn_idx"], kind="mergesort").reset_index(drop=True)
    g["turn_seq"] = g.groupby("conv_id").cumcount() + 1
    return g


@pytest.fixture(scope="module")
def spark_result(spark, transcripts_parquet):
    out = run_extraction(spark, transcripts_parquet, num_partitions=8)
    pdf = out.toPandas()
    return pdf.sort_values(["conv_id", "turn_idx"], kind="mergesort").reset_index(drop=True)


def test_row_count(golden, spark_result):
    assert len(spark_result) == len(golden)


def test_per_turn_text_equality(golden, spark_result):
    assert spark_result["conv_id"].tolist() == golden["conv_id"].tolist()
    assert spark_result["turn_idx"].tolist() == golden["turn_idx"].tolist()
    assert spark_result["payload_kind"].tolist() == golden["payload_kind"].tolist()
    # byte-for-byte text equality
    mism = spark_result["extracted_text"] != golden["extracted_text"]
    assert not mism.any(), spark_result.loc[mism].head()


def test_span_equality(golden, spark_result):
    for got, want in zip(spark_result["spans"], golden["spans"]):
        got_t = [(r["start"], r["end"]) for r in got]
        want_t = [(r["start"], r["end"]) for r in want]
        assert got_t == want_t


def test_flags_and_counts(golden, spark_result):
    assert spark_result["n_blocks"].tolist() == golden["n_blocks"].tolist()
    assert spark_result["extraction_ok"].tolist() == golden["extraction_ok"].tolist()


def test_window_reassembly_seq(golden, spark_result):
    assert spark_result["turn_seq"].tolist() == golden["turn_seq"].tolist()
    # turn_seq is 1-based dense within conversation
    g = spark_result.groupby("conv_id")["turn_seq"]
    assert (g.min() == 1).all()
    assert (g.max() == g.count()).all()


def test_span_invariants(spark_result, transcripts_pdf):
    raw = transcripts_pdf.set_index(["conv_id", "turn_idx"])["text"]
    for _, row in spark_result.iterrows():
        payload = raw.loc[(row["conv_id"], row["turn_idx"])]
        prev_end = 0
        for r in row["spans"]:
            s, e = r["start"], r["end"]
            assert 0 <= s < e <= len(payload)
            assert s >= prev_end  # ordered, non-overlapping
            prev_end = e


def test_malformed_rows_flagged(spark_result):
    errs = spark_result[spark_result["payload_kind"] == "error"]
    assert (~errs["extraction_ok"]).all()
    assert (errs["extracted_text"] == "").all()


def test_all_kinds_present(spark_result):
    kinds = set(spark_result["payload_kind"])
    assert {"plain", "html", "pdf_text", "pdf_digital", "pdf_vector"} <= kinds


def test_salting_spreads_hot_conversations(spark, transcripts_parquet):
    from pyspark.sql import functions as F

    # AQE coalesces the tiny test shuffle to 1 partition, which would hide
    # the salting effect; disable it just for this plan-shape check.
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        df = spark.read.parquet(transcripts_parquet)
        extracted = extract_turns(df, salt=True)
        parts = (
            extracted.filter(F.col("conv_id").startswith("hotconv"))
            .select(F.spark_partition_id().alias("pid"))
            .distinct()
            .count()
        )
        assert parts > 1  # hot conversations span multiple tasks pre-reassembly
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")


def test_cache_key_tracks_tables_and_code(tmp_path, monkeypatch):
    """A golden is served only to the tables and package code that built it:
    touching a source table or changing the code names a fresh cache file."""
    sf_dir = tmp_path / "sf0.001"
    sf_dir.mkdir()
    table = sf_dir / "part.parquet"
    shutil.copy(os.path.join(SF_SMOKE, "part.parquet"), table)
    monkeypatch.setattr(G, "CACHE_DIR", str(tmp_path / "cache"))

    first = G.ensure_nms_boxes(str(sf_dir))
    assert G.ensure_nms_boxes(str(sf_dir)) == first

    st = os.stat(table)
    os.utime(table, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))
    second = G.ensure_nms_boxes(str(sf_dir))
    assert second != first and os.path.exists(second)

    monkeypatch.setattr(G, "package_digest", lambda: "other code")
    third = G.ensure_nms_boxes(str(sf_dir))
    assert third not in (first, second) and os.path.exists(third)
