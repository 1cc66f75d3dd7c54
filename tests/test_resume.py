"""Lineage + idempotent resume (S11/J4; BASELINE.json:14).

Simulates a crash-after-partial-commit: first run processes only a subset of
buckets (we pre-commit fake lineage for the rest... inverse: we run the job
normally, then delete some lineage rows and some output partitions, re-run,
and require byte-equal final state with no duplicated turns).
"""
from __future__ import annotations

import glob
import os
import shutil
import subprocess
import sys

import pytest
from pyspark.sql import functions as F
from pyspark.sql.readwriter import DataFrameReader, DataFrameWriter

from pdf_parser_spark import lineage
from pdf_parser_spark.lineage import committed_buckets, run_job, with_bucket


@pytest.fixture()
def dirs(tmp_path):
    return {
        "out": str(tmp_path / "out"),
        "lineage": str(tmp_path / "lineage"),
    }


def test_full_run_then_noop_rerun(spark, transcripts_parquet, dirs):
    r1 = run_job(
        spark, transcripts_parquet, dirs["out"], dirs["lineage"],
        snapshot_id="snap1", run_id="run1", n_buckets=8, num_partitions=4,
    )
    n1 = spark.read.parquet(dirs["out"]).count()
    assert r1["turns"] == n1
    n_lineage = spark.read.parquet(dirs["lineage"]).count()

    # re-run: anti-join must skip everything; output unchanged
    r2 = run_job(
        spark, transcripts_parquet, dirs["out"], dirs["lineage"],
        snapshot_id="snap1", run_id="run2", n_buckets=8, num_partitions=4,
    )
    assert r2["turns"] == r1["turns"]
    assert r2["buckets_committed"] == r1["buckets_committed"]
    out = spark.read.parquet(dirs["out"])
    assert out.count() == n1
    # no duplicated (conv_id, turn_idx)
    assert out.select("conv_id", "turn_idx").distinct().count() == n1
    # a no-op rerun commits nothing: no lineage rows appended
    assert spark.read.parquet(dirs["lineage"]).count() == n_lineage


def test_resume_after_partial_commit(spark, transcripts_parquet, dirs):
    run_job(
        spark, transcripts_parquet, dirs["out"], dirs["lineage"],
        snapshot_id="snapA", run_id="run1", n_buckets=8, num_partitions=4,
    )
    full = (
        spark.read.parquet(dirs["out"])
        .orderBy("conv_id", "turn_idx")
        .select("conv_id", "turn_idx", "payload_kind", "extracted_text", "turn_seq")
        .toPandas()
    )

    # simulate the crash: drop lineage rows for half the buckets and delete
    # one of those buckets' data (a torn write)
    lin = spark.read.parquet(dirs["lineage"]).toPandas()
    keep_buckets = sorted(lin["bucket"].unique())[: len(lin) // 2]
    shutil.rmtree(dirs["lineage"])
    spark.createDataFrame(lin[lin["bucket"].isin(keep_buckets)]).write.parquet(
        dirs["lineage"]
    )
    lost = [b for b in lin["bucket"].unique() if b not in keep_buckets]
    torn = lost[0]
    for f in glob.glob(os.path.join(dirs["out"], f"bucket={torn}", "*")):
        os.remove(f)

    r = run_job(
        spark, transcripts_parquet, dirs["out"], dirs["lineage"],
        snapshot_id="snapA", run_id="run2", n_buckets=8, num_partitions=4,
    )
    after = (
        spark.read.parquet(dirs["out"])
        .orderBy("conv_id", "turn_idx")
        .select("conv_id", "turn_idx", "payload_kind", "extracted_text", "turn_seq")
        .toPandas()
    )
    assert after.equals(full)  # byte-equal final table
    assert r["buckets_committed"] == lin["bucket"].nunique()

    # committed-bucket accounting matches the data
    done = committed_buckets(spark, dirs["lineage"], "snapA").count()
    assert done == lin["bucket"].nunique()


def test_failure_counts_in_lineage(spark, transcripts_parquet, dirs):
    run_job(
        spark, transcripts_parquet, dirs["out"], dirs["lineage"],
        snapshot_id="snapF", run_id="run1", n_buckets=8, num_partitions=4,
    )
    lin = spark.read.parquet(dirs["lineage"])
    total_failures = lin.agg(F.sum("extraction_failure_count")).collect()[0][0]
    actual_errors = (
        spark.read.parquet(dirs["out"]).filter(~F.col("extraction_ok")).count()
    )
    assert total_failures == actual_errors
    # partition_hash is deterministic per (snapshot, bucket)
    assert lin.select("partition_hash").distinct().count() == lin.count()


def test_cluster_by_bucket_plan(spark, transcripts_parquet):
    """The write path's reassembly must plan ONE exchange
    (hashpartitioning on bucket), no persist, and only a partition-local
    sort for the window — the bucket-aligned shape that reuses the output
    layout's exchange and never materializes the extracted corpus."""
    from pdf_parser_spark.lineage import cluster_by_bucket
    from pdf_parser_spark.pipeline import extract_turns

    spark.catalog.clearCache()
    out = cluster_by_bucket(
        extract_turns(spark.read.parquet(transcripts_parquet)), 8, 4
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    n_exchange = sum(
        1 for l in plan.splitlines() if l.strip().startswith(("(", "+", ":"))
        and "Exchange" in l
    )
    assert n_exchange == 1, plan
    assert "hashpartitioning(bucket" in plan, plan
    assert "InMemoryTableScan" not in plan, plan


def test_cluster_by_bucket_turn_seq_matches_reassemble(spark, transcripts_parquet):
    """Row-for-row turn_seq equality with the standalone conv_id-hashed
    reassembly: partitioning the window by (bucket, conv_id) is
    semantically identical to conv_id alone (bucket is a pure function of
    conv_id)."""
    from pdf_parser_spark.lineage import cluster_by_bucket
    from pdf_parser_spark.pipeline import extract_turns, reassemble

    spark.catalog.clearCache()
    raw = spark.read.parquet(transcripts_parquet)
    a = {
        (r["conv_id"], r["turn_idx"]): r["turn_seq"]
        for r in cluster_by_bucket(extract_turns(raw), 8, 4)
        .select("conv_id", "turn_idx", "turn_seq")
        .collect()
    }
    b = {
        (r["conv_id"], r["turn_idx"]): r["turn_seq"]
        for r in reassemble(extract_turns(raw), 4)
        .select("conv_id", "turn_idx", "turn_seq")
        .collect()
    }
    assert a == b and len(a) == 500
    spark.catalog.clearCache()


def _lineage_vs_output(spark, dirs):
    """(lineage rows, groupBy(bucket) over the written output), each as
    ``{bucket: (turn_count, extraction_failure_count)}``."""
    lin = {
        r["bucket"]: (r["turn_count"], r["extraction_failure_count"])
        for r in spark.read.parquet(dirs["lineage"]).collect()
    }
    out = {
        r["bucket"]: (r["n"], r["f"])
        for r in spark.read.parquet(dirs["out"])
        .groupBy("bucket")
        .agg(F.count("*").alias("n"), F.count_if(~F.col("extraction_ok")).alias("f"))
        .collect()
    }
    return lin, out


def test_run_job_reads_lineage_once_and_never_its_output(
    spark, transcripts_parquet, dirs, monkeypatch
):
    """The commit is one pass: the lineage counts come from the write
    itself, so no job reads ``output_path`` back, and the summary comes
    from the lineage rows read once at the start."""
    reads = []
    orig = DataFrameReader.parquet

    def recording(self, *paths, **kw):
        reads.extend(paths)
        return orig(self, *paths, **kw)

    monkeypatch.setattr(DataFrameReader, "parquet", recording)
    for run in ("run1", "run2"):
        reads.clear()
        run_job(
            spark, transcripts_parquet, dirs["out"], dirs["lineage"],
            snapshot_id="snapR", run_id=run, n_buckets=8, num_partitions=4,
        )
        assert dirs["out"] not in reads, reads
        assert reads.count(dirs["lineage"]) == 1, reads


def test_lineage_observed_above_last_exchange(
    spark, transcripts_parquet, dirs, monkeypatch
):
    """The lineage observation (``CollectMetrics``) sits above the write
    plan's last exchange, i.e. in the write's result stage, where each
    partition's accumulator update is applied once."""
    plans = {}
    orig = DataFrameWriter.parquet

    def recording(self, path, *a, **kw):
        plans[path] = self._df._jdf.queryExecution().executedPlan().toString()
        return orig(self, path, *a, **kw)

    monkeypatch.setattr(DataFrameWriter, "parquet", recording)
    run_job(
        spark, transcripts_parquet, dirs["out"], dirs["lineage"],
        snapshot_id="snapP", run_id="run1", n_buckets=8, num_partitions=4,
    )
    lines = plans[dirs["out"]].splitlines()
    observe = [i for i, l in enumerate(lines) if "CollectMetrics" in l]
    exchanges = [i for i, l in enumerate(lines) if "Exchange" in l]
    assert len(observe) == 1 and exchanges, plans[dirs["out"]]
    assert observe[0] < exchanges[0], plans[dirs["out"]]


def test_observed_lineage_exact_with_buckets_over_partitions(
    spark, transcripts_parquet, dirs, monkeypatch
):
    """Exact per-bucket counts when every bucket id spans several write
    tasks, so the driver merges partial histograms of equal ids. The
    sf0.001 transcripts carry malformed payloads, so failures are
    counted too."""
    orig = lineage.cluster_by_bucket
    monkeypatch.setattr(
        lineage, "cluster_by_bucket", lambda *a: orig(*a).repartition(16)
    )
    r = run_job(
        spark, transcripts_parquet, dirs["out"], dirs["lineage"],
        snapshot_id="snapX", run_id="run1", n_buckets=8, num_partitions=4,
    )
    for b in range(8):
        assert len(glob.glob(os.path.join(dirs["out"], f"bucket={b}", "*.parquet"))) >= 2
    lin, out = _lineage_vs_output(spark, dirs)
    assert sorted(lin) == list(range(8))
    assert lin == out
    assert r["failures"] == sum(f for _, f in out.values()) > 0
    assert r["turns"] == sum(n for n, _ in out.values()) == 500


_FLAKY_RUN = """
import json, os, sys
from pyspark import TaskContext
from pyspark.sql import SparkSession, functions as F, types as T
from pdf_parser_spark import lineage
from pdf_parser_spark.pipeline import session_defaults

src, out, lin, marker = sys.argv[1:]
spark = (session_defaults(SparkSession.builder.master("local[2,2]"), cpus=2)
         .config("spark.ui.enabled", "false").getOrCreate())
seen = [0]

def flaky(bucket):
    # partition 0 of the write stage fails its first attempt mid-stream,
    # after earlier row batches have reached the observation
    ctx = TaskContext.get()
    seen[0] += 1
    if ctx.partitionId() == 0 and ctx.attemptNumber() == 0 and seen[0] > 150:
        with open(marker, "w") as f:
            f.write(str(seen[0]))
        raise RuntimeError("injected first-attempt failure")
    return True

udf = F.udf(flaky, T.BooleanType(), useArrow=False)
orig = lineage.cluster_by_bucket
lineage.cluster_by_bucket = lambda *a: orig(*a).filter(udf("bucket"))
r = lineage.run_job(spark, src, out, lin, snapshot_id="snapT", run_id="run1",
                    n_buckets=8, num_partitions=2)
print(json.dumps(r))
spark.stop()
"""


def test_observed_lineage_survives_task_retry(spark, transcripts_parquet, dirs, tmp_path):
    """A write task that fails its first attempt after rows have passed
    the observation is retried (``local[2,2]``); the failed attempt's
    partial counts must not reach the lineage."""
    marker = str(tmp_path / "failed_attempt")
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    subprocess.run(
        [sys.executable, "-c", _FLAKY_RUN, transcripts_parquet, dirs["out"],
         dirs["lineage"], marker],
        cwd=repo, env={**os.environ, "PYTHONPATH": repo},
        capture_output=True, text=True, check=True, timeout=600,
    )
    assert int(open(marker).read()) > 150  # the injected failure happened
    lin, out = _lineage_vs_output(spark, dirs)
    assert sorted(lin) == sorted(out) and lin == out
