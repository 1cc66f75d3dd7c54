"""Per-partition lineage + idempotent checkpoint resume (S11 + J4).

Required by the north_rule (BASELINE.json:14): "writes results back ... with
per-partition lineage rows (input snapshot id, partition hash, turn count,
extraction-failure count) enabling idempotent resume from the last committed
checkpoint". The reference has nothing like this (it is stateless
request/response, ``pdf_api/api/routes.py:73-92``).

Design:
- The unit of commitment is a *bucket*: ``pmod(xxhash64(conv_id), n_buckets)``.
  All turns of one conversation land in one bucket, so a committed bucket is
  a complete, self-contained slice of output.
- Results are written ``partitionBy("bucket")`` with dynamic partition
  overwrite: re-processing a bucket atomically replaces exactly its own
  files — a crashed run can be re-run blindly (idempotence).
- A run commits in one pass (``run_job``): one lineage row per new bucket,
  counted on the write itself. Resume = an anti-join of input buckets
  against the snapshot's committed ones, collected to the driver (lineage
  is tiny) and applied as a filter.
"""
from __future__ import annotations

import hashlib

import pandas as pd
from pyspark.sql import DataFrame, Observation, Row, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.utils import AnalysisException

from .config import DEFAULT_CONFIG, ExtractConfig
from .pipeline import TRANSCRIPT_SPARK_SCHEMA, extract_turns

__all__ = [
    "with_bucket",
    "cluster_by_bucket",
    "committed_buckets",
    "run_job",
    "LINEAGE_SCHEMA",
]

DEFAULT_BUCKETS = 64

LINEAGE_SCHEMA = T.StructType(
    [
        T.StructField("input_snapshot_id", T.StringType(), False),
        T.StructField("partition_hash", T.StringType(), False),
        T.StructField("bucket", T.IntegerType(), False),
        T.StructField("turn_count", T.LongType(), False),
        T.StructField("extraction_failure_count", T.LongType(), False),
        T.StructField("committed_at_run", T.StringType(), False),
    ]
)


def with_bucket(df: DataFrame, n_buckets: int = DEFAULT_BUCKETS) -> DataFrame:
    return df.withColumn(
        "bucket", F.pmod(F.xxhash64("conv_id"), F.lit(n_buckets)).cast("int")
    )


def cluster_by_bucket(
    extracted: DataFrame,
    n_buckets: int = DEFAULT_BUCKETS,
    num_partitions: int | None = None,
) -> DataFrame:
    """Bucket-aligned reassembly for the WRITE path: one hash exchange on
    the lineage bucket key serves BOTH the window's clustering and the
    bucketed output layout — no persist, no sampling pass, single kernel
    execution.

    ``pipeline.reassemble`` (the standalone path) has the same shape keyed
    by ``conv_id``; here the key is the output bucket, so the exchange also
    lays out the bucketed ``partitionBy("bucket")`` write. The window
    partitions by ``(bucket, conv_id)`` — semantically identical to
    ``conv_id`` alone since bucket is a pure function of conv_id — so
    Catalyst accepts hashpartitioning(bucket) as satisfying the window's
    required clustering and plans ONE exchange and a partition-local sort
    (pinned by ``test_cluster_by_bucket_plan``). ``turn_seq`` values are
    row-for-row identical to ``reassemble``'s (same partition-by set
    modulo the redundant bucket, same ordering).
    """
    cols = (num_partitions, "bucket") if num_partitions else ("bucket",)
    bucketed = with_bucket(extracted, n_buckets).repartition(*cols)
    w = Window.partitionBy("bucket", "conv_id").orderBy("turn_idx")
    return bucketed.withColumn("turn_seq", F.row_number().over(w))


def _snapshot_lineage(
    spark: SparkSession, lineage_path: str, snapshot_id: str
) -> DataFrame:
    try:
        lin = spark.read.schema(LINEAGE_SCHEMA).parquet(lineage_path)
    except AnalysisException:
        return spark.createDataFrame([], LINEAGE_SCHEMA)
    return lin.filter(F.col("input_snapshot_id") == snapshot_id)


def committed_buckets(
    spark: SparkSession, lineage_path: str, snapshot_id: str
) -> DataFrame:
    """Distinct committed bucket ids for a snapshot (empty if no lineage yet)."""
    return _snapshot_lineage(spark, lineage_path, snapshot_id).select("bucket").distinct()


def run_job(
    spark: SparkSession,
    input_path: str,
    output_path: str,
    lineage_path: str,
    snapshot_id: str,
    run_id: str,
    cfg: ExtractConfig = DEFAULT_CONFIG,
    n_buckets: int = DEFAULT_BUCKETS,
    num_partitions: int | None = None,
) -> dict:
    """Resumable extraction job. Returns summary counters.

    Safe to re-run after a crash: committed buckets are skipped via the
    lineage anti-join; partially-written buckets (data files without a
    lineage row) are atomically rewritten by dynamic partition overwrite.

    Runs under a per-job session (``pipeline.job_session``): the scan
    sizing and the dynamic-overwrite mode live in the job's own SQLConf,
    so the caller's session is never mutated.

    Reassembly is bucket-aligned (``cluster_by_bucket``): one hash
    exchange serves the window AND the bucketed write.

    The commit is one pass. The snapshot's lineage rows are read once, at
    the start, for the resume filter and the summary. Each new bucket's
    counts come from an ``Observation`` on ``cluster_by_bucket``'s output,
    so the write job computes them and nothing reads ``output_path`` back.

    The observation sits above the one exchange, so its collecting
    operator runs in the write's result stage. There the DAGScheduler
    applies each partition's accumulator update once: a result task
    updates only an unfinished output partition, and a failed attempt
    reports only ``countFailedValues`` accumulators, which this is not;
    a retried or speculative task counts once. ``histogram_numeric`` is
    exact: its ``n_buckets`` bins are never fewer than the distinct ids,
    so no two ids share a bin. One id may span bins (the driver sums
    them), and a merged bin's centre is a weighted mean that can drift by
    an ulp, so the ids go in as doubles and the driver rounds.
    """
    from .pipeline import job_session, scan_plan

    cpus = num_partitions or spark.sparkContext.defaultParallelism
    split, salt = scan_plan(input_path, cpus)
    spark = job_session(spark, split)
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    turns = spark.read.schema(TRANSCRIPT_SPARK_SCHEMA).parquet(input_path)
    turns = with_bucket(turns, n_buckets)

    committed = _snapshot_lineage(spark, lineage_path, snapshot_id).collect()
    todo = turns.filter(~F.col("bucket").isin([r.bucket for r in committed]))

    extracted = extract_turns(todo.drop("bucket"), cfg, salt=salt)
    obs, bucket = Observation(), F.col("bucket").cast("double")
    failed = F.when(~F.col("extraction_ok"), bucket)
    result = cluster_by_bucket(extracted, n_buckets, num_partitions).observe(
        obs,
        F.histogram_numeric(bucket, F.lit(n_buckets)).alias("turns"),
        F.histogram_numeric(failed, F.lit(n_buckets)).alias("failures"),
    )
    result.write.mode("overwrite").partitionBy("bucket").parquet(output_path)

    observed, counts = obs.get, {}
    for i, name in enumerate(("turns", "failures")):
        for x, y in observed[name] or ():
            counts.setdefault(round(x), [0, 0])[i] += int(y)
    row = Row(*LINEAGE_SCHEMA.names)
    new = [
        row(snapshot_id, hashlib.md5(f"{snapshot_id}:{b}".encode()).hexdigest(),
            b, n, f, run_id)
        for b, (n, f) in sorted(counts.items())
    ]
    if new:  # from pandas, Arrow makes a local relation: no Python worker
        lin = spark.createDataFrame(pd.DataFrame(new), LINEAGE_SCHEMA)
        lin.coalesce(1).write.mode("append").parquet(lineage_path)

    rows = committed + new
    return {
        "buckets_committed": len({r.bucket for r in rows}),
        "turns": sum(r.turn_count for r in rows),
        "failures": sum(r.extraction_failure_count for r in rows),
    }
