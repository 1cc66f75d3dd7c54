#!/usr/bin/env python
"""Headline benchmark. Prints ONE JSON line:

    {"metric": ..., "value": <total sec>, "unit": "sec",
     "queries": {name: sec, ...}, "sf": ..., "turns_per_sec": ...,
     "queries_x4": {name: median sec, ...}, "turns_x4": ..., ...}

Env:
    SPARK_GRAFT_SF_DIR   input dir (default /root/testdata/sf0.1)
    SPARK_GRAFT_CPUS     local[] parallelism (default 32)
    BENCH_MULT           transcript volume multiplier (default 16; the
                         extraction corpus is BENCH_MULT x documents rows)
    BENCH_WIDE           0 disables the x4 second-scale pass (default on)

Two scales per run (r04 verdict task #8): the historical 80k-turn
continuity line (best-of-3 per query — comparable to BENCH_r01..r04), and
the SAME suite at x4 the rows (320k-turn extraction corpus; documents and
embeddings tables replicated x4, relational tables symlinked), reporting
per-query MEDIANS — sub-second draws at 80k are how phantom regressions
kept appearing (a 0.5 s query measured over a 3x host swing is pure
lottery; at x4 the heavy operators sit well above the noise floor).

Each query is materialized with a noop write so every output column is
computed (a bare count() would let Catalyst prune the expensive ones).
"""
from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
MULT = int(os.environ.get("BENCH_MULT", "16"))
WIDE = os.environ.get("BENCH_WIDE", "1") != "0"
WIDE_FACTOR = 4

# the headline suite: flagship extraction + the operators that dominate a
# training-data pipeline at scale (dedup, similarity, text stats, NMS, joins)
HEADLINE = [
    "q1_pricing_summary",
    "q3_top_orders",
    "a2_first3_totals",
    "w3_first_occurrence",
    "d1_exact_dedup",
    "minhash_lsh_pairs",
    "simhash_digests",
    "fingerprint48",
    "token_stats",
    "lang_id_histogram",
    "cosine_topk",
    "srp_bucket_histogram",
    "d4_nms_filter",
    "media_features",
    "fallback_extraction",
    "simhash_hamming_pairs",
    "embedding_near_dup",
    "decontamination_hits",
]

_ID_COLS = {"documents": "doc_id", "embeddings": "vec_id"}


def ensure_scaled_dir(sf_dir: str, mult: int) -> str:
    """A table dir with documents/embeddings replicated ``mult``-fold
    (id offset 10^7 per replica — clear of the +10^6 doubled-copy ids the
    dedup queries add) and every other table symlinked unchanged."""
    import pyarrow.parquet as pq
    import pyarrow as pa
    import pandas as pd

    from pdf_parser_spark import golden as G

    out = G.cache_path(f"tables_x{mult}", sf_dir, suffix="")
    done = os.path.join(out, "_SCALED_OK")
    if os.path.exists(done):
        return out
    os.makedirs(out, exist_ok=True)
    for name in sorted(os.listdir(sf_dir)):
        if not name.endswith(".parquet"):
            continue
        src = os.path.join(sf_dir, name)
        dst = os.path.join(out, name)
        table = name[: -len(".parquet")]
        if table in _ID_COLS:
            idc = _ID_COLS[table]
            base = pq.read_table(src).to_pandas()
            reps = []
            for m in range(mult):
                r = base.copy()
                r[idc] = r[idc] + m * 10_000_000
                reps.append(r)
            big = pd.concat(reps, ignore_index=True)
            pq.write_table(
                pa.Table.from_pandas(big, preserve_index=False),
                dst + ".tmp",
                row_group_size=4096,
            )
            os.replace(dst + ".tmp", dst)
        elif not os.path.exists(dst):
            os.symlink(src, dst)
    with open(done, "w") as f:
        f.write("ok\n")
    return out


def main() -> None:
    import __spark_entry__ as entrymod
    from pyspark.sql import SparkSession

    from pdf_parser_spark.caching import release_persisted

    from pdf_parser_spark import golden as G
    from pdf_parser_spark.datagen import generate_transcripts_multi
    from pdf_parser_spark.pipeline import run_extraction, session_defaults

    spark = (
        session_defaults(
            SparkSession.builder.master(f"local[{CPUS}]").appName("bench"), cpus=CPUS
        )
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "48g")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    def timed_trials(df_factory, n: int = 3) -> list[float]:
        xs = []
        for _ in range(n):
            df = df_factory()
            t0 = time.time()
            df.write.format("noop").mode("overwrite").save()
            xs.append(time.time() - t0)
            spark.catalog.clearCache()  # drop operator persists between runs
            release_persisted()
        return xs

    def best(xs) -> float:
        # best-of-n: this host's available CPU swings ~2x on a minutes
        # timescale (see BENCH/BASELINE.md controls); the min is the
        # capability, a single draw is a lottery ticket
        return round(min(xs), 3)

    def median(xs) -> float:
        return round(sorted(xs)[len(xs) // 2], 3)

    import pyarrow.parquet as pq

    # extraction corpora (cached): continuity MULT and the x4 wide line
    def corpus(mult: int) -> str:
        p = G.cache_path(f"transcripts_x{mult}", SF_DIR)
        if not os.path.exists(p):
            generate_transcripts_multi(SF_DIR, p, mult=mult)
        return p

    tpath = corpus(MULT)
    n_turns = pq.read_metadata(tpath).num_rows

    # warm-up on the small smoke corpus: JIT + codegen + python-worker spawn
    # are session costs, not pipeline throughput
    run_extraction(spark, G.ensure_transcripts("/root/testdata/sf0.001")).write.format(
        "noop"
    ).mode("overwrite").save()
    spark.catalog.clearCache()

    timings: dict[str, float] = {}
    timings["extract_pipeline"] = best(
        timed_trials(lambda: run_extraction(spark, tpath, num_partitions=CPUS))
    )
    extract_sec = timings["extract_pipeline"]

    qs = entrymod.queries()
    for name in HEADLINE:
        timings[name] = best(timed_trials(lambda name=name: qs[name](spark, SF_DIR)))

    result = {
        "metric": "headline suite wall time (extraction + operator queries)",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": timings,
        "sf": SF_DIR.rstrip("/").rsplit("sf", 1)[-1],
        "turns": n_turns,
        "turns_per_sec": round(n_turns / extract_sec, 1),
        "cpus": CPUS,
    }

    if WIDE:
        wide_dir = ensure_scaled_dir(SF_DIR, WIDE_FACTOR)
        wpath = corpus(MULT * WIDE_FACTOR)
        w_turns = pq.read_metadata(wpath).num_rows
        wide: dict[str, float] = {}
        xs = timed_trials(lambda: run_extraction(spark, wpath, num_partitions=CPUS))
        wide["extract_pipeline"] = median(xs)
        w_extract_best = best(xs)
        for name in HEADLINE:
            wide[name] = median(
                timed_trials(lambda name=name: qs[name](spark, wide_dir))
            )
        result.update(
            {
                "queries_x4": wide,
                "value_x4": round(sum(wide.values()), 3),
                "turns_x4": w_turns,
                "turns_per_sec_x4": round(w_turns / w_extract_best, 1),
            }
        )

    print(json.dumps(result))
    spark.stop()


if __name__ == "__main__":
    main()
