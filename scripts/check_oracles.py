#!/usr/bin/env python
"""Local stand-in for the driver's correctness gate: run every
``__spark_entry__.queries()`` entry at sf0.01 and compare against its
``oracle_sql()`` DuckDB result — row count, sorted column names, and an
order-insensitive value multiset (strict: exact value equality).

Usage: python scripts/check_oracles.py [query ...]
"""
from __future__ import annotations

import os
import sys
import time
from collections import Counter

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod
from pdf_parser_spark.caching import release_persisted

SF_DIR = os.environ.get("SF_DIR", "/root/testdata/sf0.01")
TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def norm(v):
    if v is None:
        return "∅"
    if isinstance(v, bool):
        return f"b:{int(v)}"
    if isinstance(v, float):
        return f"f:{v!r}"
    if isinstance(v, int):
        return f"i:{v}"
    return f"s:{v}"


def row_key(row: dict, cols: list[str]) -> tuple:
    return tuple(norm(row[c]) for c in cols)


def mismatches(srows: list[dict], scols: list[str], orows: list[dict], ocols: list[str]) -> list[str]:
    """Spark rows vs oracle rows (column lists sorted): column names, row
    count, then the value multiset. Empty means equal."""
    msgs = []
    if scols != ocols:
        msgs.append(f"cols spark={scols} oracle={ocols}")
    if len(srows) != len(orows):
        msgs.append(f"rowcount spark={len(srows)} oracle={len(orows)}")
    if not msgs:
        sset = Counter(row_key(r, scols) for r in srows)
        oset = Counter(row_key(r, scols) for r in orows)
        if sset != oset:
            diff_s = list((sset - oset).items())[:3]
            diff_o = list((oset - sset).items())[:3]
            msgs.append(f"values spark-only={diff_s} oracle-only={diff_o}")
    return msgs


def main() -> int:
    from pyspark.sql import SparkSession

    from pdf_parser_spark.pipeline import session_defaults

    spark = (
        session_defaults(
            SparkSession.builder.master("local[8]").appName("check_oracles"), cpus=16
        )
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "8g")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{os.path.join(SF_DIR, t)}.parquet'"
        )

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    only = set(sys.argv[1:])
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, SF_DIR)
            srows = [r.asDict() for r in sdf.collect()]
            scols = sorted(sdf.columns)
            # operators persist() intermediates consumed by 2+ sub-plans;
            # drop them between queries so a 40-query session doesn't
            # accumulate cached blocks for its whole lifetime
            spark.catalog.clearCache()
            release_persisted()
        except Exception as e:
            failures.append(name)
            print(f"FAIL {name}: spark error: {type(e).__name__}: {e}")
            continue
        if name not in oracles:
            print(f"ok?  {name}: rows-only ({len(srows)} rows, {time.time()-t0:.1f}s)")
            if len(srows) == 0:
                failures.append(name)
                print(f"FAIL {name}: 0 rows")
            continue
        try:
            rel = con.sql(oracles[name])
            ocols_raw = rel.columns
            orows = [dict(zip(ocols_raw, r)) for r in rel.fetchall()]
            ocols = sorted(ocols_raw)
        except Exception as e:
            failures.append(name)
            print(f"FAIL {name}: duckdb error: {type(e).__name__}: {e}")
            continue
        msgs = mismatches(srows, scols, orows, ocols)
        if msgs:
            failures.append(name)
            print(f"FAIL {name}: " + " | ".join(msgs))
        else:
            print(f"PASS {name} ({len(srows)} rows, {time.time()-t0:.1f}s)")
    spark.stop()
    print(f"\n{len(failures)} failures" + (f": {failures}" if failures else ""))
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
