"""pdf_parser_spark — a PySpark-native main-content extraction engine.

A from-scratch reimplementation of the data-processing capabilities of the
reference repo ``zhouxinlun/pdf_parser`` (a single-node Flask PDF service),
re-expressed as batch DataFrame transforms + vectorized pandas/Arrow UDF
kernels over a table of conversation turns
``(conv_id, turn_idx, role, text, tool, ts)``.

Layout:

- ``kernels/``   pure pandas/numpy kernels (no Spark imports) — the single
  implementation used both by the single-node golden runner (pytest) and by
  the Spark UDF wrappers (SURVEY.md §7.1 shared-kernel rule).
- ``pipeline.py`` the Spark extraction pipeline (classify → extract →
  hash repartition(conv_id) → window reassembly).
- ``lineage.py`` per-partition lineage + idempotent checkpoint resume.
- ``operators/`` DataFrame-level operators: NMS, dedup (exact/minhash/
  simhash/jaccard), similarity search, text analysis.
- ``datagen.py`` deterministic synthetic transcripts generator.
"""

__version__ = "0.1.0"

import hashlib as _hashlib
import os as _os
import tempfile as _tempfile
import zipfile as _zipfile

_SHIPPED_CONTEXTS: set[int] = set()


def _package_sources() -> list[tuple[str, str]]:
    """(archive name, file path) of every package source file, sorted."""
    pkg_dir = _os.path.dirname(_os.path.abspath(__file__))
    sources = []
    for root, _dirs, files in _os.walk(pkg_dir):
        if "__pycache__" in root:
            continue
        for fn in files:
            if not fn.endswith(".py"):
                continue
            full = _os.path.join(root, fn)
            rel = _os.path.join("pdf_parser_spark", _os.path.relpath(full, pkg_dir))
            sources.append((rel, full))
    sources.sort()
    return sources


def package_digest() -> str:
    """md5 hex over the names and bytes of the package sources: changes
    whenever any kernel, datagen or operator code does."""
    digest = _hashlib.md5()
    for rel, full in _package_sources():
        digest.update(rel.encode())
        with open(full, "rb") as f:
            digest.update(f.read())
    return digest.hexdigest()


def ship_package(spark) -> None:
    """Make ``pdf_parser_spark`` importable on executor Python workers.

    Workers unpickle UDFs by importing the package BY NAME; they do not
    inherit the driver script's ``sys.path`` edits, so any session whose
    driver cwd is not the repo root fails with ModuleNotFoundError inside
    mapInPandas. This zips the installed package and ``addPyFile``s it —
    the ``spark-submit --py-files engine.zip`` deployment story
    (SURVEY.md §3.4), self-applied. Idempotent per SparkContext; called
    automatically by every UDF-bearing operator.
    """
    sc = spark.sparkContext
    key = id(sc)
    if key in _SHIPPED_CONTEXTS:
        return
    # zip filename keyed by a content hash of the package sources (NOT pid:
    # a recycled pid on a long-lived host would re-ship a stale zip and
    # executors would silently import outdated kernel code)
    zip_dir = _os.path.join(_tempfile.gettempdir(), "pdf_parser_spark_cache")
    _os.makedirs(zip_dir, exist_ok=True)
    zip_path = _os.path.join(
        zip_dir, f"pdf_parser_spark_pkg_{package_digest()[:16]}.zip"
    )
    if not _os.path.exists(zip_path):
        tmp = zip_path + f".tmp.{_os.getpid()}"
        with _zipfile.ZipFile(tmp, "w", _zipfile.ZIP_DEFLATED) as zf:
            for rel, full in _package_sources():
                zf.write(full, rel)
        _os.replace(tmp, zip_path)
    sc.addPyFile(zip_path)
    _SHIPPED_CONTEXTS.add(key)
