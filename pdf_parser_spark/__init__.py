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
import sys as _sys
import tempfile as _tempfile
import zipfile as _zipfile
import zipimport as _zipimport

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


def drop_zip_finders() -> None:
    """Delete every ``zipimporter`` from this process's
    ``sys.path_importer_cache``.

    A reused Python worker starts each task with
    ``importlib.invalidate_caches()`` (pyspark's ``setup_spark_files``),
    and on Python 3.11 that makes every cached ``zipimporter`` re-read its
    archive's central directory: pyspark.zip once per cached subpackage
    path, spark-core's jar, py4j, the shipped package zip — 0.10-0.22 s per
    task on a 4-vCPU host. A dropped finder is rebuilt on its next use from
    ``zipimport._zip_directory_cache`` without touching the archive. That
    cache can go stale only if an archive on the path is rewritten in
    place, and none is: Spark never registers one file name twice, and the
    package zip's name is a hash of its contents (``ship_package``).
    """
    cache = _sys.path_importer_cache
    for path, finder in list(cache.items()):
        if isinstance(finder, _zipimport.zipimporter):
            cache.pop(path, None)


def map_in_pandas(df, kernel, schema):
    """``df.mapInPandas(kernel, schema)`` with the package shipped, and the
    worker's zip finders dropped (``drop_zip_finders``) once the kernel's
    batches end, however they end: every Python UDF task of the engine
    leaves nothing for the next task's ``invalidate_caches()`` to re-read."""
    ship_package(df.sparkSession)

    def run(batches):
        try:
            yield from kernel(batches)
        finally:
            drop_zip_finders()

    return df.mapInPandas(run, schema=schema)
