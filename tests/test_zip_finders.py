"""Python-UDF tasks leave no zip finders behind (``map_in_pandas``).

A reused Python worker starts each task with ``importlib.invalidate_caches()``,
which makes every cached ``zipimporter`` re-read its archive. The engine's
kernels drop those finders when their batches end, so the next task in the
same worker has nothing to re-read.
"""
from __future__ import annotations

import json
import os
import subprocess
import sys
import zipfile
import zipimport

import pandas as pd
import pytest

from pdf_parser_spark import map_in_pandas

_NEXT_TASK_RUN = """
import json, sys
import pandas as pd
from pyspark.sql import SparkSession
from pdf_parser_spark.pipeline import extract_turns, session_defaults

spark = (session_defaults(SparkSession.builder.master("local[1]"), cpus=1)
         .config("spark.ui.enabled", "false").getOrCreate())
extract_turns(spark.read.parquet(sys.argv[1])).write.format("noop").mode("overwrite").save()

def probe(batches):
    # the next task in the worker that ran the kernel: what is left to re-read?
    import importlib, sys, zipimport
    finders = [p for p, f in sys.path_importer_cache.items()
               if isinstance(f, zipimport.zipimporter)]
    reads = []
    real = zipimport._read_directory
    zipimport._read_directory = lambda path: reads.append(path) or real(path)
    try:
        importlib.invalidate_caches()
    finally:
        zipimport._read_directory = real
    for _ in batches:
        pass
    yield pd.DataFrame({"out": [json.dumps({
        "kernel_loaded": "pdf_parser_spark.kernels.extract" in sys.modules,
        "finders": finders, "reads": reads})]})

print(spark.range(1).mapInPandas(probe, "out string").first().out)
spark.stop()
"""


def test_kernel_task_leaves_no_zip_finders_for_the_next_task(transcripts_parquet):
    """``local[1]``: one reused worker runs ``extract_turns`` over sf0.001 and
    then a probe task, whose ``invalidate_caches()`` must read no archive."""
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    proc = subprocess.run(
        [sys.executable, "-c", _NEXT_TASK_RUN, transcripts_parquet],
        cwd=repo, env={**os.environ, "PYTHONPATH": repo},
        capture_output=True, text=True, check=True, timeout=600,
    )
    seen = json.loads(proc.stdout.strip().splitlines()[-1])
    assert seen["kernel_loaded"]  # the probe ran in the kernel's worker
    assert seen["finders"] == []
    assert seen["reads"] == []


@pytest.fixture()
def planted_zip(tmp_path):
    """A zip on ``sys.path`` holding one module, with its finder cached."""
    path = str(tmp_path / "planted.zip")
    with zipfile.ZipFile(path, "w") as zf:
        zf.writestr("planted_zip_mod.py", "VALUE = 7\n")
    sys.path.insert(0, path)

    def plant():
        sys.path_importer_cache[path] = zipimport.zipimporter(path)

    yield path, plant
    sys.path.remove(path)
    sys.path_importer_cache.pop(path, None)
    sys.modules.pop("planted_zip_mod", None)
    zipimport._zip_directory_cache.pop(path, None)


class _Captured:
    """Stands in for a DataFrame: keeps the function ``map_in_pandas`` hands
    to ``mapInPandas`` so it can run in this process."""

    def __init__(self, spark):
        self.sparkSession = spark

    def mapInPandas(self, fn, schema):
        self.fn = fn
        return self


def _identity(batches):
    yield from batches


def _fails_after_one(batches):
    yield next(batches)
    raise ValueError("kernel failed")


def _zip_finders():
    return [p for p, f in sys.path_importer_cache.items()
            if isinstance(f, zipimport.zipimporter)]


def test_map_in_pandas_drops_zip_finders(spark, planted_zip, monkeypatch):
    path, plant = planted_zip
    batches = [pd.DataFrame({"x": [1, 2]}), pd.DataFrame({"x": [3]})]

    def wrapped(kernel):
        return map_in_pandas(_Captured(spark), kernel, "x long").fn

    plant()  # the kernel's batches are exhausted
    out = list(wrapped(_identity)(iter(batches)))
    assert [len(b) for b in out] == [2, 1]
    assert _zip_finders() == []

    plant()  # the kernel raises
    with pytest.raises(ValueError, match="kernel failed"):
        list(wrapped(_fails_after_one)(iter(batches)))
    assert _zip_finders() == []

    plant()  # the consumer closes the generator early
    gen = wrapped(_identity)(iter(batches))
    next(gen)
    assert path in _zip_finders()
    gen.close()
    assert _zip_finders() == []

    # the finder is rebuilt from the cached directory, not from the archive
    reads = []
    real = zipimport._read_directory
    monkeypatch.setattr(zipimport, "_read_directory",
                        lambda p: reads.append(p) or real(p))
    import planted_zip_mod

    assert planted_zip_mod.VALUE == 7
    assert reads == []
