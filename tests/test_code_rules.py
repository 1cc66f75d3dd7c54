"""Two working rules of the package, checked on its source.

- Every Python UDF goes through ``map_in_pandas``: nothing else calls
  ``mapInPandas``, and every function handed to ``applyInPandas`` or
  ``applyInPandasWithState`` calls ``drop_zip_finders()`` (see
  tests/test_zip_finders.py for why).
- Kernels are pure pandas/numpy: every module under ``kernels/`` imports
  with pyspark unimportable.
"""
from __future__ import annotations

import ast
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = os.path.join(ROOT, "pdf_parser_spark")


def _modules():
    for root, _dirs, files in os.walk(PKG):
        for f in sorted(files):
            if f.endswith(".py"):
                path = os.path.join(root, f)
                with open(path) as fh:
                    yield os.path.relpath(path, ROOT), ast.parse(fh.read())


def _calls(node, attr):
    return [n for n in ast.walk(node) if isinstance(n, ast.Call)
            and isinstance(n.func, ast.Attribute) and n.func.attr == attr]


def test_python_udfs_go_through_map_in_pandas():
    grouped = 0
    for path, tree in _modules():
        defs = {n.name: n for n in ast.walk(tree)
                if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef))}
        allowed = set()
        if "map_in_pandas" in defs:
            allowed = {id(c) for c in _calls(defs["map_in_pandas"], "mapInPandas")}
        for c in _calls(tree, "mapInPandas"):
            assert id(c) in allowed, f"{path}:{c.lineno} calls mapInPandas directly"
        for attr in ("applyInPandas", "applyInPandasWithState"):
            for c in _calls(tree, attr):
                fn = c.args[0] if c.args else None
                assert isinstance(fn, ast.Name) and fn.id in defs, (
                    f"{path}:{c.lineno}: {attr} needs a function defined in its module")
                body = defs[fn.id]
                assert any(isinstance(n.func, ast.Name) and n.func.id == "drop_zip_finders"
                           for n in ast.walk(body) if isinstance(n, ast.Call)), (
                    f"{path}:{body.lineno}: {fn.id} never calls drop_zip_finders()")
                grouped += 1
    assert grouped >= 4  # nms, perceptual dedup, two streaming operators


_IMPORT_KERNELS = """
import importlib, pkgutil, sys
sys.modules["pyspark"] = None  # any pyspark import now raises ImportError
import pdf_parser_spark.kernels as k
names = [m.name for m in pkgutil.iter_modules(k.__path__)]
for name in names:
    importlib.import_module("pdf_parser_spark.kernels." + name)
print(len(names))
"""


def test_kernels_import_without_pyspark():
    out = subprocess.run(
        [sys.executable, "-c", _IMPORT_KERNELS], cwd=ROOT, capture_output=True,
        text=True, timeout=120,
    )
    assert out.returncode == 0, out.stderr
    assert int(out.stdout) >= 10
