"""The rule for spreading a scan across cores lives in one place
(``sources/tables.spread_scan``): every caller that widens goes through
it, so every caller gets its validation.
"""
from __future__ import annotations

import ast
import pathlib

import pytest

import __spark_entry__ as E

REPO = pathlib.Path(__file__).resolve().parent.parent
PKG = REPO / "tei_chunker_spark"
TABLES = PKG / "sources" / "tables.py"

# name -> (file, function) pairs allowed to use it outside tables.py:
# the synthetic corpus spreads its generation; the doc_id spread
# (``extract.spread``) is a hash repartition, not a scan spread, that
# ``_salted`` adds only where the input does not already fill the cores
# and the resumable runner adds to each wave, so a bucket is its hash.
_ALLOWED = {
    ("__spark_entry__.py", "_interleaved_corpus", "repartition"),
    ("__spark_entry__.py", "_interleaved_corpus", "defaultParallelism"),
    ("tei_chunker_spark/operators/extract.py", "spread", "repartition"),
    ("tei_chunker_spark/operators/extract.py", "_salted", "defaultParallelism"),
}
_SPREAD_NAMES = {"repartition", "defaultParallelism", "getsize", "ParquetFile",
                 "read_metadata"}
_TABLES_API = {"TABLES", "load", "spread_scan"}


def _uses(path: pathlib.Path):
    """(function, name) for every spread-related name in ``path``, and
    every name imported from ``sources.tables``."""
    tree = ast.parse(path.read_text(encoding="utf-8"))
    found = []

    def visit(node, func):
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            func = node.name
        if isinstance(node, ast.Attribute) and node.attr in _SPREAD_NAMES:
            found.append((func, node.attr))
        if isinstance(node, ast.Name) and node.id in _SPREAD_NAMES:
            found.append((func, node.id))
        if isinstance(node, ast.ImportFrom):
            module = node.module or ""
            for alias in node.names:
                if module == "pyarrow.parquet" or (
                    module.rsplit(".", 1)[-1] == "tables"
                    and alias.name not in _TABLES_API
                ):
                    found.append((func, f"import {alias.name}"))
        if isinstance(node, ast.Import):
            found.extend((func, "import pyarrow.parquet") for a in node.names
                         if a.name == "pyarrow.parquet")
        for child in ast.iter_child_nodes(node):
            visit(child, func)

    visit(tree, None)
    return found


def test_scan_spread_only_in_tables_module():
    """Outside sources/tables.py no code repartitions a loaded table to
    defaultParallelism, reads a parquet footer, takes a file size or
    imports a fan-out helper from tables."""
    files = [p for p in sorted(PKG.rglob("*.py")) if p != TABLES]
    files.append(REPO / "__spark_entry__.py")
    found = {
        (p.relative_to(REPO).as_posix(), func, name)
        for p in files
        for func, name in _uses(p)
    }
    assert found == _ALLOWED
    src = TABLES.read_text(encoding="utf-8")
    for call in (".repartition(", "getsize(", "ParquetFile("):
        assert src.count(call) == 1, call
    extract = (PKG / "operators" / "extract.py").read_text(encoding="utf-8")
    assert extract.count(".repartition(") == 1
    on_doc_id = [
        line for p in sorted(PKG.rglob("*.py"))
        for line in p.read_text(encoding="utf-8").splitlines()
        if "repartition(" in line and "doc_id" in line
    ]
    assert len(on_doc_id) == 1, on_doc_id


@pytest.mark.parametrize("helper", [E._docs_with_exact_dups, E._docs_with_near_dups])
def test_union_helpers_reject_unknown_widen(spark, helper):
    """The union helpers widen through the same device as load(), so a
    typo in their widen flag fails loudly instead of widening."""
    for bad in ("Auto", "true", 1):
        with pytest.raises(ValueError, match="widen"):
            helper(spark, "/root/testdata/sf0.01", widen=bad)
    narrow = helper(spark, "/root/testdata/sf0.01", widen="auto")
    plain = helper(spark, "/root/testdata/sf0.01")
    assert narrow.rdd.getNumPartitions() == plain.rdd.getNumPartitions()
