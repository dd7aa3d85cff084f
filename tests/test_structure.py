"""Structural guards over the Spark layer's source (AST only, no Spark).

* Every per-document stage runs through the one Arrow batch kernel,
  ``make_doc_stage_fn``: ``unpack_spans`` is called only inside
  ``operators/extract_stage.py``, so a stage cannot grow its own
  unpack / NULL-row / output-assembly loop again.
* No row-wise Python UDF anywhere in ``xhtmlkit_spark/``: Python runs
  only inside mapInArrow/mapInPandas (the CLAUDE.md invariant).
"""

from __future__ import annotations

import ast
from pathlib import Path

_PKG = Path(__file__).resolve().parent.parent / "xhtmlkit_spark"
_KERNEL = _PKG / "operators" / "extract_stage.py"
_SOURCES = sorted(_PKG.rglob("*.py"))


def _names(tree: ast.AST):
    """Every identifier the code uses: names, attribute names, and
    names imported (or aliased) by ``import`` statements."""
    for node in ast.walk(tree):
        if isinstance(node, ast.Name):
            yield node.id, node.lineno
        elif isinstance(node, ast.Attribute):
            yield node.attr, node.lineno
        elif isinstance(node, (ast.Import, ast.ImportFrom)):
            for a in node.names:
                yield a.name.rsplit(".", 1)[-1], node.lineno
                if a.asname:
                    yield a.asname, node.lineno


def _calls(tree: ast.AST, name: str):
    """Line numbers of calls to ``name`` (bare or as an attribute)."""
    for node in ast.walk(tree):
        if isinstance(node, ast.Call):
            f = node.func
            called = f.id if isinstance(f, ast.Name) else getattr(f, "attr", None)
            if called == name:
                yield node.lineno


def test_unpack_spans_called_only_by_the_kernel():
    assert _KERNEL in _SOURCES
    offenders = {}
    for path in _SOURCES:
        tree = ast.parse(path.read_text(), str(path))
        if path == _KERNEL:
            assert len(list(_calls(tree, "unpack_spans"))) == 1
            continue
        lines = [n for name, n in _names(tree) if name == "unpack_spans"]
        if lines:
            offenders[str(path.relative_to(_PKG))] = sorted(set(lines))
    assert not offenders, f"unpack_spans outside the kernel: {offenders}"


def test_no_row_wise_udf():
    offenders = {}
    for path in _SOURCES:
        tree = ast.parse(path.read_text(), str(path))
        lines = [n for name, n in _names(tree) if name in ("udf", "pandas_udf")]
        if lines:
            offenders[str(path.relative_to(_PKG))] = sorted(set(lines))
    assert not offenders, f"udf/pandas_udf used in: {offenders}"
