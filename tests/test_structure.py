"""Structural guards over the shipped source (AST only, no Spark).

* Every per-document stage runs through the one Arrow batch kernel,
  ``make_doc_stage_fn``: ``unpack_spans`` is called only inside
  ``operators/extract_stage.py``, so a stage cannot grow its own
  unpack / NULL-row / output-assembly loop again.
* A document's spans are walked only in ``xkit/doc.py``: ``iter_spans``
  is called nowhere else, and ``tokenize`` only there and in the three
  single-html entry points (``extract_html``, ``select_html``,
  ``html_to_markdown``). A stage reads html through
  ``xkit.doc.html_events`` instead of repeating the walk.
* Session SQL settings live in one place: no ``"spark.sql.*"`` conf
  literal in ``scripts/`` or ``xhtmlkit_spark/`` outside ``session.py``
  (``streaming/jobs.py``'s ``_drain_conf`` pins shuffle partitions
  around a drain and is the one exception).
* No row-wise Python UDF anywhere in ``xhtmlkit_spark/``, and every
  Python stage runs on one of two Arrow kernels: a ``doc_fn`` on
  ``make_doc_stage_fn`` or a ``row_fn`` on ``run_row_stage``. No
  ``mapInPandas`` call is left in the package, and ``mapInArrow`` is
  called only in ``operators/extract_stage.py`` and the ``write_wet``
  sink (``applyInPandasWithState`` is a separate API, not covered).
* ``tests/goldens.py`` is the only module under ``tests/`` or
  ``scripts/`` that builds a path into ``tests/golden/``, so the golden
  tests and ``scripts/gen_goldens.py`` share one case-to-output rule.
* ``xkit/pdfmini.py`` reads each PDF primitive one way: ``bytes.fromhex``
  is called only in the hex reader ``_hex_bytes``, and no module-level
  regex spells one ``/Key`` followed by an integer or an ``N G R``
  reference — dict entries go through ``_int_entry`` / ``_ref_entry``.
"""

from __future__ import annotations

import ast
import re
from pathlib import Path

_ROOT = Path(__file__).resolve().parent.parent
_PKG = _ROOT / "xhtmlkit_spark"
_KERNEL = _PKG / "operators" / "extract_stage.py"
_SOURCES = sorted(_PKG.rglob("*.py"))
_SHIPPED = sorted((_ROOT / "xkit").rglob("*.py")) + _SOURCES
_DOC = _ROOT / "xkit" / "doc.py"


def _parse(path: Path) -> ast.AST:
    return ast.parse(path.read_text(), str(path))


def _rel(path: Path) -> str:
    return str(path.relative_to(_ROOT))


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


def _top_level_owner(tree: ast.Module, lineno: int) -> str | None:
    """Name of the module-level def/class whose body holds ``lineno``."""
    for node in tree.body:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            if node.lineno <= lineno <= node.end_lineno:
                return node.name
    return None


def test_unpack_spans_called_only_by_the_kernel():
    assert _KERNEL in _SOURCES
    offenders = {}
    for path in _SOURCES:
        tree = _parse(path)
        if path == _KERNEL:
            assert len(list(_calls(tree, "unpack_spans"))) == 1
            continue
        lines = [n for name, n in _names(tree) if name == "unpack_spans"]
        if lines:
            offenders[str(path.relative_to(_PKG))] = sorted(set(lines))
    assert not offenders, f"unpack_spans outside the kernel: {offenders}"


def test_iter_spans_called_only_in_xkit_doc():
    assert _DOC in _SHIPPED
    offenders = {}
    for path in _SHIPPED:
        lines = sorted(_calls(_parse(path), "iter_spans"))
        if path == _DOC:
            assert lines
        elif lines:
            offenders[_rel(path)] = lines
    assert not offenders, f"span walks outside xkit/doc.py: {offenders}"


# file → the module-level functions allowed to call tokenize (None: any)
_TOKENIZE_CALLERS = {
    "xkit/doc.py": None,
    "xkit/extract.py": {"extract_html"},
    "xkit/selector.py": {"select_html"},
    "xkit/markdown.py": {"html_to_markdown"},
}


def test_tokenize_called_only_at_the_parse_entry_points():
    offenders = {}
    for path in _SHIPPED:
        tree = _parse(path)
        allowed = _TOKENIZE_CALLERS.get(_rel(path), set())
        for line in _calls(tree, "tokenize"):
            owner = _top_level_owner(tree, line)
            if allowed is not None and owner not in allowed:
                offenders.setdefault(_rel(path), []).append((owner, line))
    assert not offenders, f"tokenize outside the parse entry points: {offenders}"


_SQL_CONF_KEY = re.compile(r"spark\.sql\.[A-Za-z0-9_.]+")


def test_sql_conf_literals_only_in_session():
    sources = _SOURCES + sorted((_ROOT / "scripts").glob("*.py"))
    offenders = {}
    for path in sources:
        rel = _rel(path)
        if rel == "xhtmlkit_spark/session.py":
            continue
        tree = _parse(path)
        for node in ast.walk(tree):
            if not (
                isinstance(node, ast.Constant)
                and isinstance(node.value, str)
                and _SQL_CONF_KEY.fullmatch(node.value)
            ):
                continue
            owner = _top_level_owner(tree, node.lineno)
            if (rel, owner) != ("xhtmlkit_spark/streaming/jobs.py", "_drain_conf"):
                offenders.setdefault(rel, []).append((node.value, node.lineno))
    assert not offenders, f"spark.sql conf literals outside session.py: {offenders}"


def test_no_row_wise_udf():
    offenders = {}
    for path in _SOURCES:
        tree = _parse(path)
        lines = [n for name, n in _names(tree) if name in ("udf", "pandas_udf")]
        if lines:
            offenders[str(path.relative_to(_PKG))] = sorted(set(lines))
    assert not offenders, f"udf/pandas_udf used in: {offenders}"


# (file, module-level function) → may call mapInArrow outside the kernel
_MAP_IN_ARROW_SINKS = {("xhtmlkit_spark/sources/io.py", "write_wet")}


def test_python_stages_run_on_the_two_kernels():
    """Every Python stage is a ``doc_fn`` on ``make_doc_stage_fn`` or a
    ``row_fn`` on ``run_row_stage``: no ``mapInPandas`` anywhere in the
    package, and ``mapInArrow`` only in the kernel module and the
    per-partition ``write_wet`` sink."""
    offenders = {}
    for path in _SOURCES:
        tree = _parse(path)
        rel = _rel(path)
        for line in _calls(tree, "mapInPandas"):
            offenders.setdefault(rel, []).append(("mapInPandas", line))
        if path == _KERNEL:
            continue
        for line in _calls(tree, "mapInArrow"):
            if (rel, _top_level_owner(tree, line)) not in _MAP_IN_ARROW_SINKS:
                offenders.setdefault(rel, []).append(("mapInArrow", line))
    assert not offenders, f"Python stages outside the two kernels: {offenders}"


_GOLDEN_PATH = re.compile(r"(^|[/\\])golden([/\\]|$)")


def test_golden_dir_read_only_by_goldens_module():
    owner = _ROOT / "tests" / "goldens.py"
    sources = sorted((_ROOT / "tests").rglob("*.py"))
    sources += sorted((_ROOT / "scripts").glob("*.py"))
    assert owner in sources
    offenders = {}
    for path in sources:
        tree = _parse(path)
        # docstrings and other bare string statements only describe
        prose = {id(n.value) for n in ast.walk(tree) if isinstance(n, ast.Expr)}
        lines = [
            n.lineno
            for n in ast.walk(tree)
            if isinstance(n, ast.Constant)
            and isinstance(n.value, str)
            and id(n) not in prose
            and _GOLDEN_PATH.search(n.value)
        ]
        if path == owner:
            assert lines
        elif lines:
            offenders[_rel(path)] = lines
    assert not offenders, f"paths into tests/golden outside tests/goldens.py: {offenders}"


_PDFMINI = _ROOT / "xkit" / "pdfmini.py"
# one literal /Key (or the %s per-key template), then an integer capture:
# rb"/Root\s+(\d+)\s+\d+\s+R", rb"/%s\s+(-?\d+)"
_KEY_INT_PATTERN = re.compile(rb"^/(?:\w+|%s)\\s[*+]\(?(?:-\?)?\\d\+")


def test_pdfmini_reads_hex_and_entries_through_shared_readers():
    tree = _parse(_PDFMINI)
    owners = [_top_level_owner(tree, n) for n in _calls(tree, "fromhex")]
    assert owners == ["_hex_bytes"], f"bytes.fromhex outside the hex reader: {owners}"
    offenders = [
        (node.lineno, sub.value)
        for node in tree.body
        if not isinstance(node, (ast.FunctionDef, ast.ClassDef))
        for sub in ast.walk(node)
        if isinstance(sub, ast.Constant)
        and isinstance(sub.value, bytes)
        and _KEY_INT_PATTERN.match(sub.value)
    ]
    assert not offenders, f"per-key integer/reference regexes: {offenders}"
