"""Output check behind ``doc_fail_frac``.

Every document's Spark output is compared with the pure-Python twin of
the same stage on the same document: ``xkit.doc.extract_doc`` for the
extract workloads, and the select, markdown and
harvest doc functions for ``doc_stages``. The check runs outside the
timed region. A document fails when its output differs from the twin's,
is missing or appears twice; a document Spark returns that is not in
the corpus fails too.
"""

from __future__ import annotations

from xhtmlkit_spark.operators.markdown_stage import markdown_doc
from xkit.doc import extract_doc
from xkit.dom import repair
from xkit.harvest import harvest_links, harvest_meta, harvest_tables
from xkit.options import DEFAULT_OPTIONS
from xkit.selector import parse_selector, select_doc
from xkit.tokenizer import tokenize

__all__ = [
    "SELECTOR",
    "actual_doc_stages",
    "actual_spans",
    "count_failed",
    "expected",
    "expected_chunk",
]

SELECTOR = "table"  # doc_stages' select_spans query, emitted as html

_PARSED = parse_selector(SELECTOR)
_MISSING = object()
_DUPLICATE = object()


def _html_events(kinds, texts, offsets):
    order = sorted(
        range(len(kinds)),
        key=lambda i: (offsets[i] is None, offsets[i] if offsets[i] is not None else 0, i),
    )
    for i in order:
        if kinds[i] == "html" and texts[i] is not None:
            yield repair(tokenize(texts[i]))


def _harvest(kinds, texts, offsets) -> tuple:
    """Pure-Python twin of one ``harvest_all`` row."""
    tables: list = []
    links: list = []
    title = lang = canonical = None
    meta: dict = {}
    t_base = 0
    for events in _html_events(kinds, texts, offsets):
        rows = harvest_tables(events)
        tables += [(t_base + t, r, h, tuple(c)) for t, r, h, c in rows]
        if rows:
            t_base += rows[-1][0] + 1
        links += [(len(links) + i, u, a) for i, (u, a) in enumerate(harvest_links(events))]
        t, lg, cn, m = harvest_meta(events)
        title = t if title is None else title
        lang = lg if lang is None else lang
        canonical = cn if canonical is None else canonical
        for k, v in m.items():
            meta.setdefault(k, v)
    return tuple(tables), tuple(links), title, lang, canonical, meta


def expected(workload: str, doc: tuple):
    """The pure-Python output of ``workload``'s stage(s) for one
    ``(doc_id, kinds, texts, refs, offsets)`` document."""
    _, kinds, texts, refs, offsets = doc
    if workload == "doc_stages":
        selected = select_doc(kinds, texts, refs, offsets, _PARSED, DEFAULT_OPTIONS, "html")
        return (
            tuple(zip(*selected)),
            markdown_doc(kinds, texts, offsets),
            _harvest(kinds, texts, offsets),
        )
    return tuple(zip(*extract_doc(kinds, texts, refs, offsets)))


def expected_chunk(args: tuple) -> list:
    """``expected`` over a list of documents (a process-pool task)."""
    workload, docs = args
    return [(d[0], expected(workload, d)) for d in docs]


def _index(doc_ids, values) -> dict:
    out: dict = {}
    for doc_id, v in zip(doc_ids, values):
        out[doc_id] = _DUPLICATE if doc_id in out else v
    return out


def _spans(rows):
    if rows is None:
        return None
    return tuple((s["kind"], s["text"], s["media_ref"], s["offset"]) for s in rows)


def actual_spans(table) -> dict:
    """doc_id -> output spans, from a ``(doc_id, spans)`` Arrow table."""
    return _index(
        table.column("doc_id").to_pylist(),
        [_spans(s) for s in table.column("spans").to_pylist()],
    )


def _harvest_row(r: dict) -> tuple:
    tables = r["tables"]
    links = r["links"]
    return (
        None
        if tables is None
        else tuple(
            (t["table_idx"], t["row_idx"], t["is_header"], tuple(t["cells"]))
            for t in tables
        ),
        None
        if links is None
        else tuple((k["link_idx"], k["url"], k["anchor_text"]) for k in links),
        r["title"],
        r["lang"],
        r["canonical"],
        None if r["meta"] is None else dict(r["meta"]),
    )


def actual_doc_stages(selected, markdown, harvest) -> dict:
    """doc_id -> (select spans, markdown, harvest row), from the three
    stages' Arrow tables."""
    sel = actual_spans(selected)
    md = _index(markdown.column("doc_id").to_pylist(), markdown.column("markdown").to_pylist())
    hv = _index(
        harvest.column("doc_id").to_pylist(),
        [_harvest_row(r) for r in harvest.drop_columns(["doc_id"]).to_pylist()],
    )
    return {
        d: (sel.get(d, _MISSING), md.get(d, _MISSING), hv.get(d, _MISSING))
        for d in sel.keys() | md.keys() | hv.keys()
    }


def count_failed(actual: dict, want: dict) -> int:
    """Documents whose actual output differs from ``want``, is missing
    or duplicated, plus documents that should not be there at all."""
    failed = sum(1 for d, exp in want.items() if actual.get(d, _MISSING) != exp)
    return failed + sum(1 for d in actual if d not in want)
