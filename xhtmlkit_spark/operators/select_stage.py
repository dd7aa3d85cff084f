"""Tree-selection operator: CSS-selector-lite over the repaired DOM,
as a mapInArrow stage (SURVEY.md A27 analogue).

The reference's query surface is XPath over the repaired tree ([P:
XHtmlKit README.md] SelectNodes); :mod:`xkit.selector` re-expresses
the high-frequency subset ("all ``<table>`` text",
"``meta[property=og:title]``") as a selector evaluated on the event
stream, and this module distributes it with the exact same Arrow
plumbing as extraction: flat child arrays in, list offsets out, no
per-row Python objects at the boundary.

Scale shape = extract_spans' shape: one column-pruned scan, the
optional doc_id hash exchange, one MapInArrow node. The selector string
is parsed ON THE DRIVER (a malformed selector fails the job before any
executor spins up), then shipped pre-parsed inside the closure.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from xhtmlkit_spark.operators.extract_stage import (
    SPANS_TYPE,
    make_doc_stage_fn,
    run_doc_stage,
)
from xkit.options import DEFAULT_OPTIONS, ExtractOptions
from xkit.selector import parse_selector, select_doc, select_doc_multi

__all__ = ["select_spans", "select_multi"]


def select_spans(
    df: DataFrame,
    selector: str | None = None,
    options: ExtractOptions = DEFAULT_OPTIONS,
    passthrough: tuple = ("part",),
    xpath: str | None = None,
    emit: str = "text",
) -> DataFrame:
    """Evaluate ``selector`` (or ``xpath``) over every document's html
    spans.

    Input/output shape is identical to
    :func:`~xhtmlkit_spark.operators.extract_stage.extract_spans`:
    ``doc_id, *passthrough, spans`` in, same layout out with one span
    per selector match (document order; see xkit.selector for the
    per-match span rule). ``xpath`` accepts the XPath-lite subset
    (xkit.xpath) — the reference's native query idiom — compiled on
    the driver to the same selector evaluation; pass exactly one of
    the two. ``emit="html"`` yields each match's serialized outer
    XHTML instead of its subtree text (the reference's
    ``SelectNodes(...).OuterXml`` idiom; see xkit.selector) — the
    output rows are corpus-shaped html spans, so a markup selection
    can feed straight back into extract_spans/select_spans as a
    subtree corpus (e.g. harvest every <table> as training markup).
    """
    # driver-side translation and validation (a malformed query fails
    # the job before any executor spins up)
    parsed, emit = _parse_query_spec(
        "select_spans", {"selector": selector, "xpath": xpath, "emit": emit}
    )

    def doc_fn(kinds, texts, refs, offsets):
        return select_doc(kinds, texts, refs, offsets, parsed, options, emit)

    return run_doc_stage(
        df, lambda n_pt: make_doc_stage_fn(doc_fn, n_pt), passthrough
    )


def _parse_query_spec(name: str, spec) -> tuple:
    """Driver-side parse of one query spec → (groups, emit): a
    select_multi query, or select_spans' own arguments.

    ``spec`` is a CSS selector string, or a dict with exactly one of
    ``selector``/``xpath`` plus optional ``emit``."""
    if isinstance(spec, str):
        return parse_selector(spec), "text"
    if isinstance(spec, dict):
        sel = spec.get("selector")
        xp = spec.get("xpath")
        if (sel is None) == (xp is None):
            raise ValueError(
                f"query {name!r}: pass exactly one of selector=/xpath="
            )
        if xp is not None:
            from xkit.xpath import xpath_to_selector

            sel = xpath_to_selector(xp)
        emit = spec.get("emit", "text")
        if emit not in ("text", "html", "inner_html"):
            raise ValueError(
                f"query {name!r}: emit must be 'text', 'html' or "
                f"'inner_html', got {emit!r}"
            )
        unknown = set(spec) - {"selector", "xpath", "emit"}
        if unknown:
            raise ValueError(f"query {name!r}: unknown keys {sorted(unknown)}")
        return parse_selector(sel), emit
    raise ValueError(f"query {name!r}: spec must be a string or dict")


def select_multi(
    df: DataFrame,
    queries: dict,
    options: ExtractOptions = DEFAULT_OPTIONS,
    passthrough: tuple = ("part",),
) -> DataFrame:
    """Run N selector/XPath queries over the corpus in ONE scan+parse.

    ``queries`` maps output column name → query spec (a CSS selector
    string, or ``{"selector"|"xpath": ..., "emit": ...}``). Output:
    ``doc_id, *passthrough`` plus one spans column PER QUERY. Each
    document is tokenized and repaired exactly once per batch row; all
    queries evaluate over the shared event list — at 100 TB this is
    the difference between one corpus read and len(queries) corpus
    reads, and the parse (the dominant per-doc cost) is paid once.

    All query strings parse on the driver: a malformed query fails the
    job before any executor spins up. Plan shape is select_spans'
    (pruned scan → optional hash exchange → ONE MapInArrow) with a
    wider output row.
    """
    if not queries:
        raise ValueError("select_multi needs at least one query")
    pt = [c for c in passthrough if c in df.columns]
    reserved = {"doc_id", "spans", *pt}
    bad = [n for n in queries if n in reserved or not n.isidentifier()]
    if bad:
        raise ValueError(
            f"query names must be identifiers not in {sorted(reserved)}: {bad}"
        )
    parsed = [_parse_query_spec(n, spec) for n, spec in queries.items()]
    out = tuple((n, SPANS_TYPE) for n in queries)

    def doc_fn(kinds, texts, refs, offsets):
        per_q = select_doc_multi(kinds, texts, refs, offsets, parsed, options)
        return per_q if len(per_q) > 1 else per_q[0]

    return run_doc_stage(
        df, lambda n_pt: make_doc_stage_fn(doc_fn, n_pt, out), passthrough, out
    )
