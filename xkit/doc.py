"""Per-document span pipeline — the unit of work per corpus row.

Input (BASELINE.json input_hint): an ordered list of spans
``(kind, text, media_ref, offset)`` with kind ∈ {html, pdf, media}.
Output: ordered spans with kind ∈ {text, media}; offset re-derived as
0..m-1 output ordinals. Per-row invariant vs the reference:
span-sequence equality on (kind, text, media_ref, order)
(BASELINE.json north_rule).

This module is pure Python (stdlib only); xkit.spark's mapInArrow
stage calls :func:`extract_doc` per document inside an Arrow batch,
and the pytest goldens call it directly — the two paths share one
implementation, which is what makes the Spark-vs-pure-Python equality
test (SURVEY.md §5.2.3) meaningful.
"""

from __future__ import annotations

from xkit.encoding import decode_html_bytes
from xkit.extract import extract_html
from xkit.options import DEFAULT_OPTIONS, ExtractOptions
from xkit.pdfmini import extract_pdf_text

__all__ = ["extract_doc", "iter_spans"]


def iter_spans(kinds: list, texts: list, offsets: list):
    """Yield ``(i, kind, text)`` for every input span in offset order —
    NULL offsets after the real ones, stable by input position (the
    schema allows them, and a None<int comparison would kill the whole
    Arrow batch: A17 never-fail) — with html ``bytes`` decoded (the
    encoding fixtures, A3–A4). ``i`` indexes the input lists."""
    order = sorted(
        range(len(kinds)),
        key=lambda i: (offsets[i] is None, offsets[i] if offsets[i] is not None else 0, i),
    )
    for i in order:
        kind = kinds[i]
        text = texts[i]
        if kind == "html" and isinstance(text, (bytes, bytearray)):
            text = decode_html_bytes(bytes(text))
        yield i, kind, text


def extract_doc(
    kinds: list,
    texts: list,
    media_refs: list,
    offsets: list,
    options: ExtractOptions = DEFAULT_OPTIONS,
) -> tuple[list, list, list, list]:
    """Extract one document given its input spans as parallel lists.

    Parallel-list in/out (not objects): the Arrow stage slices flat
    column buffers per document and passes them straight in, so no
    per-row Python object crossing happens at the Spark boundary
    (BASELINE.json "no per-row Python" — SURVEY.md §4.3).

    Returns ``(kinds, texts, media_refs, offsets)`` of the output
    spans, offsets = 0..m-1.
    """
    ok: list = []
    ot: list = []
    om: list = []
    for i, kind, raw in iter_spans(kinds, texts, offsets):
        if kind == "html":
            if raw is None:
                continue
            for k, t, m in extract_html(raw, options):
                ok.append(k)
                ot.append(t)
                om.append(m)
        elif kind == "pdf":
            if raw is None:
                continue
            for block in extract_pdf_text(raw, options.pdf_password):
                ok.append("text")
                ot.append(block)
                om.append(None)
        elif kind == "media":
            ok.append("media")
            ot.append(None)
            om.append(media_refs[i])
        # unknown kinds contribute nothing (never-fail discipline, A17)
    return ok, ot, om, list(range(len(ok)))
