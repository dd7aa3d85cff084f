"""Fused multi-projection: one tokenize per document, N outputs.

A training pipeline usually wants SEVERAL views of each page —
extracted content spans for dedup/stats, markdown for the model, the
normalized XHTML for archival or selector re-query. Running the
single-projection stages back to back tokenizes every document once
per view; tokenization dominates per-doc cost, so the pipeline pays
~N× the parse price for one page.

:func:`project_doc` shares one ``tokenize()`` per html span across
all requested projections:

* extraction spans — :func:`xkit.extract.extract_html` fed the shared
  token list; output is IDENTICAL to :func:`xkit.doc.extract_doc`
  (the same extractor, asserted again by the project tests)
* markdown — ``repair()`` folds the same tokens into the event
  stream once, rendered by :func:`xkit.markdown.to_markdown`;
  identical to ``markdown_stage.markdown_doc``
* xhtml (opt-in) — the same repaired events serialized xml-safe;
  identical to ``normalize_stage.normalize_doc``

PDF and media spans behave exactly as in ``extract_doc`` (pdf text
blocks land as text spans; they carry no markup, so they contribute
to neither markdown nor xhtml — same rule as the single stages).

Pure Python, stdlib only; the Spark stage lives in
xhtmlkit_spark/operators/project_stage.py.
"""

from __future__ import annotations

from xkit.doc import iter_spans
from xkit.dom import repair, serialize
from xkit.extract import extract_html
from xkit.markdown import to_markdown
from xkit.options import DEFAULT_OPTIONS, ExtractOptions
from xkit.pdfmini import extract_pdf_text
from xkit.tokenizer import tokenize

__all__ = ["project_doc"]


def project_doc(
    kinds: list,
    texts: list,
    media_refs: list,
    offsets: list,
    options: ExtractOptions = DEFAULT_OPTIONS,
    want_xhtml: bool = False,
) -> tuple:
    """One document → ``((kinds, texts, media_refs, offsets), markdown,
    xhtml)`` with a single tokenize per html span. ``xhtml`` is None
    unless ``want_xhtml``; markdown/xhtml are None (not "") for docs
    with no html content, matching the single-projection stages."""
    ok: list = []
    ot: list = []
    om: list = []
    md_parts: list = []
    xh_parts: list = []
    fragment = options.fragment
    base = options.base_url
    for i, kind, raw in iter_spans(kinds, texts, offsets):
        if kind == "html":
            if raw is None:
                continue
            toks = tokenize(raw)  # the ONE parse all projections share
            for k, t, m in extract_html(raw, options, toks):
                ok.append(k)
                ot.append(t)
                om.append(m)
            events = repair(toks, fragment=fragment)
            md = to_markdown(events, base=base, fragment=fragment)
            if md:
                md_parts.append(md)
            if want_xhtml:
                xh_parts.append(serialize(events, xml_safe=True))
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
    return (
        (ok, ot, om, list(range(len(ok)))),
        "\n\n".join(md_parts) if md_parts else None,
        ("".join(xh_parts) if xh_parts else None) if want_xhtml else None,
    )
