"""Per-document span pipeline — the unit of work per corpus row.

Input (BASELINE.json input_hint): an ordered list of spans
``(kind, text, media_ref, offset)`` with kind ∈ {html, pdf, media}.
Output: ordered spans with kind ∈ {text, media}; offset re-derived as
0..m-1 output ordinals. Per-row invariant vs the reference:
span-sequence equality on (kind, text, media_ref, order)
(BASELINE.json north_rule).

This is the only module that walks a document's spans
(tests/test_structure.py): every per-document stage reads them through
:func:`extract_doc`, :func:`project_doc` (extraction + markdown +
xhtml from one tokenize per html span) or :func:`html_events` (each
html span's repaired events). It is pure Python (stdlib only); the
Spark stages and the pytest goldens call the same functions, which is
what makes the Spark-vs-pure-Python equality test (SURVEY.md §5.2.3)
meaningful.
"""

from __future__ import annotations

from xkit.dom import repair, serialize
from xkit.encoding import decode_html_bytes
from xkit.extract import extract_html
from xkit.markdown import to_markdown
from xkit.options import DEFAULT_OPTIONS, ExtractOptions
from xkit.pdfmini import extract_pdf_text
from xkit.tokenizer import tokenize

__all__ = ["extract_doc", "html_events", "iter_spans", "project_doc"]


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


def html_events(kinds: list, texts: list, offsets: list, fragment: bool = False):
    """Yield each html span's ``repair(tokenize(text))`` event list in
    offset order; pdf, media, unknown-kind and NULL-text spans carry no
    markup and yield nothing. One span's events are alive at a time."""
    for _, kind, raw in iter_spans(kinds, texts, offsets):
        if kind == "html" and raw is not None:
            yield repair(tokenize(raw), fragment=fragment)


def _output_spans(kinds, texts, media_refs, offsets, options, on_tokens=None):
    """The output-span walk of :func:`extract_doc`; ``on_tokens``, when
    given, also receives each html span's token list (which the
    extractor then reuses instead of tokenizing again)."""
    ok: list = []
    ot: list = []
    om: list = []
    for i, kind, raw in iter_spans(kinds, texts, offsets):
        if kind == "html":
            if raw is None:
                continue
            toks = None if on_tokens is None else tokenize(raw)
            for k, t, m in extract_html(raw, options, toks):
                ok.append(k)
                ot.append(t)
                om.append(m)
            if toks is not None:
                on_tokens(toks)
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
    return _output_spans(kinds, texts, media_refs, offsets, options)


def project_doc(
    kinds: list,
    texts: list,
    media_refs: list,
    offsets: list,
    options: ExtractOptions = DEFAULT_OPTIONS,
    want_xhtml: bool = False,
) -> tuple:
    """One document → ``((kinds, texts, media_refs, offsets), markdown,
    xhtml)`` with a single tokenize per html span, each view equal to
    its single-stage twin (extract_doc, markdown_doc, normalize_doc).
    ``xhtml`` is None unless ``want_xhtml``; markdown/xhtml are None
    (not "") for docs with no html content."""
    md_parts: list = []
    xh_parts: list = []
    fragment = options.fragment

    def on_tokens(toks):
        events = repair(toks, fragment=fragment)
        md = to_markdown(events, base=options.base_url, fragment=fragment)
        if md:
            md_parts.append(md)
        if want_xhtml:
            xh_parts.append(serialize(events, xml_safe=True))

    spans = _output_spans(kinds, texts, media_refs, offsets, options, on_tokens)
    return (
        spans,
        "\n\n".join(md_parts) if md_parts else None,
        "".join(xh_parts) if xh_parts else None,
    )
