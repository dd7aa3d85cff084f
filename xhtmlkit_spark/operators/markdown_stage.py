"""Tag-soup → Markdown, distributed (the LLM-training projection).

The column most large-scale text pipelines materialize from crawled
HTML is markdown: structure (headings/lists/tables/links) survives in
a form both humans and tokenizers handle, while markup noise drops.
This stage is the markdown twin of normalize_stage — same Arrow
kernel (``make_doc_stage_fn``: flat child arrays in, one string column
out, zero per-row Python objects at the Spark boundary), same
per-document span assembly, but rendering via
:func:`xkit.markdown.to_markdown` over the repaired event stream
(every tag-soup recovery rule A14–A17 applies before rendering).

100 TB shape: identical to extract_spans — a 3-column pruned scan
feeding one mapInArrow stage; no shuffle, no driver round-trip. Pair
with plans/pipeline.py's doc_id hash repartition for skewed doc sizes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import types as T

from xhtmlkit_spark.operators.extract_stage import make_doc_stage_fn, run_doc_stage
from xkit.doc import html_events
from xkit.markdown import to_markdown

__all__ = ["markdown_doc", "markdown_docs"]

_OUT = (("markdown", T.StringType()),)


def markdown_doc(
    kinds: list,
    texts: list,
    offsets: list,
    fragment: bool = False,
    base: str | None = None,
) -> str | None:
    """One document's html spans → one markdown string (span order =
    offset order; pdf/media spans contribute nothing — they carry no
    markup). All-non-html (or empty) docs → None, preserving the
    "had no HTML" signal in the column. Spans render independently and
    join with a blank line (block separation), mirroring
    normalize_doc's per-span concatenation."""
    parts: list = []
    for events in html_events(kinds, texts, offsets, fragment):
        md = to_markdown(events, base=base, fragment=fragment)
        if md:
            parts.append(md)
    return "\n\n".join(parts) if parts else None


def markdown_docs(
    df: DataFrame,
    passthrough: tuple = ("part",),
    fragment: bool = False,
    base: str | None = None,
) -> DataFrame:
    """(doc_id, *passthrough, markdown) — markdown projection per doc."""

    def doc_fn(kinds, texts, refs, offsets):
        return markdown_doc(kinds, texts, offsets, fragment, base)

    return run_doc_stage(
        df, lambda n_pt: make_doc_stage_fn(doc_fn, n_pt, _OUT), passthrough, _OUT
    )
