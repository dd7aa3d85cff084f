"""Fused multi-projection stage: spans + markdown (+ xhtml) in ONE
distributed parse (xkit.doc.project_doc has the per-document semantics).

Running extract_spans then markdown_docs scans the corpus twice and
tokenizes every document twice; tokenization dominates per-doc cost,
so a pipeline materializing both views pays ~2× for one page. This
stage shares one tokenize per document across all projections inside
a single MapInArrow — the same ``make_doc_stage_fn`` kernel as the
single stages (list offsets for spans, plain string columns for
markdown/xhtml; zero per-row Python objects at the Spark boundary).

100 TB shape: the flagship plan, unchanged — one column-pruned scan,
the optional doc_id hash exchange, ONE Python worker pass per
partition; the extra projections ride in the same Arrow batch as
extra columns, so the scan/shuffle cost of a second (or third)
output view is zero.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import types as T

from xhtmlkit_spark.operators.extract_stage import (
    SPANS_TYPE,
    make_doc_stage_fn,
    run_doc_stage,
)
from xkit.doc import project_doc
from xkit.options import DEFAULT_OPTIONS, ExtractOptions

__all__ = ["project_docs"]


def project_docs(
    df: DataFrame,
    options: ExtractOptions = DEFAULT_OPTIONS,
    passthrough: tuple = ("part",),
    want_xhtml: bool = False,
) -> DataFrame:
    """(doc_id, *passthrough, spans, markdown[, xhtml]) — extraction
    spans and the markdown (and optionally normalized-XHTML) views of
    every document from one shared parse. Column-for-column identical
    to extract_spans / markdown_docs / normalize_xhtml run separately
    (asserted by tests), at ~one parse instead of N."""
    out = (("spans", SPANS_TYPE), ("markdown", T.StringType()))
    if want_xhtml:
        out += (("xhtml", T.StringType()),)

    def doc_fn(kinds, texts, refs, offsets):
        spans, md, xh = project_doc(kinds, texts, refs, offsets, options, want_xhtml)
        return (spans, md, xh) if want_xhtml else (spans, md)

    return run_doc_stage(
        df, lambda n_pt: make_doc_stage_fn(doc_fn, n_pt, out), passthrough, out
    )
