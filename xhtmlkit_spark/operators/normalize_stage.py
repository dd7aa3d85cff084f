"""Tag-soup → normalized XHTML, distributed (the reference's headline
capability as a column transform).

XHtmlKit's core deliverable is "malformed HTML in, well-formed XML
out" ([P: XHtmlKit README.md] Load → XmlDocument.OuterXml); a user
switching to this engine gets the same thing as a DataFrame column:
every ``html`` input span repaired (implicit closes, void elements,
stray-close handling, EOF recovery — xkit.dom.repair) and serialized
to the canonical XHTML-ish form the serialization goldens freeze
(xkit.dom.serialize), concatenated per document in span order.

Same Arrow discipline as the other stages (the shared
``make_doc_stage_fn`` kernel): flat child arrays in, one string column
out, zero per-row Python objects at the boundary. The
output is line-of-sight to the Spark SQL ``xpath_*`` functions for
users who want XPath over the repaired tree (out of the hot path, as
SURVEY A27 notes).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import types as T

from xhtmlkit_spark.operators.extract_stage import make_doc_stage_fn, run_doc_stage
from xkit.doc import html_events
from xkit.dom import serialize

__all__ = ["normalize_doc", "normalize_xhtml"]

_OUT = (("xhtml", T.StringType()),)


def normalize_doc(
    kinds: list, texts: list, offsets: list, fragment: bool = False
) -> str | None:
    """One document's html spans → one repaired-XHTML string (span
    order = offset order; pdf/media spans have no markup and contribute
    nothing). All-non-html (or empty) docs → None, not "" — the
    distinction survives the column. ``fragment`` turns off the
    full-page head auto-close rule for snippet corpora (A18/§3.3),
    mirroring ExtractOptions.fragment."""
    parts: list = []
    for events in html_events(kinds, texts, offsets, fragment):
        # xml_safe: this is the XML-emitting path, so A19 name
        # sanitization and comment legality apply (the goldens pin the
        # default serialize() form separately)
        parts.append(serialize(events, xml_safe=True))
    return "".join(parts) if parts else None


def normalize_xhtml(
    df: DataFrame, passthrough: tuple = ("part",), fragment: bool = False
) -> DataFrame:
    """(doc_id, *passthrough, xhtml) — repaired canonical XHTML per doc."""

    def doc_fn(kinds, texts, refs, offsets):
        return normalize_doc(kinds, texts, offsets, fragment)

    return run_doc_stage(
        df, lambda n_pt: make_doc_stage_fn(doc_fn, n_pt, _OUT), passthrough, _OUT
    )
