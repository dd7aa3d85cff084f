"""Structured harvest, distributed: tables → rows, anchors → links.

The data-shaped twins of select_spans (xkit/harvest.py has the
per-document semantics and the reference parity note): every
outermost ``<table>`` lands as typed ``(table_idx, row_idx,
is_header, cells)`` rows, every ``<a href>`` as ``(link_idx, url,
anchor_text)`` rows — the two projections crawl/ETL users actually
join on; media references, sitemap and feed entries, and page
metadata follow the same shape.

Plumbing: every projection is one doc stage of the shared kernel
(one column-pruned scan → optional doc_id hash exchange → one
MapInArrow) whose output spec is the typed result itself. A row
projection emits one ``array<struct>`` column per document, declared
once below (``_TABLE_ROW`` … ``_FEED_ROW``) and shared with
``harvest_all``; ``F.inline`` turns it into rows inside whole-stage
codegen. Nothing is encoded into span strings, so nothing is decoded
in the JVM. Each walker's rows go through one per-span accumulator
(``_add_rows`` indexes them, ``_add_tables`` continues table_idx,
``_add_meta`` merges first-wins) that the single projections,
``harvest_all`` and the pure-Python twins all call; a document's html
spans are walked one at a time in offset order, so only one span's
events are alive at once.

100 TB shape: identical to extract_spans — the inline fans out rows
but stays pipelined in the same stage as the Python stage's output;
downstream groupBys (e.g. per-host link counts) shuffle typed
longs/strings, never documents.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from xhtmlkit_spark.operators.extract_stage import (
    make_doc_stage_fn,
    run_doc_stage,
)
from xkit.doc import html_events
from xkit.harvest import (
    harvest_links,
    harvest_media,
    harvest_meta,
    harvest_feed,
    harvest_sitemap,
    harvest_tables,
)
from xkit.options import DEFAULT_OPTIONS, ExtractOptions

__all__ = [
    "harvest_doc_tables",
    "harvest_doc_links",
    "table_rows",
    "doc_links",
    "harvest_doc_media",
    "media_refs",
    "sitemap_entries",
    "feed_entries",
    "page_meta",
    "harvest_all",
]


def _row(*fields) -> T.StructType:
    return T.StructType([T.StructField(n, dt) for n, dt in fields])


_S = T.StringType()
_I = T.IntegerType()
_B = T.BooleanType()
_TABLE_ROW = _row(
    ("table_idx", _I), ("row_idx", _I), ("is_header", _B), ("cells", T.ArrayType(_S))
)
_LINK_ROW = _row(("link_idx", _I), ("url", _S), ("anchor_text", _S))
_MEDIA_ROW = _row(
    ("media_idx", _I), ("url", _S), ("media_kind", _S), ("tag", _S), ("attr", _S)
)
_SITEMAP_ROW = _row(("entry_idx", _I), ("loc", _S), ("lastmod", _S), ("is_index", _B))
_FEED_ROW = _row(
    ("entry_idx", _I), ("feed_type", _S), ("title", _S), ("url", _S), ("published", _S)
)


# per-span accumulators: append one html span's rows to the document's
# ``rows``. Indices run across the doc's spans in offset order (a doc is
# one page split into spans, not many pages), so each continues from
# the rows already accumulated.


def _add_rows(rows: list, events, walk, *args) -> None:
    """Append ``walk(events, *args)``'s rows, each prefixed with its
    running index in the document."""
    n = len(rows)
    rows += [(n + i, *e) for i, e in enumerate(walk(events, *args))]


def _add_tables(rows: list, events) -> None:
    t_base = rows[-1][0] + 1 if rows else 0
    rows += [(t_base + t, r, h, c) for t, r, h, c in harvest_tables(events)]


def _media(events, base) -> list:
    """harvest_media's rows in media_refs' column order."""
    media = harvest_media(events, base)
    return [(url, kind, tag, attr) for url, tag, kind, attr in media]


def _add_meta(acc: list, events, base) -> None:
    """First-wins merge of one html span's harvest_meta into ``acc`` =
    ``[title, lang, canonical, meta_dict]`` (mirroring the in-page
    first-wins rule)."""
    t, lg, cn, m = harvest_meta(events, base=base)
    for j, v in enumerate((t, lg, cn)):
        if acc[j] is None:
            acc[j] = v
    for k, v in m.items():
        acc[3].setdefault(k, v)


def _harvest_doc(kinds, texts, offsets, fragment, add, *args) -> list:
    """One document's typed rows: ``add(rows, events, *args)`` per html
    span, offset order."""
    rows: list = []
    for events in html_events(kinds, texts, offsets, fragment):
        add(rows, events, *args)
    return rows


def _row_stage(df: DataFrame, passthrough: tuple, row_type, doc_fn) -> DataFrame:
    """Run ``doc_fn`` (one document → list of row tuples) as a doc
    stage with one ``array<row_type>`` column, inlined to
    ``(doc_id, *passthrough, <row_type fields>)`` rows. A NULL spans
    row yields no rows."""
    out = (("_rows", T.ArrayType(row_type)),)
    pt = [c for c in passthrough if c in df.columns]
    staged = run_doc_stage(
        df, lambda n_pt: make_doc_stage_fn(doc_fn, n_pt, out), passthrough, out
    )
    return staged.select("doc_id", *pt, F.inline("_rows"))


def _text_spans(df: DataFrame, text_col: str, passthrough: tuple) -> DataFrame:
    """Wrap a raw text column as a one-html-span corpus — the doc
    stage's input shape — so text-column parsers run the same plan."""
    pt = [c for c in passthrough if c in df.columns]
    return df.select(
        "doc_id",
        *pt,
        F.array(
            F.struct(
                F.lit("html").alias("kind"),
                F.col(text_col).alias("text"),
                F.lit(None).cast("string").alias("media_ref"),
                F.lit(0).cast("int").alias("offset"),
            )
        ).alias("spans"),
    )


def harvest_doc_tables(
    kinds: list, texts: list, refs: list, offsets: list, fragment: bool = False
) -> list:
    """Doc-level table harvest: ``[(table_idx, row_idx, is_header,
    cells), ...]``. table_idx runs across the doc's html spans in
    offset order."""
    return _harvest_doc(kinds, texts, offsets, fragment, _add_tables)


def harvest_doc_links(
    kinds: list,
    texts: list,
    refs: list,
    offsets: list,
    base: str | None = None,
    fragment: bool = False,
) -> list:
    """Doc-level link harvest: ``[(link_idx, url, anchor_text), ...]``."""
    return _harvest_doc(kinds, texts, offsets, fragment, _add_rows, harvest_links, base)


def harvest_doc_media(
    kinds: list,
    texts: list,
    refs: list,
    offsets: list,
    base: str | None = None,
    fragment: bool = False,
) -> list:
    """Doc-level media harvest: ``[(media_idx, url, media_kind, tag,
    attr), ...]``."""
    return _harvest_doc(kinds, texts, offsets, fragment, _add_rows, _media, base)


def media_refs(
    df: DataFrame,
    options: ExtractOptions = DEFAULT_OPTIONS,
    passthrough: tuple = ("part",),
) -> DataFrame:
    """(doc_id, *passthrough, media_idx, url, media_kind, tag, attr) —
    one row per harvested media reference (img src + srcset
    candidates, picture/video/audio sources, video poster), document
    order, urls resolved vs options.base_url (A21). Feed the url
    column into urls.py normalize/blocklist/cap for a media-aware
    crawl frontier."""
    base = options.base_url
    fragment = options.fragment

    def doc_fn(kinds, texts, refs, offsets):
        return harvest_doc_media(kinds, texts, refs, offsets, base, fragment)

    return _row_stage(df, passthrough, _MEDIA_ROW, doc_fn)


def sitemap_entries(
    df: DataFrame, text_col: str = "sitemap_xml", passthrough: tuple = ()
) -> DataFrame:
    """(doc_id, *passthrough, entry_idx, loc, lastmod, is_index) rows
    parsed from a raw sitemap-XML text column with the REAL tokenizer
    (xkit.harvest.harvest_sitemap — entity decode and tag-soup
    degradation for free): ``<urlset>/<url>`` entries and
    ``<sitemapindex>/<sitemap>`` entries (``is_index``), each with its
    required ``<loc>`` and optional ``<lastmod>``."""

    def doc_fn(kinds, texts, refs, offsets):
        return _harvest_doc(kinds, texts, offsets, False, _add_rows, harvest_sitemap)

    corpus = _text_spans(df, text_col, passthrough)
    return _row_stage(corpus, passthrough, _SITEMAP_ROW, doc_fn)


def feed_entries(
    df: DataFrame, text_col: str = "feed_xml", passthrough: tuple = ()
) -> DataFrame:
    """(doc_id, *passthrough, entry_idx, feed_type, title, url,
    published) rows parsed from a raw RSS/Atom text column with the
    real tokenizer (xkit.harvest.harvest_feed — the syndication twin
    of sitemap_entries); absent titles and dates are NULL."""

    def doc_fn(kinds, texts, refs, offsets):
        return _harvest_doc(kinds, texts, offsets, False, _add_rows, harvest_feed)

    corpus = _text_spans(df, text_col, passthrough)
    return _row_stage(corpus, passthrough, _FEED_ROW, doc_fn)


def table_rows(
    df: DataFrame,
    options: ExtractOptions = DEFAULT_OPTIONS,
    passthrough: tuple = ("part",),
) -> DataFrame:
    """(doc_id, *passthrough, table_idx, row_idx, is_header, cells) —
    one row per harvested table row, cells an array<string>."""
    fragment = options.fragment

    def doc_fn(kinds, texts, refs, offsets):
        return harvest_doc_tables(kinds, texts, refs, offsets, fragment)

    return _row_stage(df, passthrough, _TABLE_ROW, doc_fn)


def doc_links(
    df: DataFrame,
    options: ExtractOptions = DEFAULT_OPTIONS,
    passthrough: tuple = ("part",),
) -> DataFrame:
    """(doc_id, *passthrough, link_idx, url, anchor_text) — one row per
    <a href>, document order, href resolved vs options.base_url (A21).
    Feed the url column straight into operators/urls.py
    (canonical_host / blocklist / per-host caps) for the crawl-frontier
    hygiene tier."""
    base = options.base_url
    fragment = options.fragment

    def doc_fn(kinds, texts, refs, offsets):
        return harvest_doc_links(kinds, texts, refs, offsets, base, fragment)

    return _row_stage(df, passthrough, _LINK_ROW, doc_fn)


_META_OUT = (
    ("title", _S),
    ("lang", _S),
    ("canonical", _S),
    ("meta", T.MapType(_S, _S)),
)


def page_meta(
    df: DataFrame,
    options: ExtractOptions = DEFAULT_OPTIONS,
    passthrough: tuple = ("part",),
) -> DataFrame:
    """(doc_id, *passthrough, title, lang, canonical, meta) — page
    metadata per document (xkit.harvest.harvest_meta): first
    non-empty <title>, <html lang>, canonical link (A21-resolved),
    and the <meta name/property → content> map. The ONE projection
    that reads head content (extraction/markdown drop it). A doc's
    html spans are scanned in offset order; the first span providing
    each piece wins, mirroring the in-page first-wins rule. Typed
    scalar + map columns out of the same doc-stage kernel."""
    base = options.base_url
    fragment = options.fragment

    def doc_fn(kinds, texts, refs, offsets):
        acc = [None, None, None, {}]
        for events in html_events(kinds, texts, offsets, fragment):
            _add_meta(acc, events, base)
        return acc[0], acc[1], acc[2], list(acc[3].items())

    return run_doc_stage(
        df,
        lambda n_pt: make_doc_stage_fn(doc_fn, n_pt, _META_OUT),
        passthrough,
        _META_OUT,
    )


_ALL_OUT = (
    ("tables", T.ArrayType(_TABLE_ROW)),
    ("links", T.ArrayType(_LINK_ROW)),
) + _META_OUT


def harvest_all(
    df: DataFrame,
    options: ExtractOptions = DEFAULT_OPTIONS,
    passthrough: tuple = ("part",),
) -> DataFrame:
    """Every harvest projection from ONE parse per document:
    (doc_id, *passthrough, tables, links, title, lang, canonical,
    meta) — tables an array<struct<table_idx,row_idx,is_header,
    cells>>, links an array<struct<link_idx,url,anchor_text>>. The
    three walkers (xkit.harvest) each cost a fraction of the
    tokenize+repair they share, so combined harvest ≈ one single
    projection's price instead of three (same fused-pass rationale as
    project_docs / select_multi). Explode the arrays downstream for
    the row-shaped twins of table_rows / doc_links."""
    base = options.base_url
    fragment = options.fragment

    def doc_fn(kinds, texts, refs, offsets):
        tables: list = []
        links: list = []
        acc = [None, None, None, {}]
        for events in html_events(kinds, texts, offsets, fragment):
            _add_tables(tables, events)
            _add_rows(links, events, harvest_links, base)
            _add_meta(acc, events, base)
        return tables, links, acc[0], acc[1], acc[2], list(acc[3].items())

    return run_doc_stage(
        df,
        lambda n_pt: make_doc_stage_fn(doc_fn, n_pt, _ALL_OUT),
        passthrough,
        _ALL_OUT,
    )
