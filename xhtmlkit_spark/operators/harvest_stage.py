"""Structured harvest, distributed: tables → rows, anchors → links.

The data-shaped twins of select_spans (xkit/harvest.py has the
per-document semantics and the reference parity note): every
outermost ``<table>`` lands as typed ``(table_idx, row_idx,
is_header, cells)`` rows, every ``<a href>`` as ``(link_idx, url,
anchor_text)`` rows — the two projections crawl/ETL users actually
join on.

Plumbing: the harvest rides the SAME span-shaped Arrow carrier as
every other per-doc stage (one column-pruned scan → optional
doc_id hash exchange → one MapInArrow), then unpacks to typed columns
with pure JVM expressions — table rows travel as one span per row
(``kind`` = header|row, ``text`` = tab-joined cells, ``media_ref`` =
"table:row") which is LOSSLESS because harvested cell text is
whitespace-collapsed (no tabs survive A25), and links travel as one
span per anchor (``media_ref`` = resolved url). The explode and
split/cast run inside whole-stage codegen; no extra Python, no
shuffle beyond the carrier stage's.

100 TB shape: identical to extract_spans — the explode fans out
rows but stays pipelined in the same stage as the scan of the
carrier's output; downstream groupBys (e.g. per-host link counts)
shuffle typed longs/strings, never documents.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from xhtmlkit_spark.operators.extract_stage import (
    make_doc_stage_fn,
    run_doc_stage,
)
from xkit.doc import iter_spans
from xkit.dom import repair
from xkit.harvest import (
    harvest_links,
    harvest_media,
    harvest_meta,
    harvest_feed,
    harvest_sitemap,
    harvest_tables,
)
from xkit.options import DEFAULT_OPTIONS, ExtractOptions
from xkit.tokenizer import tokenize

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


def _doc_events(kinds, texts, offsets, fragment):
    """Per-span repaired event streams of one document, offset order."""
    for _, kind, raw in iter_spans(kinds, texts, offsets):
        if kind == "html" and raw is not None:
            yield repair(tokenize(raw), fragment=fragment)


def harvest_doc_tables(
    kinds: list, texts: list, refs: list, offsets: list, fragment: bool = False
) -> tuple[list, list, list, list]:
    """Doc-level table harvest in the span carrier: one span per table
    row — kind header|row, text = tab-joined cells, media_ref =
    "table_idx:row_idx". table_idx runs across the doc's html spans in
    offset order (a doc is one page split into spans, not many pages).
    """
    ok: list = []
    ot: list = []
    om: list = []
    t_base = 0
    for events in _doc_events(kinds, texts, offsets, fragment):
        rows = harvest_tables(events)
        for t_idx, r_idx, is_header, cells in rows:
            ok.append("header" if is_header else "row")
            ot.append("\t".join(cells))
            om.append("%d:%d" % (t_base + t_idx, r_idx))
        if rows:
            t_base += rows[-1][0] + 1
    return ok, ot, om, list(range(len(ok)))


def harvest_doc_links(
    kinds: list,
    texts: list,
    refs: list,
    offsets: list,
    base: str | None = None,
    fragment: bool = False,
) -> tuple[list, list, list, list]:
    """Doc-level link harvest in the span carrier: one span per anchor
    — kind link, text = anchor text, media_ref = resolved url."""
    ok: list = []
    ot: list = []
    om: list = []
    for events in _doc_events(kinds, texts, offsets, fragment):
        for url, text in harvest_links(events, base=base):
            ok.append("link")
            ot.append(text)
            om.append(url)
    return ok, ot, om, list(range(len(ok)))


def harvest_doc_media(
    kinds: list,
    texts: list,
    refs: list,
    offsets: list,
    base: str | None = None,
    fragment: bool = False,
) -> tuple[list, list, list, list]:
    """Doc-level media harvest in the span carrier: one span per media
    reference — kind = image|video|audio, text = "tag\\tattr",
    media_ref = resolved url (tag/attr names contain no tabs, so the
    join is lossless)."""
    ok: list = []
    ot: list = []
    om: list = []
    for events in _doc_events(kinds, texts, offsets, fragment):
        for url, tag, mkind, attr in harvest_media(events, base=base):
            ok.append(mkind)
            ot.append("%s\t%s" % (tag, attr))
            om.append(url)
    return ok, ot, om, list(range(len(ok)))


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
    pt = [c for c in passthrough if c in df.columns]
    base = options.base_url
    fragment = options.fragment

    def batch_fn(n_pt: int):
        def doc_fn(kinds, texts, refs, offsets):
            return harvest_doc_media(kinds, texts, refs, offsets, base, fragment)

        return make_doc_stage_fn(doc_fn, n_pt)

    out = run_doc_stage(df, batch_fn, passthrough)
    s = out.select(
        "doc_id", *pt, F.posexplode("spans").alias("media_idx", "s")
    )
    ta = F.split(F.col("s.text"), "\t")
    return s.select(
        "doc_id",
        *pt,
        F.col("media_idx").cast("int").alias("media_idx"),
        F.col("s.media_ref").alias("url"),
        F.col("s.kind").alias("media_kind"),
        ta.getItem(0).alias("tag"),
        ta.getItem(1).alias("attr"),
    )


def sitemap_entries(
    df: DataFrame, text_col: str = "sitemap_xml", passthrough: tuple = ()
) -> DataFrame:
    """(doc_id, *passthrough, entry_idx, loc, lastmod, is_index) rows
    parsed from a raw sitemap-XML text column with the REAL tokenizer
    (xkit.harvest.harvest_sitemap — entity decode and tag-soup
    degradation for free): ``<urlset>/<url>`` entries and
    ``<sitemapindex>/<sitemap>`` entries (``is_index``), each with its
    required ``<loc>`` and optional ``<lastmod>``. The raw text is
    wrapped into the standard span carrier so the plan is the same
    one-exchange/one-MapInArrow shape as every parser stage."""
    pt = [c for c in passthrough if c in df.columns]
    carrier = df.select(
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

    def batch_fn(n_pt: int):
        def doc_fn(kinds, texts, refs, offsets):
            ok: list = []
            ot: list = []
            om: list = []
            for events in _doc_events(kinds, texts, offsets, False):
                for loc, lastmod, is_index in harvest_sitemap(events):
                    ok.append("sitemapindex" if is_index else "url")
                    ot.append(lastmod)
                    om.append(loc)
            return ok, ot, om, list(range(len(ok)))

        return make_doc_stage_fn(doc_fn, n_pt)

    out = run_doc_stage(carrier, batch_fn, passthrough)
    s = out.select("doc_id", *pt, F.posexplode("spans").alias("entry_idx", "s"))
    return s.select(
        "doc_id",
        *pt,
        F.col("entry_idx").cast("int").alias("entry_idx"),
        F.col("s.media_ref").alias("loc"),
        F.col("s.text").alias("lastmod"),
        (F.col("s.kind") == F.lit("sitemapindex")).alias("is_index"),
    )


def feed_entries(
    df: DataFrame, text_col: str = "feed_xml", passthrough: tuple = ()
) -> DataFrame:
    """(doc_id, *passthrough, entry_idx, feed_type, title, url,
    published) rows parsed from a raw RSS/Atom text column with the
    real tokenizer (xkit.harvest.harvest_feed — the syndication twin
    of sitemap_entries). Carrier encoding: kind = rss|atom, text =
    "title\\tpublished" (titles are A25-collapsed so the tab is safe;
    empty means absent), media_ref = url."""
    pt = [c for c in passthrough if c in df.columns]
    carrier = df.select(
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

    def batch_fn(n_pt: int):
        def doc_fn(kinds, texts, refs, offsets):
            ok: list = []
            ot: list = []
            om: list = []
            for events in _doc_events(kinds, texts, offsets, False):
                for ftype, title, url, published in harvest_feed(events):
                    ok.append(ftype)
                    ot.append("%s\t%s" % (title or "", published or ""))
                    om.append(url)
            return ok, ot, om, list(range(len(ok)))

        return make_doc_stage_fn(doc_fn, n_pt)

    out = run_doc_stage(carrier, batch_fn, passthrough)
    s = out.select("doc_id", *pt, F.posexplode("spans").alias("entry_idx", "s"))
    tp = F.split(F.col("s.text"), "\t")
    return s.select(
        "doc_id",
        *pt,
        F.col("entry_idx").cast("int").alias("entry_idx"),
        F.col("s.kind").alias("feed_type"),
        F.nullif(tp.getItem(0), F.lit("")).alias("title"),
        F.col("s.media_ref").alias("url"),
        F.nullif(tp.getItem(1), F.lit("")).alias("published"),
    )


def table_rows(
    df: DataFrame,
    options: ExtractOptions = DEFAULT_OPTIONS,
    passthrough: tuple = ("part",),
) -> DataFrame:
    """(doc_id, *passthrough, table_idx, row_idx, is_header, cells) —
    one row per harvested table row, cells an array<string>."""
    pt = [c for c in passthrough if c in df.columns]
    fragment = options.fragment

    def batch_fn(n_pt: int):
        def doc_fn(kinds, texts, refs, offsets):
            return harvest_doc_tables(kinds, texts, refs, offsets, fragment)

        return make_doc_stage_fn(doc_fn, n_pt)

    out = run_doc_stage(df, batch_fn, passthrough)
    s = out.select("doc_id", *pt, F.explode("spans").alias("s"))
    loc = F.split(F.col("s.media_ref"), ":")
    return s.select(
        "doc_id",
        *pt,
        loc.getItem(0).cast("int").alias("table_idx"),
        loc.getItem(1).cast("int").alias("row_idx"),
        (F.col("s.kind") == F.lit("header")).alias("is_header"),
        F.split(F.col("s.text"), "\t").alias("cells"),
    )


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
    pt = [c for c in passthrough if c in df.columns]
    base = options.base_url
    fragment = options.fragment

    def batch_fn(n_pt: int):
        def doc_fn(kinds, texts, refs, offsets):
            return harvest_doc_links(kinds, texts, refs, offsets, base, fragment)

        return make_doc_stage_fn(doc_fn, n_pt)

    out = run_doc_stage(df, batch_fn, passthrough)
    s = out.select(
        "doc_id", *pt, F.posexplode("spans").alias("link_idx", "s")
    )
    return s.select(
        "doc_id",
        *pt,
        F.col("link_idx").cast("int").alias("link_idx"),
        F.col("s.media_ref").alias("url"),
        F.col("s.text").alias("anchor_text"),
    )


_META_OUT = (
    ("title", T.StringType()),
    ("lang", T.StringType()),
    ("canonical", T.StringType()),
    ("meta", T.MapType(T.StringType(), T.StringType())),
)


def _merge_meta(acc: list, events, base) -> None:
    """First-wins merge of one html span's harvest_meta into ``acc`` =
    ``[title, lang, canonical, meta_dict]`` (a doc's spans in offset
    order, mirroring the in-page first-wins rule)."""
    t, lg, cn, m = harvest_meta(events, base=base)
    for j, v in enumerate((t, lg, cn)):
        if acc[j] is None:
            acc[j] = v
    for k, v in m.items():
        acc[3].setdefault(k, v)


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
        for events in _doc_events(kinds, texts, offsets, fragment):
            _merge_meta(acc, events, base)
        return acc[0], acc[1], acc[2], list(acc[3].items())

    return run_doc_stage(
        df,
        lambda n_pt: make_doc_stage_fn(doc_fn, n_pt, _META_OUT),
        passthrough,
        _META_OUT,
    )


_ALL_OUT = (
    (
        "tables",
        T.ArrayType(
            T.StructType(
                [
                    T.StructField("table_idx", T.IntegerType()),
                    T.StructField("row_idx", T.IntegerType()),
                    T.StructField("is_header", T.BooleanType()),
                    T.StructField("cells", T.ArrayType(T.StringType())),
                ]
            )
        ),
    ),
    (
        "links",
        T.ArrayType(
            T.StructType(
                [
                    T.StructField("link_idx", T.IntegerType()),
                    T.StructField("url", T.StringType()),
                    T.StructField("anchor_text", T.StringType()),
                ]
            )
        ),
    ),
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
        t_base = 0
        for events in _doc_events(kinds, texts, offsets, fragment):
            rows = harvest_tables(events)
            for t_idx, r_idx, is_header, cells in rows:
                tables.append(
                    {
                        "table_idx": t_base + t_idx,
                        "row_idx": r_idx,
                        "is_header": is_header,
                        "cells": cells,
                    }
                )
            if rows:
                t_base += rows[-1][0] + 1
            for url, text in harvest_links(events, base=base):
                links.append(
                    {"link_idx": len(links), "url": url, "anchor_text": text}
                )
            _merge_meta(acc, events, base)
        return tables, links, acc[0], acc[1], acc[2], list(acc[3].items())

    return run_doc_stage(
        df,
        lambda n_pt: make_doc_stage_fn(doc_fn, n_pt, _ALL_OUT),
        passthrough,
        _ALL_OUT,
    )
