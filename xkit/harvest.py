"""Structured harvest from the repaired event stream: tables, links, media.

Two high-frequency "give me the data, not the page" projections a
markup-harvest engine owes its users (the reference's SelectNodes
idiom is how its users pull tables and link lists out of pages —
[P: XHtmlKit README.md]):

* :func:`harvest_tables` — every outermost ``<table>`` as structured
  rows ``(table_idx, row_idx, is_header, cells)``. Cell text is the
  whitespace-collapsed subtree text (A25 rule) including nested-table
  content (inner tables flatten into the enclosing cell, same rule as
  the markdown projection); a row is a header row iff it contains any
  ``<th>``. Rows with zero cells are dropped; ``colspan`` is not
  expanded (cells are positional).

* :func:`harvest_media` — every media reference as ``(url, tag,
  kind, attr)``: img src + srcset candidates, picture/video/audio
  ``<source>`` (kind inherited from the container), video poster.

* :func:`harvest_links` — every ``<a>`` with a non-empty ``href`` as
  ``(url, anchor_text)`` in document order. ``href`` is resolved
  against ``base`` when given (A21, same rule as media refs); anchor
  text is the collapsed subtree text with ``<img alt>`` contributing
  (the alt text is the anchor signal when a link wraps an image).
  Nested anchors (tag soup) each get their own entry with their own
  subtree text.

Both walk the same well-nested ``repair(tokenize(html))`` event
stream as every other projection, so all tag-soup recovery rules
(A14–A17) apply before harvesting. Pure Python, stdlib only.
"""

from __future__ import annotations

from urllib.parse import urljoin

from xkit.extract import _collapse

__all__ = ["harvest_tables", "harvest_links", "harvest_media", "harvest_meta", "harvest_sitemap", "harvest_feed"]

# content that never reaches harvested text (head-section tags can't
# contain tables/anchors, so the content-only drop set suffices)
_DROP = frozenset("script style noscript template".split())


def _effective_base(base: str | None, base_href: str | None) -> str | None:
    """The document's first ``<base href>`` resolved against the caller's
    ``base`` (how a browser composes them), else whichever is set."""
    return urljoin(base, base_href) if (base and base_href) else (base_href or base)


def harvest_tables(events: list) -> list:
    """``[(table_idx, row_idx, is_header, [cell, ...]), ...]`` for
    every outermost table in the event stream (module doc has the
    semantics)."""
    out: list = []
    table_idx = -1
    row_idx = 0
    depth = 0  # table nesting depth; capture only at 1
    drop = 0
    row: list | None = None
    row_has_th = False
    cell: list | None = None
    for ev in events:
        kind = ev[0]
        if kind == "text":
            if not drop and cell is not None:
                cell.append(ev[1])
        elif kind == "open":
            tag = ev[1]
            if drop or tag in _DROP:
                drop += 1
                continue
            if tag == "table":
                depth += 1
                if depth == 1:
                    table_idx += 1
                    row_idx = 0
                    row = None
                    cell = None
            elif tag == "img":
                # fires at ANY table depth: nested-table content
                # flattens into the enclosing cell, and that includes
                # img alt (matching harvest_links' any-depth rule)
                if cell is not None:
                    alt = ev[2].get("alt")
                    if alt:
                        cell.append(" %s " % alt)
            elif depth == 1:
                if tag == "tr":
                    row = []
                    row_has_th = False
                elif tag in ("td", "th") and row is not None:
                    cell = []
                    if tag == "th":
                        row_has_th = True
        elif kind == "close":
            tag = ev[1]
            if drop:
                drop -= 1
                continue
            if tag == "table":
                if depth:
                    depth -= 1
                if depth == 0:
                    row = None
                    cell = None
            elif depth == 1:
                if tag == "tr":
                    if row:
                        out.append((table_idx, row_idx, row_has_th, row))
                        row_idx += 1
                    row = None
                elif tag in ("td", "th"):
                    if row is not None and cell is not None:
                        row.append(_collapse("".join(cell)))
                    cell = None
    return out


def harvest_links(events: list, base: str | None = None) -> list:
    """``[(url, anchor_text), ...]`` for every ``<a href>`` in
    document order (module doc has the semantics).

    A document's FIRST ``<base href>`` participates per the HTML
    base-URL rule: the effective base is ``urljoin(base, base_href)``
    (the in-page base resolved against the caller's, exactly how a
    browser composes them) and applies to every link regardless of
    position — resolution is deferred to end-of-walk so anchors
    before the ``<base>`` tag resolve identically to those after."""
    # stack of [href_or_None, buf, order] — nested anchors each collect
    # their own subtree text; order fixes emission to OPEN order even
    # though the text completes at close
    stack: list = []
    drop = 0
    n_opened = 0
    done: list = []  # (order, raw_href, text) finished anchors
    base_href = None
    for ev in events:
        kind = ev[0]
        if kind == "text":
            if not drop and stack:
                t = ev[1]
                for entry in stack:
                    entry[1].append(t)
        elif kind == "open":
            tag = ev[1]
            if drop or tag in _DROP:
                drop += 1
                continue
            if tag == "a":
                href = ev[2].get("href") or None
                stack.append([href, [], n_opened])
                n_opened += 1
            elif tag == "img" and stack:
                alt = ev[2].get("alt")
                if alt:
                    for entry in stack:
                        entry[1].append(" %s " % alt)
            elif tag == "base" and base_href is None:
                bh = ev[2].get("href")
                if bh:
                    base_href = bh
        elif kind == "close":
            if drop:
                drop -= 1
                continue
            if ev[1] == "a" and stack:
                href, buf, order = stack.pop()
                if href:
                    done.append((order, href, _collapse("".join(buf))))
    done.sort()
    eff = _effective_base(base, base_href)
    return [(urljoin(eff, h) if eff else h, t) for _, h, t in done]


# media containers whose <source> children inherit their kind; <img>
# and srcset candidates are image regardless of nesting
_MEDIA_KIND = {"picture": "image", "video": "video", "audio": "audio"}


def _srcset_urls(srcset: str) -> list:
    """Candidate URLs of a ``srcset`` value in attribute order, per the
    WHATWG parsing algorithm's comma rules: a comma separates
    candidates only when it TRAILS a whitespace-delimited URL token or
    follows the descriptors — a comma INSIDE a URL (CDN transform
    paths: ``/c_fill,w_300/a.jpg``) is a literal URL octet, which a
    naive ``split(',')`` chops into phantom candidates. Descriptors
    (``2x``, ``640w``) are dropped; parenthesized descriptor commas
    don't separate."""
    out = []
    pos, n = 0, len(srcset)
    while pos < n:
        while pos < n and (srcset[pos].isspace() or srcset[pos] == ","):
            pos += 1
        if pos >= n:
            break
        start = pos
        while pos < n and not srcset[pos].isspace():
            pos += 1
        url = srcset[start:pos]
        if url.endswith(","):
            url = url.rstrip(",")
            if url:
                out.append(url)
            continue  # the comma already ended this candidate
        if url:
            out.append(url)
        depth = 0  # descriptors until an unparenthesized comma
        while pos < n:
            c = srcset[pos]
            if c == "(":
                depth += 1
            elif c == ")":
                depth = max(0, depth - 1)
            elif c == "," and depth == 0:
                pos += 1
                break
            pos += 1
    return out


def harvest_media(events: list, base: str | None = None) -> list:
    """``[(url, tag, kind, attr), ...]`` for every media reference in
    document order — the media-aware crawl/dataset surface beyond the
    extractor's single ``img src`` span emission:

    * ``<img>``: ``src`` plus EVERY ``srcset`` candidate URL (kind
      ``image``);
    * ``<source>``: ``src`` and ``srcset`` candidates, kind inherited
      from the nearest enclosing ``picture``/``video``/``audio``
      (a ``<source>`` outside any media container is meaningless per
      the HTML spec and is skipped — documented);
    * ``<video>``: ``src`` (kind ``video``) and ``poster`` (kind
      ``image``); ``<audio>``: ``src`` (kind ``audio``).

    URLs resolve against ``base`` composed with the document's FIRST
    ``<base href>`` exactly like :func:`harvest_links` (deferred to
    end-of-walk). Empty attribute values contribute nothing.
    """
    ctx: list = []  # open media-container stack (kinds)
    drop = 0
    found: list = []  # (raw_url, tag, kind, attr)
    base_href = None

    def add(url, tag, kind, attr):
        if url:
            found.append((url, tag, kind, attr))

    for ev in events:
        kind = ev[0]
        if kind == "open":
            tag = ev[1]
            if drop or tag in _DROP:
                drop += 1
                continue
            attrs = ev[2]
            if tag == "img":
                add(attrs.get("src"), tag, "image", "src")
                for u in _srcset_urls(attrs.get("srcset") or ""):
                    add(u, tag, "image", "srcset")
            elif tag == "source":
                if ctx:
                    add(attrs.get("src"), tag, ctx[-1], "src")
                    for u in _srcset_urls(attrs.get("srcset") or ""):
                        add(u, tag, ctx[-1], "srcset")
            elif tag in _MEDIA_KIND:
                if tag == "video":
                    add(attrs.get("src"), tag, "video", "src")
                    add(attrs.get("poster"), tag, "image", "poster")
                elif tag == "audio":
                    add(attrs.get("src"), tag, "audio", "src")
                ctx.append(_MEDIA_KIND[tag])
            elif tag == "base" and base_href is None:
                bh = ev[2].get("href")
                if bh:
                    base_href = bh
        elif kind == "close":
            if drop:
                drop -= 1
                continue
            if ev[1] in _MEDIA_KIND and ctx:
                ctx.pop()
    eff = _effective_base(base, base_href)
    return [
        ((urljoin(eff, u) if eff else u), t, k, a) for u, t, k, a in found
    ]


def harvest_sitemap(events: list) -> list:
    """``[(loc, lastmod, is_index), ...]`` from a sitemap.xml event
    stream (the crawl-frontier's OTHER input besides robots.txt):
    ``<url>`` entries of a ``<urlset>`` and ``<sitemap>`` entries of a
    ``<sitemapindex>`` (``is_index`` = True), each with its ``<loc>``
    (required — entries without one are dropped per the protocol) and
    optional ``<lastmod>``. Sitemap XML rides the SAME tokenizer as
    HTML (XML is inside its dialect; entity refs like ``&amp;`` in
    locs decode for free), so malformed feeds degrade instead of
    raising. Text is A25-collapsed; document order preserved."""
    out: list = []
    cur: dict | None = None
    field: str | None = None
    buf: list = []
    for ev in events:
        kind = ev[0]
        if kind == "open":
            tag = ev[1]
            if tag in ("url", "sitemap"):
                cur = {"is_index": tag == "sitemap"}
                field = None
            elif tag in ("loc", "lastmod") and cur is not None:
                field = tag
                buf = []
        elif kind == "text":
            if field is not None:
                buf.append(ev[1])
        elif kind == "close":
            tag = ev[1]
            if cur is None:
                continue
            if tag in ("loc", "lastmod") and field == tag:
                cur[tag] = _collapse("".join(buf))
                field = None
            elif tag in ("url", "sitemap"):
                loc = cur.get("loc")
                if loc:
                    out.append((loc, cur.get("lastmod"), cur["is_index"]))
                cur = None
                field = None
    return out


def harvest_feed(events: list) -> list:
    """``[(feed_type, title, url, published), ...]`` from an RSS 2.0 or
    Atom feed event stream — the syndication side of frontier
    discovery: ``<item>`` (rss) / ``<entry>`` (atom) entries with
    their title, link, and first date field
    (``pubDate``/``published``/``updated``).

    Tokenizer-dialect notes (frozen): ``<link>`` is a VOID element in
    the HTML dialect, so RSS's text-content form ``<link>url</link>``
    is captured as the text immediately following the link tag (the
    stray ``</link>`` drops in repair); Atom's ``<link href=…/>``
    comes from the attribute, first link wins. Entries without a link
    drop. A CDATA-wrapped title keeps its ``<![CDATA[…]]>`` markers
    with entities decoded (``<title>`` is RCDATA in the HTML dialect)
    — a known wrong answer. Channel/feed-level title/link elements
    OUTSIDE any entry are ignored.
    """
    out: list = []
    cur: dict | None = None
    field: str | None = None
    buf: list = []
    pending_link = False
    for ev in events:
        kind = ev[0]
        if kind == "open":
            tag = ev[1]
            if tag in ("item", "entry"):
                cur = {"type": "rss" if tag == "item" else "atom"}
                field = None
                pending_link = False
                continue
            if cur is None:
                continue
            pending_link = False
            if tag == "title":
                field = "title"
                buf = []
            elif tag in ("pubdate", "published", "updated"):
                if "published" not in cur:
                    field = "published"
                    buf = []
            elif tag == "link":
                href = ev[2].get("href")
                if href:
                    cur.setdefault("url", href)
                elif "url" not in cur:
                    pending_link = True
        elif kind == "text":
            if cur is None:
                continue
            if field is not None:
                buf.append(ev[1])
            elif pending_link:
                # entities decode INLINE (one text event per source
                # run), so the first text event IS the whole URL; the
                # next event is tag-soup tail text that the dropped
                # stray </link> used to separate — stop capturing
                cur["url"] = cur.get("url", "") + ev[1]
                pending_link = False
        elif kind == "close":
            tag = ev[1]
            if cur is None:
                continue
            if tag == "link":
                continue  # the void's own close: keep capturing text
            pending_link = False
            if tag == "title" and field == "title":
                cur["title"] = _collapse("".join(buf))
                field = None
            elif tag in ("pubdate", "published", "updated") and field == "published":
                cur["published"] = _collapse("".join(buf))
                field = None
            elif tag in ("item", "entry"):
                # first whitespace-delimited token only: a URL carries
                # no whitespace, so `<link>http://a/1 junk</link>`
                # (one text event, tag soup) still yields the URL
                parts = _collapse(cur.get("url", "")).split(" ", 1)
                url = parts[0] if parts else ""
                if url:
                    out.append(
                        (
                            cur["type"],
                            cur.get("title") or None,
                            url,
                            cur.get("published") or None,
                        )
                    )
                cur = None
                field = None
    return out


def harvest_meta(events: list, base: str | None = None) -> tuple:
    """Page metadata: ``(title, lang, canonical, meta)`` where
    ``title`` is the first non-empty ``<title>`` text (A25-collapsed),
    ``lang`` the first ``<html lang>``, ``canonical`` the first
    ``<link rel=canonical href>`` (resolved against ``base``, A21),
    and ``meta`` an ordered ``{name_or_property: content}`` dict over
    ``<meta>`` tags (key lowercased; ``property`` — the OpenGraph
    style — wins over ``name`` on one tag; FIRST occurrence of a key
    wins, matching A7's duplicate-attribute rule). Head content is
    deliberately invisible to extraction/markdown — this is the one
    projection that reads it. The first ``<base href>`` composes with
    the caller's ``base`` for canonical resolution (same deferred rule
    as harvest_links). Missing pieces are None / {}.
    """
    title = None
    lang = None
    canonical = None
    base_href = None
    meta: dict = {}
    in_title = 0
    title_buf: list = []
    for ev in events:
        kind = ev[0]
        if kind == "text":
            if in_title:
                title_buf.append(ev[1])
        elif kind == "open":
            tag = ev[1]
            if tag == "title":
                if title is None:
                    in_title += 1
            elif tag == "meta":
                attrs = ev[2]
                key = attrs.get("property") or attrs.get("name")
                content = attrs.get("content")
                if key and content is not None:
                    key = key.lower()
                    if key not in meta:
                        meta[key] = content
            elif tag == "link":
                attrs = ev[2]
                if canonical is None and attrs.get("rel", "").lower() == "canonical":
                    href = attrs.get("href")
                    if href:
                        canonical = href  # resolved after the walk
            elif tag == "base":
                if base_href is None:
                    bh = ev[2].get("href")
                    if bh:
                        base_href = bh
            elif tag == "html":
                if lang is None:
                    lv = ev[2].get("lang")
                    if lv:
                        lang = lv
        elif kind == "close":
            if ev[1] == "title" and in_title:
                in_title -= 1
                if not in_title:
                    t = _collapse("".join(title_buf))
                    title_buf = []
                    if t and title is None:
                        title = t
    if canonical is not None:
        eff = _effective_base(base, base_href)
        if eff:
            canonical = urljoin(eff, canonical)
    return title, lang, canonical, meta
