"""Structured harvest semantics (xkit/harvest.py) — these asserts are
the frozen spec of the table/link projections, like the golden files
are for extraction (SURVEY.md R37)."""

from __future__ import annotations

from xkit.dom import repair
from xkit.harvest import harvest_links, harvest_meta, harvest_tables
from xkit.tokenizer import tokenize


def _ev(html: str) -> list:
    return repair(tokenize(html))


# ------------------------------------------------------------- tables


def test_tables_header_rows_and_indices():
    got = harvest_tables(
        _ev(
            "<table><tr><th>k</th><th>v</th><tr><td>a</td><td>b  c</td>"
            "</table><p>x</p><table><tr><td>t2</td></tr></table>"
        )
    )
    assert got == [
        (0, 0, True, ["k", "v"]),
        (0, 1, False, ["a", "b c"]),
        (1, 0, False, ["t2"]),
    ]


def test_tables_nested_flatten_into_cell():
    got = harvest_tables(
        _ev(
            "<table><tr><td>outer<table><tr><td>inner</td></tr></table>"
            "tail</td></tr></table>"
        )
    )
    assert got == [(0, 0, False, ["outerinnertail"])]


def test_tables_img_alt_inside_nested_table_contributes():
    # nested-table content flattens into the enclosing cell, and that
    # includes img alt — at any depth (matches harvest_links' rule)
    got = harvest_tables(
        _ev(
            "<table><tr><td><table><tr><td><img alt='deep' src='s.png'>"
            "</td></tr></table> outer</td></tr></table>"
        )
    )
    assert got == [(0, 0, False, ["deep outer"])]


def test_tables_empty_rows_dropped_empty_cells_kept():
    got = harvest_tables(_ev("<table><tr></tr><tr><td></td><td>x</td></tr></table>"))
    assert got == [(0, 0, False, ["", "x"])]


def test_tables_script_in_cell_dropped_img_alt_contributes():
    got = harvest_tables(
        _ev(
            "<table><tr><td>keep<script>drop()</script></td>"
            "<td><img alt='pic' src='s.png'>txt</td></tr></table>"
        )
    )
    assert got == [(0, 0, False, ["keep", "pic txt"])]


def test_tables_tag_soup_implicit_closes():
    # <td> closed by the next <td>/<tr> (A15) — no explicit closes at all
    got = harvest_tables(_ev("<table><tr><td>a<td>b<tr><td>c</table>"))
    assert got == [(0, 0, False, ["a", "b"]), (0, 1, False, ["c"])]


def test_tables_none_without_table():
    assert harvest_tables(_ev("<p>no tables<td>stray cell</td></p>")) == []


def test_tables_cell_text_has_no_tabs_or_newlines():
    # A25 collapse: harvested cell text is one line of single spaces
    got = harvest_tables(_ev("<table><tr><td>a\tb\nc</td></tr></table>"))
    assert got == [(0, 0, False, ["a b c"])]


# -------------------------------------------------------------- links


def test_links_resolution_and_order():
    got = harvest_links(
        _ev("<a href='/x'>one</a> <a>skipped</a> <a href='y'>two</a>"),
        base="http://e.com/a/",
    )
    assert got == [("http://e.com/x", "one"), ("http://e.com/a/y", "two")]


def test_links_img_alt_is_anchor_text():
    got = harvest_links(_ev("<a href='y'><img alt='pic' src='s'></a>"))
    assert got == [("y", "pic")]


def test_links_nested_anchors_each_emit_open_order():
    got = harvest_links(_ev("<a href='1'>out <a href='2'>in</a> tail</a>"))
    assert got == [("1", "out in tail"), ("2", "in")]


def test_links_script_inside_anchor_dropped():
    got = harvest_links(_ev("<a href='u'>ok<script>'no'</script></a>"))
    assert got == [("u", "ok")]


def test_links_unclosed_anchor_never_emits_until_eof_close():
    # EOF recovery (A17) closes the anchor, so it still lands
    got = harvest_links(_ev("<div><a href='u'>text"))
    assert got == [("u", "text")]


def test_harvest_never_raises_on_fuzz_garbage():
    import random

    rng = random.Random(99)
    alphabet = "<>/tabledr=\"'& ;!-\n\t"
    for _ in range(300):
        s = "".join(rng.choice(alphabet) for _ in range(rng.randrange(0, 150)))
        ev = _ev(s)
        assert isinstance(harvest_tables(ev), list)
        assert isinstance(harvest_links(ev), list)
        assert isinstance(harvest_meta(ev), tuple)


# --------------------------------------------------------------- meta


def test_meta_full_head():
    got = harvest_meta(
        _ev(
            "<!DOCTYPE html><html lang='en-US'><head><title> My  Page </title>"
            "<meta name='description' content='a page'>"
            "<meta property='og:title' content='OG Title'>"
            "<meta property='og:title' content='dup ignored'>"
            "<meta name='keywords'>"  # no content → no entry
            "<link rel='canonical' href='/canon'>"
            "<title>second ignored</title></head><body><p>x</p></body></html>"
        ),
        base="http://e.com/a/",
    )
    assert got == (
        "My Page",
        "en-US",
        "http://e.com/canon",
        {"description": "a page", "og:title": "OG Title"},
    )


def test_meta_missing_pieces_and_empty_title():
    assert harvest_meta(_ev("<p>no head</p>")) == (None, None, None, {})
    # an empty first title does not shadow a later real one
    assert harvest_meta(_ev("<title></title><title>real</title>"))[0] == "real"


def test_meta_property_wins_over_name_on_one_tag():
    got = harvest_meta(
        _ev("<meta name='title' property='og:type' content='article'>")
    )
    assert got[3] == {"og:type": "article"}


def test_base_tag_composes_with_caller_base():
    # in-page <base href> resolves against the caller's base, and
    # applies to links BEFORE it in document order too (deferred rule)
    html = (
        "<a href='early'>e</a>"
        "<head><base href='/sub/dir/'>"
        "<link rel='canonical' href='page.html'></head>"
        "<a href='late'>l</a>"
    )
    got = harvest_links(_ev(html), base="http://e.com/a/b/")
    assert got == [
        ("http://e.com/sub/dir/early", "e"),
        ("http://e.com/sub/dir/late", "l"),
    ]
    assert harvest_meta(_ev(html), base="http://e.com/a/b/")[2] == (
        "http://e.com/sub/dir/page.html"
    )
    # absolute in-page base stands alone; only the FIRST base counts
    html2 = "<base href='http://cdn.org/x/'><base href='/zzz/'><a href='p'>p</a>"
    assert harvest_links(_ev(html2)) == [("http://cdn.org/x/p", "p")]
    # no base tag: caller base unchanged (frozen earlier behavior)
    assert harvest_links(_ev("<a href='p'>p</a>"), base="http://e.com/d/") == [
        ("http://e.com/d/p", "p")
    ]


def test_media_matrix():
    """srcset candidates, picture/video/audio source inheritance,
    video poster, orphan <source> skipped, script content dropped,
    base resolution (in-page base composed with caller base)."""
    from xkit.harvest import harvest_media

    html = (
        "<base href='/sub/'>"
        "<img src='a.png' srcset='b.png 2x, c/d.png 640w,'>"
        "<picture><source srcset='p1.webp 1x,p2.webp'><img src='f.jpg'></picture>"
        "<video src='v.mp4' poster='v.jpg'><source src='v.webm'></video>"
        "<audio><source src='a.mp3'></audio>"
        "<source src='orphan.bin'>"
        "<script>var x=\"<img src='no.png'>\";</script>"
    )
    got = harvest_media(_ev(html), base="http://ex.com/a/b.html")
    assert got == [
        ("http://ex.com/sub/a.png", "img", "image", "src"),
        ("http://ex.com/sub/b.png", "img", "image", "srcset"),
        ("http://ex.com/sub/c/d.png", "img", "image", "srcset"),
        ("http://ex.com/sub/p1.webp", "source", "image", "srcset"),
        ("http://ex.com/sub/p2.webp", "source", "image", "srcset"),
        ("http://ex.com/sub/f.jpg", "img", "image", "src"),
        ("http://ex.com/sub/v.mp4", "video", "video", "src"),
        ("http://ex.com/sub/v.jpg", "video", "image", "poster"),
        ("http://ex.com/sub/v.webm", "source", "video", "src"),
        ("http://ex.com/sub/a.mp3", "source", "audio", "src"),
    ]


def test_media_no_base_keeps_raw_and_empty_attrs_skip():
    from xkit.harvest import harvest_media

    got = harvest_media(_ev("<img src='' srcset='  '><img src='x.png'>"))
    assert got == [("x.png", "img", "image", "src")]


def test_sitemap_urlset_and_index():
    from xkit.harvest import harvest_sitemap

    xml = (
        '<?xml version="1.0" encoding="UTF-8"?>'
        '<urlset xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">'
        "<url><loc>http://a.org/p?x=1&amp;y=2</loc>"
        "<lastmod>2026-01-01</lastmod></url>"
        "<url><loc> http://a.org/q </loc></url>"
        "<url><lastmod>2026-02-02</lastmod></url>"  # no loc: dropped
        "</urlset>"
    )
    assert harvest_sitemap(_ev(xml)) == [
        ("http://a.org/p?x=1&y=2", "2026-01-01", False),  # entity decoded
        ("http://a.org/q", None, False),  # whitespace collapsed
    ]
    idx = (
        "<sitemapindex><sitemap><loc>http://a.org/s1.xml</loc></sitemap>"
        "<sitemap><loc>http://a.org/s2.xml</loc></sitemap></sitemapindex>"
    )
    assert harvest_sitemap(_ev(idx)) == [
        ("http://a.org/s1.xml", None, True),
        ("http://a.org/s2.xml", None, True),
    ]
    # malformed feeds degrade, never raise
    assert harvest_sitemap(_ev("<urlset><url><loc>u1")) in ([], [("u1", None, False)])
    assert harvest_sitemap(_ev("<<<garbage>>>")) == []


def test_feed_rss_and_atom():
    from xkit.harvest import harvest_feed

    rss = (
        '<?xml version="1.0"?><rss version="2.0"><channel>'
        "<title>Chan</title><link>http://chan.org</link>"  # outside items: ignored
        "<item><title>First  post</title><link>http://a.org/1?x=1&amp;y=2</link>"
        "<pubDate>Mon, 01 Jan 2026</pubDate></item>"
        "<item><link>http://a.org/2</link></item>"   # no title, no date
        "<item><title>no link drops</title></item>"  # no link: dropped
        "</channel></rss>"
    )
    assert harvest_feed(_ev(rss)) == [
        ("rss", "First post", "http://a.org/1?x=1&y=2", "Mon, 01 Jan 2026"),
        ("rss", None, "http://a.org/2", None),
    ]
    atom = (
        '<feed xmlns="http://www.w3.org/2005/Atom"><title>AF</title>'
        '<entry><title>E1</title><link href="http://b.org/e1?a=1&amp;b=2"'
        ' rel="alternate"/><updated>2026-01-02</updated></entry>'
        '<entry><title>E2</title><link href="http://b.org/e2"/>'
        "<published>2026-01-03</published><updated>second date ignored"
        "</updated></entry></feed>"
    )
    assert harvest_feed(_ev(atom)) == [
        ("atom", "E1", "http://b.org/e1?a=1&b=2", "2026-01-02"),
        ("atom", "E2", "http://b.org/e2", "2026-01-03"),
    ]
    assert harvest_feed(_ev("<<<garbage")) == []


def test_srcset_spec_comma_rules():
    """Regression (round-4 review): a comma INSIDE a URL (CDN
    transform paths) is a literal octet, not a candidate separator —
    naive split(',') chopped it into phantom URLs."""
    from xkit.harvest import _srcset_urls

    assert _srcset_urls("https://cdn.ex/c_fill,w_300/a.jpg 300w") == [
        "https://cdn.ex/c_fill,w_300/a.jpg"
    ]
    assert _srcset_urls("a.jpg 300w, b.jpg 600w") == ["a.jpg", "b.jpg"]
    assert _srcset_urls("a.jpg,b.jpg 2x, c.jpg") == ["a.jpg,b.jpg", "c.jpg"]
    assert _srcset_urls("a.jpg 1x,b.jpg") == ["a.jpg", "b.jpg"]
    assert _srcset_urls("x.jpg,, ") == ["x.jpg"]
    assert _srcset_urls("  ") == []


def test_feed_link_tag_soup():
    """Regression (round-4 review): text following the dropped stray
    </link> close must not concatenate into the URL; entity-decoded
    URLs (one text event) stay whole; in-link whitespace junk drops."""
    from xkit.dom import repair
    from xkit.harvest import harvest_feed
    from xkit.tokenizer import tokenize

    def feed(body):
        return harvest_feed(repair(tokenize(f"<rss><channel><item>{body}</item></channel></rss>")))

    assert feed("<title>T</title><link>http://a/1</link>editor note<pubDate>d</pubDate>") == [
        ("rss", "T", "http://a/1", "d")
    ]
    assert feed("<link>http://a/1?x=1&amp;y=2</link>")[0][2] == "http://a/1?x=1&y=2"
    assert feed("<link>http://a/1 junk</link>")[0][2] == "http://a/1"
