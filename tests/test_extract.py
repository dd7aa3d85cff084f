"""Extraction heuristics unit tests (SURVEY.md A21–A25)."""

from xkit.extract import extract_html
from xkit.options import ExtractOptions


def texts(html, **kw):
    opts = ExtractOptions(**kw) if kw else ExtractOptions()
    return [t for k, t, m in extract_html(html, opts) if k == "text"]


def media(html, **kw):
    opts = ExtractOptions(**kw) if kw else ExtractOptions()
    return [m for k, t, m in extract_html(html, opts) if k == "media"]


def test_block_segmentation():
    assert texts("<div>alpha one<p>beta two</p>gamma three</div>") == [
        "alpha one",
        "beta two",
        "gamma three",
    ]


def test_inline_tags_join_block():
    assert texts("<p>alpha <b>bold</b> <i>ital</i> omega</p>") == [
        "alpha bold ital omega"
    ]


def test_whitespace_collapse_and_trim():
    assert texts("<p>  a   b \n\t c  </p>") == ["a b c"]


def test_drop_tags_subtrees():
    html = (
        "<head><title>T</title><style>p{}</style></head>"
        "<nav>menu menu menu</nav><p>kept body paragraph</p>"
        "<footer>foot foot</footer><aside>side side</aside>"
    )
    assert texts(html) == ["kept body paragraph"]


def test_hidden_attribute_drops_subtree():
    assert texts('<div hidden><p>gone text here</p></div><p>kept text here</p>') == [
        "kept text here"
    ]
    assert texts('<p aria-hidden="true">gone gone</p><p>kept here now</p>') == [
        "kept here now"
    ]


def test_link_density_drops_linkfarm():
    html = '<div><a href=a>one</a> <a href=b>two</a> <a href=c>three</a></div>'
    assert texts(html) == []


def test_link_density_keeps_prose_with_link():
    html = (
        "<p>Plenty of prose around a <a href=x>small link</a> keeps this "
        "paragraph well under the link density threshold.</p>"
    )
    assert len(texts(html)) == 1


def test_text_density_drops_tiny_tag_heavy():
    assert texts("<div><b>x</b></div>") == []
    assert texts("<p>ok length line</p>") == ["ok length line"]


def test_media_emission_and_order():
    spans = extract_html('<p>before img</p><img src="a.png"><p>after img</p>')
    assert [s[0] for s in spans] == ["text", "media", "text"]
    assert spans[1][2] == "a.png"


def test_media_flushes_block_midway():
    spans = extract_html('<p>left side text<img src="m.png">right side text</p>')
    assert [(s[0], s[1] or s[2]) for s in spans] == [
        ("text", "left side text"),
        ("media", "m.png"),
        ("text", "right side text"),
    ]


def test_media_inside_dropped_subtree_dropped():
    assert media('<nav><img src="logo.png"></nav>') == []


def test_base_url_absolutization():
    assert media('<img src="../i/x.png">', base_url="http://e.com/a/b/") == [
        "http://e.com/a/img/x.png".replace("img", "i")
    ]
    # absolute src unchanged
    assert media('<img src="http://o.com/y.png">', base_url="http://e.com/") == [
        "http://o.com/y.png"
    ]


def test_iframe_children_dropped_but_src_kept():
    spans = extract_html('<iframe src="f.html"><p>fallback text gone</p></iframe>')
    assert spans == [("media", None, "f.html")]


def test_empty_input():
    assert extract_html("") == []
    assert extract_html("   \n\t  ") == []


def test_threshold_overrides():
    # with a zero density floor even 1-char blocks survive
    assert texts("<div><b>x</b></div>", min_text_density=0.0) == ["x"]


def test_null_offset_spans_never_crash():
    from xkit.doc import extract_doc

    k, t, m, o = extract_doc(
        ["html", "html"],
        ["<p>first paragraph words here ok", "<p>second paragraph words here ok"],
        [None, None],
        [None, 0],
    )
    # null offsets sort last, stable; batch must not die on None<int
    assert k == ["text", "text"] and "second" in t[0] and "first" in t[1]
