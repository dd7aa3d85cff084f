"""Selector-lite gate: frozen goldens (authored-as-spec, like the 125
extraction cases; tests/goldens.py runs them), parse-error behavior,
never-raise fuzz, and Spark-stage ≡ pure-Python equality for
select_spans."""

from __future__ import annotations

import pytest

from tests import goldens
from xkit.selector import parse_selector, select_doc, select_html

_CASES = [pytest.param(c, id=c["name"]) for _, c in goldens.cases("selector")]


@pytest.mark.parametrize("case", _CASES)
def test_selector_golden(case):
    assert goldens.actual("selector", case) == case["expected_spans"]


@pytest.mark.parametrize(
    "bad",
    ["", "  ", ",", "p,", "p..x", "p.#", "[=v]", "p[unterminated", "@content",
     "p @", "p @a b", 'p[q="unclosed]', "> p", "p >", "a > > b"],
)
def test_selector_parse_errors(bad):
    with pytest.raises(ValueError):
        parse_selector(bad)


def test_selector_never_raises_on_documents():
    import random

    rng = random.Random(3)
    alphabet = '<>/="\' abcdiv&;#x-'
    sel = parse_selector("div.a p, img, meta[name=x] @content")
    for _ in range(200):
        junk = "".join(rng.choice(alphabet) for _ in range(rng.randrange(0, 300)))
        for k, t, m in select_html(junk, sel):
            assert (k == "text") == (m is None)


def test_select_doc_skips_non_html_spans():
    k, t, m, o = select_doc(
        ["html", "media", "pdf", "wat", "html"],
        ["<p>a</p>", None, "%PDF", None, "<p>b</p>"],
        [None, "m.png", None, None, None],
        [0, 1, 2, 3, 4],
        "p",
    )
    assert list(zip(k, t, m, o)) == [
        ("text", "a", None, 0),
        ("text", "b", None, 1),
    ]


@pytest.mark.spark
def test_spark_select_stage_matches_pure_python(tmp_path):
    from xhtmlkit_spark.datagen import generate_corpus
    from xhtmlkit_spark.operators.select_stage import select_spans
    from xhtmlkit_spark.session import get_spark

    spark = get_spark("local[2]", shuffle_partitions=4, app_name="sel-tests")
    corpus = generate_corpus(str(tmp_path / "corpus"), 40, seed=5, chunk_docs=20)
    df = spark.read.parquet(corpus)
    sel = "table td, img"
    got = {
        r["doc_id"]: [(s["kind"], s["text"], s["media_ref"], s["offset"]) for s in r["spans"]]
        for r in select_spans(df, sel).collect()
    }
    rows = df.collect()
    expect = {}
    for r in rows:
        spans = r["spans"]
        k, t, m, o = select_doc(
            [s["kind"] for s in spans],
            [s["text"] for s in spans],
            [s["media_ref"] for s in spans],
            [s["offset"] for s in spans],
            sel,
        )
        expect[r["doc_id"]] = list(zip(k, t, m, o))
    assert got == expect
    # at least some docs genuinely matched (the corpus plants tables/images)
    assert any(v for v in got.values())


@pytest.mark.spark
def test_spark_select_multi_one_scan(tmp_path):
    """N queries in one pass: each column equals its single-query run,
    the plan carries exactly ONE scan and ONE MapInArrow, and bad
    specs fail on the driver."""
    import re

    from xhtmlkit_spark.datagen import generate_corpus
    from xhtmlkit_spark.operators.select_stage import select_multi, select_spans
    from xhtmlkit_spark.session import get_spark

    spark = get_spark("local[2]", shuffle_partitions=4, app_name="sel-tests")
    corpus = generate_corpus(str(tmp_path / "corpus"), 50, seed=17, chunk_docs=25)
    df = spark.read.parquet(corpus)
    out = select_multi(df, {
        "tables": {"selector": "table", "emit": "html"},
        "imgs": "img",
        "headings": {"xpath": "//h1 | //h2"},
    })
    rows = out.collect()
    assert out.columns == ["doc_id", "part", "tables", "imgs", "headings"]

    def flat(df_):
        return {
            r["doc_id"]: [tuple(s) for s in (r["spans"] or [])]
            for r in df_.collect()
        }

    for col, single in [
        ("tables", select_spans(df, "table", emit="html")),
        ("imgs", select_spans(df, "img")),
        ("headings", select_spans(df, xpath="//h1 | //h2")),
    ]:
        got = {r["doc_id"]: [tuple(s) for s in (r[col] or [])] for r in rows}
        assert got == flat(single), col
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert len(re.findall(r"MapInArrow", plan)) == 1
    assert len(re.findall(r"Scan parquet", plan)) == 1
    for bad in [
        {"doc_id": "p"},
        {"q": {"selector": "p", "xpath": "//p"}},
        {"q": {"selector": "p", "emit": "markup"}},
        {"q-1": "p"},
        {},
        {"q": {"selector": "p", "extra": 1}},
    ]:
        with pytest.raises(ValueError):
            select_multi(df, bad)


@pytest.mark.spark
def test_spark_select_stage_emit_html(tmp_path):
    """emit="html" distributed ≡ pure-Python, every emitted markup
    span is well-formed XML, and the output feeds back through the
    engine as a corpus html span (the subtree-corpus contract)."""
    import xml.etree.ElementTree as ET

    from xhtmlkit_spark.datagen import generate_corpus
    from xhtmlkit_spark.operators.select_stage import select_spans
    from xhtmlkit_spark.session import get_spark

    spark = get_spark("local[2]", shuffle_partitions=4, app_name="sel-tests")
    corpus = generate_corpus(str(tmp_path / "corpus"), 30, seed=7, chunk_docs=15)
    df = spark.read.parquet(corpus)
    sel = "table"
    got = {
        r["doc_id"]: [(s["kind"], s["text"], s["media_ref"], s["offset"]) for s in r["spans"]]
        for r in select_spans(df, sel, emit="html").collect()
    }
    expect = {}
    for r in df.collect():
        spans = r["spans"]
        k, t, m, o = select_doc(
            [s["kind"] for s in spans],
            [s["text"] for s in spans],
            [s["media_ref"] for s in spans],
            [s["offset"] for s in spans],
            sel,
            emit="html",
        )
        expect[r["doc_id"]] = list(zip(k, t, m, o))
    assert got == expect
    marked = [s for v in got.values() for s in v]
    assert marked, "corpus plants tables; emit=html must match some"
    for kind, markup, ref, _ in marked:
        assert kind == "html" and ref is None
        ET.fromstring(markup)  # xml_safe serialization → well-formed
    # roundtrip: an emitted markup span re-enters selection as a doc
    any_markup = marked[0][1]
    assert select_html(any_markup, "td, th, tr") or "<t" in any_markup
    with pytest.raises(ValueError):
        select_spans(df, sel, emit="markup")


def test_quoted_commas_and_at_in_values():
    """Top-level splitting must be quote/bracket-aware (review
    finding): ',' and ' @ ' inside quoted attribute values are
    selector content, not separators."""
    assert select_html('<div title="a,b">hit</div>', 'div[title="a,b"]') == [
        ("text", "hit", None)
    ]
    assert select_html(
        '<div data-note="email @ work">hit</div>', 'div[data-note="email @ work"]'
    ) == [("text", "hit", None)]
    # and a group mixing a quoted-comma value with a second alternative
    got = select_html(
        '<div title="a,b">one</div><p>two</p>', 'div[title="a,b"], p'
    )
    assert got == [("text", "one", None), ("text", "two", None)]
    # unquoted @ inside brackets still fine; projection still works
    assert select_html(
        '<a href="mailto:x@y">m</a>', "a[href=mailto:x@y] @href"
    ) == [("text", "mailto:x@y", None)]


@pytest.mark.parametrize(
    "bad_op", ["a[href^]", "a[x~ =v]", "a[^=v]", "a[x$]"]
)
def test_attr_operator_parse_errors(bad_op):
    with pytest.raises(ValueError):
        parse_selector(bad_op)


# ---------------------------------------------------------------- xpath-lite


def test_xpath_translation_strings():
    from xkit.xpath import xpath_to_selector as x

    assert x("//p") == "p"
    assert x("p") == "p"  # relative = descendant
    assert x("//div//span") == "div span"
    assert x("/html/body/div") == "html:root > body > div"
    assert x("/div/p") == "div:root > p"  # absolute anchors exactly
    assert x("//div[@class='note']") == "div[class='note']"
    assert x("//a[@href]") == "a[href]"
    assert x('//a[contains(@href,"x")]') == "a[href*='x']"
    assert x("//a[starts-with(@href,'http')]") == "a[href^='http']"
    assert x("//ul/li[1]") == "ul > li:nth-of-type(1)"
    assert x("//li[last()]") == "li:last-of-type"
    assert x("//*[2]") == "*:nth-child(2)"
    assert x("//*[last()]") == "*:last-child"
    assert x("//a/@href") == "a @href"
    assert x("//p/text()") == "p"
    assert x("//h1 | //h2") == "h1, h2"
    assert x("//a[@href][2]") == "a[href]:nth-of-type(2)"
    assert x("//div[.//table]") == "div:has(table)"
    assert (
        x("//a[@rel='next' and contains(@href,'page')]")
        == "a[rel='next'][href*='page']"
    )
    assert x("//img[@src and not(@alt)]") == "img[src]:not([alt])"
    assert x("//input[not(@disabled)]") == "input:not([disabled])"
    assert x("//a[contains(text(),'Next')]") == "a:contains('Next')"
    assert x("//a[contains(., 'Next')]/@href") == "a:contains('Next') @href"
    assert x("//td[text()='v']") == "td:text-is('v')"
    assert x("//td[.=\"v\"]") == "td:text-is('v')"
    assert (
        x("//a[@href and contains(text(),'more')]")
        == "a[href]:contains('more')"
    )
    # names the selector grammar cannot round-trip are rejected, but
    # predicate ATTRIBUTE names keep the XML charset
    assert x("//a[@xml:lang='en']") == "a[xml:lang='en']"
    # round-5 axes: sibling combinator + :has witness modes
    assert x("//a/following-sibling::b") == "a ~ b"
    assert (
        x("//div[@id='x']/p/following-sibling::span[@class='y']")
        == "div[id='x'] > p ~ span[class='y']"
    )
    assert x("//a/following-sibling::b/c") == "a ~ b > c"
    assert x("//a/following-sibling::b/@href") == "a ~ b @href"
    assert x("//li/following-sibling::li/following-sibling::li") == "li ~ li ~ li"
    assert x("//a/preceding-sibling::b") == "b:has(~ a)"
    assert (
        x("//div[@id='x']/p/preceding-sibling::span")
        == "div[id='x'] > span:has(~ p)"
    )
    assert x("//p/preceding-sibling::span/@id") == "span:has(~ p) @id"
    assert x("/a/preceding-sibling::b") == "b:has(~ a:root)"
    assert x("//a/..") == "*:has(> a)"
    assert x("//a/parent::div") == "div:has(> a)"
    assert x("//a/parent::div[@class='c']") == "div[class='c']:has(> a)"
    assert x("//td/..[@class='row']") == "*[class='row']:has(> td)"
    assert x("//a/child::b") == "a > b"
    assert x("//a/child::b[2]") == "a > b:nth-of-type(2)"
    assert x("//a/descendant::b[@x]") == "a b[x]"
    assert x("//a/ancestor::div") == "div:has(a)"
    assert x("//span/ancestor::div[@id='x']") == "div[id='x']:has(span)"
    assert x("//td[normalize-space()='v']") == "td:text-is('v')"
    assert x("//td[normalize-space(.)='v']") == "td:text-is('v')"
    assert x("//td[normalize-space(text())='a b']") == "td:text-is('a b')"
    # round-5 second batch: position()/last() arithmetic → an+b pseudos
    assert x("//p[position()>1]") == "p:nth-of-type(n+2)"
    assert x("//p[position()>=3]") == "p:nth-of-type(n+3)"
    assert x("//p[position()<=2]") == "p:nth-of-type(-n+2)"
    assert x("//p[position()<3]") == "p:nth-of-type(-n+2)"
    assert x("//p[position()=2]") == "p:nth-of-type(2)"
    assert x("//p[position()!=2]") == "p:not(:nth-of-type(2))"
    assert x("//p[position()=last()]") == "p:last-of-type"
    assert x("//p[position()!=last()]") == "p:not(:last-of-type)"
    assert x("//p[position()=last()-1]") == "p:nth-last-of-type(2)"
    assert x("//p[last()-1]") == "p:nth-last-of-type(2)"
    assert x("//p[position()>=last()-1]") == "p:nth-last-of-type(-n+2)"
    assert x("//p[position()<last()]") == "p:nth-last-of-type(n+2)"
    assert x("//p[position() mod 2 = 1]") == "p:nth-of-type(2n+1)"
    assert x("//p[position() mod 2 = 0]") == "p:nth-of-type(2n+0)"
    assert x("//*[position()<3]") == "*:nth-child(-n+2)"
    assert x("//a[@href and position()>1]") == "a[href]:nth-of-type(n+2)"
    # comparisons no position satisfies → the never-matching (0) forms
    assert x("//p[position()<1]") == "p:nth-of-type(-n+0)"
    assert x("//p[position()>last()]") == "p:nth-of-type(0)"
    assert x("//p[position() mod 3 = 5]") == "p:nth-of-type(0)"
    # round-5 second batch: self:: and the -or-self union axes
    assert x("//a/self::a[@href]") == "a[href]"
    assert x("//a/self::*[@href]") == "a[href]"
    assert x("//a[@x]/self::b") == "a[x]:not(*)"  # exact empty
    assert x("//a/ancestor-or-self::div") == "div:has(a)"  # names differ
    assert x("//div[@x]/ancestor-or-self::div") == "div:has(div[x]), div[x]"
    assert x("//a/ancestor-or-self::*") == "*:has(a), a"
    assert x("//a/descendant-or-self::b") == "a b"  # self arm empty
    assert x("//x/a/descendant-or-self::*") == "x > a *, x > a"
    assert x("//a/descendant-or-self::a/@id") == "a a @id, a @id"
    # round-5 batch 2: document-order axes → :after/:before pseudos
    assert x("//a/following::b") == "b:after(a)"
    assert x("//a/preceding::b") == "b:before(a)"
    assert x("//a[@id='k']/preceding::p[@c]") == "p[c]:before(a[id='k'])"
    assert x("//a/following::b/@href") == "b:after(a) @href"


def test_xpath_position_and_or_self_behavior():
    from xkit.xpath import select_html_xpath as q

    html = "<div><p>1</p><p>2</p><p>3</p><p>4</p></div>"
    assert q(html, "//p[position()>1]") == [
        ("text", "2", None), ("text", "3", None), ("text", "4", None)]
    assert q(html, "//p[position() mod 2 = 0]") == [
        ("text", "2", None), ("text", "4", None)]
    assert q(html, "//p[position()>=last()-1]") == [
        ("text", "3", None), ("text", "4", None)]
    assert q(html, "//p[last()-1]") == [("text", "3", None)]
    assert q(html, "//p[position()!=2]") == [
        ("text", "1", None), ("text", "3", None), ("text", "4", None)]
    assert q(html, "//p[position()<1]") == []
    # * counts ALL element children (nth-child), not same-tag position
    mixed = "<div><em>1</em><p>2</p><b>3</b></div>"
    assert q(mixed, "//*[position()>=2]") == [
        ("text", "2", None), ("text", "3", None)]
    # -or-self unions: result node-set semantics, overlap deduped —
    # the outer span matches BOTH arms (ancestor of inner + self) but
    # emits once; projection applies to each arm
    h = '<span id="o"><span id="i">t</span></span>'
    assert q(h, "//span/ancestor-or-self::span") == [
        ("text", "t", None), ("text", "t", None)]
    assert q(h, "//span/ancestor-or-self::*/@id") == [
        ("text", "o", None), ("text", "i", None)]
    h2 = '<div class="c"><span>s</span></div>'
    assert q(h2, "//span/ancestor-or-self::div") == [("text", "s", None)]
    assert q(h2, "//div/descendant-or-self::*") == [
        ("text", "s", None), ("text", "s", None)]
    assert q(h2, "//span/self::span") == [("text", "s", None)]
    assert q(h2, "//span/self::p") == []  # exact empty, no error


def test_xpath_following_preceding_behavior():
    """following:: / preceding:: node-set semantics via the
    :after/:before watermark pseudos: strict event order — the
    context's descendants and ancestors belong to NEITHER axis."""
    from xkit.xpath import select_html_xpath as q

    h = ("<p id='1'>one</p><div><p id='2'>two</p><a>A</a>"
         "<p id='3'>three</p></div><p id='4'>four</p>")
    assert q(h, "//a/following::p/@id") == [
        ("text", "3", None), ("text", "4", None)]
    assert q(h, "//a/preceding::p/@id") == [
        ("text", "1", None), ("text", "2", None)]
    # the div CONTAINS a: ancestor — in neither axis
    assert q(h, "//a/following::div") == []
    assert q(h, "//a/preceding::div") == []
    # a's own descendants are in neither axis either
    h2 = "<a><b>in</b></a><b>out</b>"
    assert q(h2, "//a/following::b") == [("text", "out", None)]
    # a closes before the OUTER b opens -> a is in that b's preceding
    # axis (the inner b never witnesses: it opens inside a)
    assert q(h2, "//b/preceding::a") == [("text", "in", None)]
    assert q("<a><b>only inner</b></a>", "//b/preceding::a") == []
    h3 = "<b>lead</b><a>A</a>"
    assert q(h3, "//a/preceding::b") == [("text", "lead", None)]
    # html emission composes with the deferred :before finalization
    # (the close-event slice recorded at defer time drives the slice)
    from xkit.selector import select_html

    h4 = '<b id="x"><i>keep</i></b><a>ctx</a><b id="y">late</b>'
    assert select_html(h4, "b:before(a)", emit="html") == [
        ("html", '<b id="x"><i>keep</i></b>', None)]
    assert select_html(h4, "b:after(a)", emit="html") == [
        ("html", '<b id="y">late</b>', None)]
    assert select_html(h4, "b:before(a)", emit="inner_html") == [
        ("html", "<i>keep</i>", None)]


@pytest.mark.parametrize(
    "bad",
    [
        "",
        "//ancestor::div",
        "//following-sibling::b",  # axis needs a context step
        "//a//following-sibling::b",  # '//' before an axis
        "//a/following-sibling::b[1]",  # positional pred on an axis step
        "//a/preceding-sibling::b[last()]",
        "//x/a/..",  # parent:: needs a single-step prefix
        "//a/../b",  # parent result must be the final step
        "//a/preceding-sibling::b/c",
        "//a/preceding-sibling::b/preceding-sibling::c",
        "//a/descendant::b[2]",  # indexes the full descendant node-set
        "//x/a/ancestor::div",  # ancestor:: needs a single-step prefix
        "//a/ancestor::div/b",  # ancestor result must be final
        "//a/following::b/c",  # :after lives on the subject: final only
        "//a/preceding::b[1]",  # positional pred indexes the axis node-set
        "//x/a/following::b",  # needs a single-step prefix
        "//a//preceding::b",  # '//' before an axis
        "//a/self::b[1]",  # positional pred indexes the axis node-set
        "//a/following-sibling::b[position()>1]",
        "//a/descendant-or-self::b[2]",
        "//x/a/ancestor-or-self::div",  # needs a single-step prefix
        "//a/ancestor-or-self::div/b",  # union axes: final step only
        "//a/descendant-or-self::b/c",
        "//self::a",  # axis needs a context step
        "//a//self::b",  # '//' before an axis
        "//p[position() mod 0 = 1]",  # division by zero
        "//p[position()=@x]",  # rhs must be an integer or last()-K
        "//p[position()+1=2]",  # position() arithmetic beyond last()-K
        "//p[",  # unterminated predicate
        "@href",  # bare attribute
        "//p/text()/b",  # text() must be final
        "//node()",
        "A.",  # dot can't round-trip through the selector tag grammar
        "//x.y",
        "//a/@og:title",  # projection names are selector-charset only
        "//p[not(b)]",  # not() takes @attr only
        "//p[@a and]",  # dangling conjunction
        "//div[text()='x']/p",  # text predicates: final step only
        "//p[contains(text(),'')]",  # empty needle
        "//p[contains(@a)]",  # malformed contains
    ],
)
def test_xpath_unsupported_raises(bad):
    from xkit.xpath import xpath_to_selector

    with pytest.raises(ValueError):
        xpath_to_selector(bad)


def test_xpath_end_to_end_matches_selector():
    """The translated query must give byte-identical spans to the
    hand-written selector on a messy document — one evaluator, one
    semantics."""
    from xkit.xpath import select_html_xpath

    html = (
        "<html><head><title>t</title></head><body>"
        '<div class="note"><p>one</p><p>two<li>stray</div>'
        '<ul><li>a<li>b<li>c</ul>'
        '<a href="http://x/1">l1</a><a href="/rel">l2</a>'
        '<img src="/i.png">'
        "</body></html>"
    )
    assert select_html_xpath(html, "//div[@class='note']//p") == select_html(
        html, "div[class='note'] p"
    )
    assert select_html_xpath(html, "//ul/li[1]") == [("text", "a", None)]
    assert select_html_xpath(html, "//ul/li[last()]") == [("text", "c", None)]
    assert select_html_xpath(html, "//a[starts-with(@href,'http')]/@href") == [
        ("text", "http://x/1", None)
    ]
    assert select_html_xpath(html, "/html/body//img") == [
        ("media", None, "/i.png")
    ]
    assert select_html_xpath(html, "//h1 | //title") == [("text", "t", None)]
    # malformed DOCUMENT never raises; malformed XPATH raises at parse
    assert select_html_xpath("<<<garbage", "//p") == []


def test_xpath_axes_end_to_end():
    """following-sibling:: / preceding-sibling:: / parent:: node-sets,
    hand-computed per the XPath spec, over one document."""
    from xkit.xpath import select_html_xpath as q

    html = (
        "<html><body>"
        '<div id=x><span id=s1>A</span><p id=p1>P1</p>'
        '<span id=s2>B</span><p id=p2>P2</p><b id=b1>Z</b></div>'
        '<div id=y><span id=s3>C</span></div>'
        '<section><p id=p3>P3</p><span id=s4>D</span></section>'
        "</body></html>"
    )
    t = lambda *vals: [("text", v, None) for v in vals]
    assert q(html, "//div[@id='x']/p/following-sibling::span/@id") == t("s2")
    assert q(html, "//span/following-sibling::p/@id") == t("p1", "p2")
    assert q(html, "//div[@id='x']/p/preceding-sibling::span/@id") == t("s1", "s2")
    assert q(html, "//span/preceding-sibling::p/@id") == t("p1", "p3")
    # parent of several matching children emits ONCE (node-set identity)
    assert q(html, "//p/parent::div/@id") == t("x")
    assert q(html, "//p/../@id") == t("x")  # section has no id → skipped
    assert q(html, "//span[@id='s3']/../@id") == t("y")
    # ancestor:: = the plain :has witness; child::/descendant:: are the
    # explicit separator spellings
    assert q(html, "//p/ancestor::div/@id") == t("x")
    assert q(html, "//span/ancestor::section") == t("P3D")
    assert q(html, "//body/child::div[2]/@id") == t("y")
    assert q(html, "//body/descendant::b/@id") == t("b1")
    assert q(html, "//span[normalize-space()='C']/@id") == t("s3")
    # deferred sib verdicts keep document-open order and html emission;
    # s4 FOLLOWS p3, so it is NOT a preceding sibling of any p
    assert q(html, "//p/preceding-sibling::span", emit="html") == [
        ("html", '<span id="s1">A</span>', None),
        ("html", '<span id="s2">B</span>', None),
    ]
    assert q(html, "//p/preceding-sibling::span/@id") == t("s1", "s2")


def test_has_witness_modes_unit():
    """:has(> x) / :has(~ x) evaluator semantics beyond the goldens:
    pre-pass pseudos inside a sib witness, text tests on deferred
    captures, fragment-mode top-level siblings."""
    h = (
        "<div><span>A</span><p>x</p><span>B</span><p>y</p><span>C</span></div>"
        "<div><span>D</span></div>"
    )
    # sib witness with a from-the-end pseudo (exercises the pre-pass
    # through the (mode, inner) tuples)
    assert select_html(h, "span:has(~ p:last-of-type)") == [
        ("text", "A", None),
        ("text", "B", None),
    ]
    # :contains on a deferred sib capture: text verdict at close, sib
    # verdict later — both must hold
    assert select_html(h, "span:has(~ p):contains('B')") == [("text", "B", None)]
    # fragment-mode top-level elements are siblings of each other
    from xkit.options import ExtractOptions

    frag = ExtractOptions(fragment=True)
    assert select_html("<a>1</a><b>2</b><a>3</a>", "a:has(~ b)", frag) == [
        ("text", "1", None)
    ]
    # inner_html on a deferred capture uses the stored close slice
    assert select_html(h, "span:has(~ p)", emit="inner_html") == [
        ("html", "A", None),
        ("html", "B", None),
    ]
    # nested / non-subject placements still reject loudly
    with pytest.raises(ValueError):
        parse_selector("div:has(~ a) p")
    with pytest.raises(ValueError):
        parse_selector("div:not(:has(~ a))")
    with pytest.raises(ValueError):
        parse_selector("div:has(+ a)")  # adjacent witness: out of scope


def test_spark_select_stage_accepts_xpath(tmp_path):
    """select_spans(xpath=…) must equal select_spans(selector=…) for
    the translated query — the distributed surface speaks the
    reference's native idiom; bad usage fails on the driver."""
    from xhtmlkit_spark.datagen import generate_corpus
    from xhtmlkit_spark.operators.select_stage import select_spans
    from xhtmlkit_spark.session import get_spark

    spark = get_spark("local[2]", shuffle_partitions=4, app_name="sel-tests")
    corpus = generate_corpus(str(tmp_path / "corpus"), 30, seed=6, chunk_docs=15)
    df = spark.read.parquet(corpus)

    def flat(out):
        return {
            r["doc_id"]: [tuple(s) for s in r["spans"]] for r in out.collect()
        }

    got = flat(select_spans(df, xpath="//table//td | //img"))
    assert got == flat(select_spans(df, "table td, img"))
    assert any(v for v in got.values())

    # axis queries ride the same distributed surface (round-5)
    fs = flat(select_spans(df, xpath="//h1/following-sibling::p"))
    assert fs == flat(select_spans(df, "h1 ~ p"))
    ps = flat(select_spans(df, xpath="//p/preceding-sibling::h1"))
    assert ps == flat(select_spans(df, "h1:has(~ p)"))
    pr = flat(select_spans(df, xpath="//td/.."))
    assert pr == flat(select_spans(df, "*:has(> td)"))
    assert any(v for v in pr.values())

    # position() arithmetic rides the same surface (round-5 batch 2)
    pp = flat(select_spans(df, xpath="//td[position()>1]"))
    assert pp == flat(select_spans(df, "td:nth-of-type(n+2)"))

    # document-order axes ride the same surface (round-5 batch 2)
    fo = flat(select_spans(df, xpath="//h1/following::td"))
    assert fo == flat(select_spans(df, "td:after(h1)"))

    with pytest.raises(ValueError):
        select_spans(df, "p", xpath="//p")  # both
    with pytest.raises(ValueError):
        select_spans(df)  # neither
    with pytest.raises(ValueError):
        select_spans(df, xpath="//a/following-or-self::b")  # driver-side reject


def test_root_pseudo_semantics():
    """:root matches only elements with no element ancestors — the
    document element on full pages, each top-level element of a
    fragment — and composes with :not and absolute XPath."""
    from xkit.options import ExtractOptions
    from xkit.xpath import select_html_xpath

    html = "<html><body><div><p>deep</p></div><p>shallow</p></body></html>"
    assert select_html(html, "html:root p") == [
        ("text", "deep", None),
        ("text", "shallow", None),
    ]
    assert select_html(html, "p:root") == []
    assert select_html(html, "div:root") == []  # div is nested on a full page
    frag = "<div>a</div><div>b<div>c</div></div>"
    fo = ExtractOptions(fragment=True)
    assert select_html(frag, "div:root", fo) == [
        ("text", "a", None),
        ("text", "bc", None),
    ]
    assert select_html(frag, "div:not(:root)", fo) == [("text", "c", None)]
    # absolute XPath only matches from the document element
    assert select_html_xpath(html, "/div/p") == []
    assert select_html_xpath(html, "/html/body/p") == [("text", "shallow", None)]
    with pytest.raises(ValueError):
        parse_selector(":rooty")


def test_has_pseudo_semantics():
    """:has(compound) on the subject compound: container filtering
    with correct composition, alternative dedupe, and loud rejection
    everywhere it can't be evaluated in one forward pass."""
    from xkit.xpath import select_html_xpath, xpath_to_selector

    html = (
        "<div class=card><h2>A</h2><img src=/a.png></div>"
        "<div class=card><h2>B</h2><p>text only</p></div>"
        "<article><section><video src=/v></video></section><p>cap</p></article>"
    )
    assert select_html(html, "div.card:has(img)") == [("text", "A", None)]
    assert select_html(html, "article:has(video)") == [("text", "cap", None)]
    assert select_html(html, "div:has(img[src^=/a])") == [("text", "A", None)]
    assert select_html(html, "article:has(table)") == []
    assert select_html(html, "img:has(img)") == []  # self is not a descendant
    assert select_html(html, "div.card:has(h2):has(img)") == [("text", "A", None)]
    assert select_html(html, "div.card:has(img) @class") == [("text", "card", None)]
    # one element matched by a satisfied :has alternative AND an
    # unconditional one emits ONCE (close-time dedupe)
    assert select_html(html, "div:has(img), div.card") == [
        ("text", "A", None),
        ("text", "Btext only", None),
    ]
    # XPath container-filter predicate
    assert xpath_to_selector("//div[.//img]") == "div:has(img)"
    assert select_html_xpath(html, "//div[.//img]") == [("text", "A", None)]
    for bad in ("div:has(img) h2", "div:has(p:has(img))", "div:not(:has(img))"):
        with pytest.raises(ValueError):
            parse_selector(bad)
    with pytest.raises(ValueError):
        xpath_to_selector("//div[.//img]/p")  # non-final [.//] predicate


def test_sib_deferred_alternative_keeps_selector_order():
    """A sib-deferred alternative with the SMALLEST cap_idx finalizes
    AFTER the close-time alternatives; the emitted row must still sort
    under the deferred alternative's index (review finding r05) —
    output order follows selector-alternative order, not finalization
    time."""
    h = '<a href="h">x</a><b>w</b>'
    # alt0 (deferred, proj None) vs alt1 (@href) vs alt2 (plain None):
    # the None-projection row must sort FIRST (cidx 0), before @href
    assert select_html(h, "a:has(~ b), a @href, a") == [
        ("text", "x", None),
        ("text", "h", None),
    ]
    # control: without the deferred alternative the same order holds
    assert select_html(h, "a, a @href") == [
        ("text", "x", None),
        ("text", "h", None),
    ]
    # and when the sib witness never arrives, the surviving
    # alternatives' own indices govern: @href (alt 1) before plain
    # (alt 2)
    h2 = '<a href="h">x</a><i>no b</i>'
    assert select_html(h2, "a:has(~ b), a @href, a") == [
        ("text", "h", None),
        ("text", "x", None),
    ]
