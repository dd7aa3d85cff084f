"""Property-based tests (hypothesis): the parser must never raise and
must maintain structural invariants on ARBITRARY input — the A17
never-fail discipline as an executable property, beyond what the
example-based goldens pin."""

from __future__ import annotations

from hypothesis import example, given, settings
from hypothesis import strategies as st

from xkit.doc import extract_doc
from xkit.dom import repair, serialize
from xkit.encoding import decode_html_bytes
from xkit.extract import extract_html
from xkit.options import ExtractOptions
from xkit.tokenizer import tokenize

# text biased toward markup metacharacters so the generator actually
# explores parser states instead of plain prose
_markupish = st.text(
    alphabet=st.sampled_from(list("<>&;/!-=\"' \n\tabPdiv[]#x0¢中𝄞")), max_size=300
)
_any_text = st.one_of(_markupish, st.text(max_size=200))


# adversarial markup every extractor change must survive: no markup,
# entities, implicit closes, RAWTEXT/RCDATA, media and iframe fallback,
# literal '<', stray closes, declarations, EOF inside a tag or raw text
_ADVERSARIAL = [
    "",
    "plain text no markup at all",
    "ent &amp; ities &lt;kept&gt; flat",
    "<p>one<p>two<div hidden><p>gone</div><p>three",
    "<script>a < b && c</script><p>after</p>",
    "<title>rc &amp; data</title><p>body</p>",
    "<ul><li>a<li>b<li>c</ul>",
    "<a href=x>link</a> prose around the anchor goes here ok",
    "<img src=a.png><p>between</p><video src='v.mp4'>fallback</video>",
    "<iframe src=f.html><p>never shown</p></iframe><p>shown</p>",
    "< not a tag <1 also not <p>real</p> trailing <",
    "</stray></p><p>recover</p></html>",
    "<textarea>dropped &amp; raw</textarea><p>kept</p>",
    "<table><tr><td>a<td>b<tr><td>c</table>",
    "<!-- comment --><!DOCTYPE html><![CDATA[x]]><?pi?><p>doc</p>",
    "<p>unterminated <b attr='",
    "<script>never closed raw",
    "<SELECT><OPTION>x</SELECT><p>after select</p>",
    "<head><meta x><p>body starts</head><p>more",
    "<x123 9=>< p>odd</ p>",
    "\x00<p>nul</p>\x00",
    "<p>" + "word " * 50 + "<br>" + "tail " * 30,
]
# default, fragment + base_url, and every threshold off
_OPTION_MODES = [
    ExtractOptions(),
    ExtractOptions(fragment=True, base_url="http://e.x/a/"),
    ExtractOptions(min_block_chars=0, min_text_density=0.0, max_link_density=1.0),
]


def _with_examples(cases):
    def deco(f):
        for c in cases:
            f = example(c)(f)
        return f

    return deco


@settings(max_examples=300, deadline=None)
@_with_examples(_ADVERSARIAL)
@given(_any_text)
def test_extract_never_raises_and_is_well_formed(s):
    for opts in _OPTION_MODES:
        for kind, text, ref in extract_html(s, opts):
            assert kind in ("text", "media")
            if kind == "text":
                assert text and ref is None
                assert text == " ".join(text.split())  # A25 collapse invariant
            else:
                assert ref and text is None


_options = st.builds(
    ExtractOptions,
    base_url=st.sampled_from([None, "http://e.x/a/"]),
    max_link_density=st.floats(-1.0, 2.0),
    min_text_density=st.floats(-1.0, 60.0),
    min_block_chars=st.integers(-1, 60),
    fragment=st.booleans(),
)


@settings(max_examples=300, deadline=None)
@example("plain words here long enough to be a block of text",
         ExtractOptions(max_link_density=-0.5))
@given(st.one_of(_markupish, st.text(max_size=200)).map(lambda s: s.replace("<", "")), _options)
def test_no_markup_fast_path_matches_token_loop(t, opts):
    # the "<"-free fast path must apply every rule the loop applies to
    # the same text as a single block
    assert extract_html(t, opts) == extract_html("<p>" + t + "</p>", opts)


@settings(max_examples=300, deadline=None)
@given(_any_text)
def test_repair_produces_balanced_events(s):
    depth = 0
    for ev in repair(tokenize(s)):
        if ev[0] == "open":
            depth += 1
        elif ev[0] == "close":
            depth -= 1
        assert depth >= 0  # close never precedes its open
    assert depth == 0  # A17: EOF closes everything


@settings(max_examples=200, deadline=None)
@given(_any_text)
def test_repair_is_idempotent_on_serialized_form(s):
    """Serialized repaired output is already well-formed: reparsing and
    re-repairing it must be a fixed point (tag structure stable)."""
    once = serialize(repair(tokenize(s)))
    twice = serialize(repair(tokenize(once)))
    assert once == twice


@settings(max_examples=200, deadline=None)
@given(st.binary(max_size=400))
def test_decode_bytes_never_raises(b):
    decode_html_bytes(b)


@settings(max_examples=200, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.sampled_from(["html", "pdf", "media", "junk"]),
            st.one_of(st.none(), _any_text),
            st.one_of(st.none(), st.text(max_size=30)),
        ),
        max_size=6,
    )
)
def test_extract_doc_offsets_contiguous(spans):
    kinds = [s[0] for s in spans]
    texts = [s[1] for s in spans]
    refs = [s[2] for s in spans]
    offs = list(range(len(spans)))
    k, t, m, o = extract_doc(kinds, texts, refs, offs)
    assert o == list(range(len(k)))  # output ordinals 0..m-1
    assert len(k) == len(t) == len(m)


@settings(max_examples=300, deadline=None)
@given(_any_text)
def test_selector_never_raises_on_any_document(s):
    from xkit.selector import select_html

    for kind, text, ref in select_html(
        s,
        "div.a > p[x], script, * @id, p:last-child, b:nth-last-child(2n+1), "
        "i:only-of-type, p:nth-of-type(2), a:nth-last-of-type(odd), "
        "div:not(.a):not(:first-child)",
    ):
        assert kind in ("text", "media")
        assert (kind == "media") == (ref is not None)


@settings(max_examples=200, deadline=None)
@given(_any_text)
def test_selector_last_child_one_per_nonempty_parent(s):
    """`*:last-child` matches exactly one element per parent that has
    any element child — the two-pass counting totals must agree with
    the stream itself on EVERY parent."""
    from xkit.selector import select_html

    n_parents = 0
    depth_has_child = [False]  # index = depth; root at 0
    for ev in repair(tokenize(s)):
        if ev[0] == "open":
            if not depth_has_child[-1]:
                n_parents += 1
                depth_has_child[-1] = True
            depth_has_child.append(False)
        elif ev[0] == "close":
            depth_has_child.pop()
    assert len(select_html(s, "*:last-child")) == n_parents


@settings(max_examples=200, deadline=None)
@given(_any_text)
def test_selector_star_counts_every_element(s):
    """`*` matches every repaired element exactly once — the span count
    must equal the number of open events."""
    from xkit.selector import select_html

    n_open = sum(1 for ev in repair(tokenize(s)) if ev[0] == "open")
    assert len(select_html(s, "*")) == n_open


@settings(max_examples=150, deadline=None)
@given(_any_text)
def test_xml_safe_serialization_names_are_valid(s):
    """A19: every tag/attr name serialized with xml_safe=True matches
    the valid-XML-name grammar."""
    import re

    from xkit.dom import sanitize_xml_name

    name_re = re.compile(r"^[A-Za-z_][A-Za-z0-9_.\-]*$")
    for ev in repair(tokenize(s)):
        if ev[0] == "open":
            assert name_re.match(sanitize_xml_name(ev[1]))
            for k in ev[2]:
                assert name_re.match(sanitize_xml_name(k))


@settings(max_examples=200, deadline=None)
@given(st.binary(max_size=500))
def test_pdf_extract_never_raises_on_bytes(b):
    from xkit.pdfmini import extract_pdf_text

    for variant in (b, b"%PDF-1.4\n" + b):
        for block in extract_pdf_text(variant):
            assert isinstance(block, str) and block.strip() == block


@settings(max_examples=100, deadline=None)
@given(st.lists(st.text(alphabet="ab c", max_size=40), max_size=8), st.text(alphabet="abc ", max_size=30))
def test_bpe_roundtrip_any_corpus(texts, probe):
    from xkit.bpe import BPE, END, train_bpe

    enc = BPE(train_bpe(texts, n_merges=30))
    for w in probe.split():
        assert "".join(enc.encode_word(w)) == w + END


_xpath_step = st.one_of(
    st.sampled_from(["div", "p", "a", "li", "td", "span", "*"]),
    st.builds(
        lambda t, a: f"{t}[@{a}]",
        st.sampled_from(["div", "a", "*"]),
        st.sampled_from(["href", "class", "id", "data-x"]),
    ),
    st.builds(
        lambda t, a, v: f"{t}[@{a}='{v}']",
        st.sampled_from(["div", "a"]),
        st.sampled_from(["href", "class"]),
        st.text(alphabet="abc/:.x-", max_size=8),
    ),
    st.builds(lambda t, n: f"{t}[{n}]", st.sampled_from(["li", "td", "*"]),
              st.integers(1, 9)),
    st.builds(lambda t: f"{t}[last()]", st.sampled_from(["li", "*"])),
)


@settings(max_examples=300, deadline=None)
@given(
    st.lists(_xpath_step, min_size=1, max_size=4),
    st.lists(st.sampled_from(["/", "//"]), min_size=3, max_size=3),
    st.sampled_from(["", "/@href", "/text()"]),
)
def test_xpath_subset_always_compiles_to_valid_selector(steps, seps, tail):
    """Every expression inside the documented subset must translate to
    a selector the selector grammar ACCEPTS — the translator never
    emits syntax the evaluator rejects."""
    from xkit.selector import parse_selector
    from xkit.xpath import xpath_to_selector

    xp = "//" + steps[0]
    for i, s in enumerate(steps[1:]):
        xp += seps[i % 3] + s
    xp += tail
    sel = xpath_to_selector(xp)
    parse_selector(sel)  # must not raise


@settings(max_examples=300, deadline=None)
@given(st.text(max_size=60))
def test_xpath_translator_never_crashes_unhelpfully(s):
    """Arbitrary input either translates (to a selector the evaluator
    accepts) or raises ValueError — never any other exception type."""
    from xkit.selector import parse_selector
    from xkit.xpath import xpath_to_selector

    try:
        sel = xpath_to_selector(s)
    except ValueError:
        return
    parse_selector(sel)


# ---- WARC container (round 4): same never-fail discipline for the
# binary side — arbitrary bytes, mutated archives, hostile headers ----

_warc_ish = st.one_of(
    st.binary(max_size=400),
    # byte soup biased toward WARC framing states
    st.text(
        alphabet=st.sampled_from(
            list("WARC/1.0\r\n:Content-Length -0123456789abcdef\x1f\x8b\x00")
        ),
        max_size=400,
    ).map(lambda s: s.encode("latin-1")),
)


@settings(max_examples=300, deadline=None)
@given(_warc_ish)
def test_iter_warc_never_raises_never_hangs(data):
    from xkit.warc import http_payload, iter_warc, iter_warc_offsets

    n = len(list(iter_warc(data)))
    assert n <= max(1, len(data))  # bounded: cannot loop forever
    for rec, off, length in iter_warc_offsets(data):
        assert 0 <= off <= len(data) and length >= 0
        http_payload(rec)  # must also never raise


def _archive(blocks: list, noise: bytes, cut: int) -> bytes:
    from xkit.warc import build_record

    data = b"".join(build_record("response", b) for b in blocks) + noise
    return data[: max(0, len(data) - cut)]


# plain (non-gzip) WARC bytes: real records, then soup and a cut
_plain_warc = st.one_of(
    _warc_ish,
    st.builds(
        _archive,
        st.lists(st.binary(max_size=40), max_size=4),
        st.binary(max_size=30),
        st.integers(0, 60),
    ),
).filter(lambda d: d[:2] != b"\x1f\x8b")


@settings(max_examples=200, deadline=None)
@given(_plain_warc)
@example(b"WARC/1.0\r\nContent-Length: -5\r\n\r\nWARC/1.0\r\n")
def test_iter_warc_and_offsets_agree_on_plain_bytes(data):
    """On plain WARC bytes the two readers share one framing loop:
    iter_warc_offsets yields iter_warc's (headers, block) sequence."""
    from xkit.warc import iter_warc, iter_warc_offsets

    plain = [(r.headers, r.block) for r in iter_warc(data)]
    ranged = [(r.headers, r.block) for r, _, _ in iter_warc_offsets(data)]
    assert ranged == plain


@settings(max_examples=150, deadline=None)
@given(st.binary(max_size=60), st.integers(0, 3))
def test_iter_warc_mutated_real_archive(noise, cut):
    """A REAL archive with random bytes spliced in (and optionally
    truncated) parses some prefix and stops — never raises, never
    yields structurally impossible records."""
    from tests.warc_fixtures import build_warc
    from xkit.warc import build_record, iter_warc

    recs = [build_record("response", b"block %d" % i) for i in range(4)]
    data = build_warc(recs, compress=False)
    mid = len(data) // 2
    mutated = data[:mid] + noise + data[mid + cut :]
    out = list(iter_warc(mutated))
    assert len(out) <= 8
    for rec in out:
        assert isinstance(rec.headers, dict)


# ---------------------------------------------------- :has witness modes

_HAS_TAGS = ("p", "b", "i", "s", "div")
_soup_tok = st.sampled_from(
    [f"<{t}>" for t in _HAS_TAGS]
    + [f"</{t}>" for t in _HAS_TAGS]
    + ["x", "y ", "z"]
)
_soup = st.lists(_soup_tok, max_size=60).map("".join)


def _naive_has_matches(s: str, subj: str, wit: str, mode: str):
    """Brute-force reference for X:has(Y)/:has(> Y)/:has(~ Y) and the
    document-order pseudos X:after(Y)/X:before(Y): build the repaired
    tree explicitly, test each element by definition, emit
    (text, collapsed-subtree-text, None) spans in document-open order."""
    from xkit.extract import _collapse

    nodes: list = []  # {"tag", "children", "text", "has_desc_tag": set}
    roots: list = []
    stack: list = []
    for ei, ev in enumerate(repair(tokenize(s))):
        k = ev[0]
        if k == "open":
            nid = len(nodes)
            nodes.append(
                {"tag": ev[1], "children": [], "text": [], "dt": set(),
                 "open": ei, "close": None}
            )
            (nodes[stack[-1]]["children"] if stack else roots).append(nid)
            stack.append(nid)
        elif k == "close":
            nid = stack.pop()
            nodes[nid]["close"] = ei
            if stack:
                p = stack[-1]
                nodes[p]["dt"] |= nodes[nid]["dt"] | {nodes[nid]["tag"]}
        elif k == "text":
            for a in stack:
                nodes[a]["text"].append(ev[1])
    sib_lists = [roots] + [n["children"] for n in nodes]
    wit_closes = [n["close"] for n in nodes if n["tag"] == wit]
    wit_opens = [n["open"] for n in nodes if n["tag"] == wit]
    out = []
    for nid, n in enumerate(nodes):
        if n["tag"] != subj:
            continue
        if mode == "desc":
            ok = wit in n["dt"]
        elif mode == "child":
            ok = any(nodes[c]["tag"] == wit for c in n["children"])
        elif mode == "after":
            # XPath following::: some witness CLOSED before this OPEN
            ok = bool(wit_closes) and min(wit_closes) < n["open"]
        elif mode == "before":
            # XPath preceding::: some witness OPENS after this CLOSE
            ok = bool(wit_opens) and max(wit_opens) > n["close"]
        else:  # sib: a FOLLOWING sibling matches
            ok = False
            for sibs in sib_lists:
                if nid in sibs:
                    i = sibs.index(nid)
                    ok = any(nodes[c]["tag"] == wit for c in sibs[i + 1 :])
                    break
        if ok:
            out.append(("text", _collapse("".join(n["text"])), None))
    return out


@settings(max_examples=400, deadline=None)
@given(
    _soup,
    st.sampled_from(_HAS_TAGS),
    st.sampled_from(_HAS_TAGS),
    st.sampled_from(["desc", "child", "sib", "after", "before"]),
)
def test_has_witness_modes_match_naive_reference(s, subj, wit, mode):
    """The registry-indexed witness machinery (desc buckets, depth-keyed
    child/sib buckets, tail-pop deregistration, parent-close flush) and
    the document-order watermark pseudos (:after/:before — XPath
    following::/preceding::) must agree with a brute-force tree
    evaluation on arbitrary tag soup."""
    from xkit.selector import select_html

    sel = {
        "desc": f"{subj}:has({wit})",
        "child": f"{subj}:has(> {wit})",
        "sib": f"{subj}:has(~ {wit})",
        "after": f"{subj}:after({wit})",
        "before": f"{subj}:before({wit})",
    }[mode]
    assert select_html(s, sel) == _naive_has_matches(s, subj, wit, mode)


@settings(max_examples=300, deadline=None)
@given(
    st.lists(st.sampled_from(["p", "b", "i"]), min_size=0, max_size=12),
    st.sampled_from(["=", "!=", "<=", "<", ">=", ">"]),
    st.integers(min_value=0, max_value=8),
    st.booleans(),
)
def test_xpath_position_arithmetic_matches_definition(tags, op, n, vs_last):
    """//p[position() OP rhs] must equal the by-definition filter over
    same-tag child positions — for every comparison operator, against
    both integer and last()-K right-hand sides, including the
    never-satisfiable corners (the an+b mapping table is easy to get
    wrong one-off)."""
    from xkit.xpath import select_html_xpath

    html = "".join(f"<{t}>{i}</{t}>" for i, t in enumerate(tags))
    rhs = f"last()-{n}" if vs_last else str(n)
    got = select_html_xpath(html, f"//p[position() {op} {rhs}]")
    ps = [i for i, t in enumerate(tags) if t == "p"]
    total = len(ps)
    import operator as _op

    cmp = {"=": _op.eq, "!=": _op.ne, "<=": _op.le,
           "<": _op.lt, ">=": _op.ge, ">": _op.gt}[op]
    bound = (total - n) if vs_last else n
    expect = [
        ("text", str(doc_i), None)
        for pos_1, doc_i in enumerate(ps, start=1)
        if cmp(pos_1, bound)
    ]
    assert got == expect, (html, op, rhs, got, expect)
