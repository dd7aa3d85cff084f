"""Fused multi-projection (xkit.doc.project_doc): one tokenize, N views —
each view must be IDENTICAL to its single-projection twin."""

from __future__ import annotations

import random

from tests import goldens
from xkit.doc import extract_doc, project_doc
from xkit.options import ExtractOptions

from xhtmlkit_spark.operators.markdown_stage import markdown_doc
from xhtmlkit_spark.operators.normalize_stage import normalize_doc


def _assert_consistent(k, t, m, o, opts):
    spans, md, xh = project_doc(k, t, m, o, opts, want_xhtml=True)
    assert spans == extract_doc(k, t, m, o, opts)
    assert md == markdown_doc(k, t, o, fragment=opts.fragment, base=opts.base_url)
    assert xh == normalize_doc(k, t, o, fragment=opts.fragment)


def test_project_matches_single_stages_on_all_goldens():
    cases = goldens.cases("extract")
    for _, case in cases:
        _assert_consistent(*goldens.span_inputs(case), goldens.options(case))
    assert len(cases) >= 100  # the whole span-golden corpus ran


def test_project_matches_single_stages_on_fuzz():
    rng = random.Random(7)
    alphabet = "<>/abp=\"'& ;!-x \n\t<li><table><a href='u'>é"
    for _ in range(200):
        s = "".join(rng.choice(alphabet) for _ in range(rng.randrange(0, 200)))
        _assert_consistent(["html"], [s], [None], [0], ExtractOptions())


def test_project_mixed_kinds_and_nulls():
    from xkit.pdfmini import make_fixture_pdf

    k = ["html", "pdf", "media", "html", "mystery"]
    t = ["<p>alpha</p>", make_fixture_pdf([["pdf text"]]), None, None, "zz"]
    m = [None, None, "s3://img.png", None, None]
    o = [0, 1, 2, 3, 4]
    _assert_consistent(k, t, m, o, ExtractOptions())
    spans, md, xh = project_doc(k, t, m, o, want_xhtml=True)
    assert "pdf text" in spans[1]
    assert md == "alpha"  # pdf/media never enter markdown
    assert spans[0][-1] == "media"


def test_project_xhtml_opt_out_is_none():
    (_, md, xh) = project_doc(["html"], ["<p>x</p>"], [None], [0])
    assert md == "x" and xh is None
