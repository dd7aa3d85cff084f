"""Golden-file correctness gate (BASELINE.json north_rule).

Re-expression of the reference parser-test corpus ([P:
XHtmlKit.Tests/HtmlParserTests.cs] et al., SURVEY.md §5) as frozen
goldens: for every extraction case, output must be span-sequence-equal
— (kind, text, media_ref, order) — to the pinned expectation. Goldens
are authored-as-spec (reference dir is empty, SURVEY.md §0) and
committed; each case holds its own inputs, and ``tests/goldens.py``
turns a case into its output for these tests and for
``scripts/gen_goldens.py`` alike. The selector and markdown sets run
the same rule in tests/test_selector.py and tests/test_markdown.py.
"""

from __future__ import annotations

import json

import pytest

from tests import goldens

_CASES = [
    pytest.param(case, id=f"{stem}/{case['name']}")
    for stem, case in goldens.cases("extract")
]


@pytest.mark.parametrize("case", _CASES)
def test_golden_span_sequence_equality(case):
    assert goldens.actual("extract", case) == case["expected_spans"]


def test_golden_corpus_is_nontrivial():
    # guard against an accidentally emptied golden dir silently passing
    counts = {s: len(goldens.cases(s)) for s in ("extract", "selector", "markdown")}
    assert counts["extract"] >= 100 and counts["selector"] >= 80, counts
    assert counts["markdown"] >= 20, counts


def test_regenerate_reproduces_every_committed_file():
    # the generator and the committed JSON cannot drift apart unseen
    for path in goldens.FILES:
        text, changed = goldens.regenerate(path)
        assert changed == [], path
        assert text.encode("utf-8") == path.read_bytes(), path


def test_regenerate_fills_missing_and_restores_altered_expectations(tmp_path):
    src = goldens.GOLDEN_DIR / "pdf_dialect.json"
    before = goldens.load(src)
    work = [dict(c) for c in before]
    stripped, altered = work[5], work[9]
    assert "note" in stripped and "note" in altered and altered["expected_spans"]
    del stripped["expected_spans"]
    altered["expected_spans"] = []
    path = tmp_path / src.name
    path.write_text(json.dumps({"cases": work}, ensure_ascii=False), encoding="utf-8")

    text, changed = goldens.regenerate(path)

    assert changed == [stripped["name"], altered["name"]]
    assert json.loads(text)["cases"] == before  # names, order, inputs, notes
