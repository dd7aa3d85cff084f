"""HTML → Markdown projection (xkit/markdown.py + the Spark stage).

The dialect is frozen by the markdown golden set (run through
tests/goldens.py like every other golden set); the Spark column stage
must agree with the pure-Python path byte-for-byte on the shared
synthetic corpus.
"""

from __future__ import annotations

import pytest

from tests import goldens
from xkit.markdown import html_to_markdown, to_markdown
from xkit.options import ExtractOptions

_CASES = [pytest.param(c, id=c["name"]) for _, c in goldens.cases("markdown")]


@pytest.mark.parametrize("case", _CASES)
def test_markdown_golden(case):
    assert goldens.actual("markdown", case) == case["expected_markdown"]


def test_markdown_golden_corpus_is_nontrivial():
    assert len(_CASES) >= 20


def test_markdown_never_raises_on_fuzz_garbage():
    # A17 carries over: repaired events always render
    import random

    rng = random.Random(42)
    alphabet = "<>/ab=\"'& ;!-x\n\t\x00é一"
    for _ in range(300):
        s = "".join(rng.choice(alphabet) for _ in range(rng.randrange(0, 120)))
        out = html_to_markdown(s)
        assert isinstance(out, str)


def test_markdown_fragment_mode_keeps_title():
    # fragment snippets have no document head: title text is content
    html = "<title>T</title><p>body</p>"
    assert "T" not in html_to_markdown(html)
    assert "T" in html_to_markdown(html, ExtractOptions(fragment=True))


def test_to_markdown_empty_events():
    assert to_markdown([]) == ""


def test_no_block_jumps_ahead_of_table_between_cells():
    """Regression (round-4 review): hr/pre BETWEEN cells (not just
    inside an open cell) must not emit a block before the table — the
    table block only lands at </table>."""
    from xkit.dom import repair
    from xkit.markdown import to_markdown
    from xkit.tokenizer import tokenize

    md = to_markdown(repair(tokenize("<table><tr><td>a</td><hr><td>b</td></tr></table>")))
    assert not md.startswith("---")
    assert "---\n\n|" not in md
    md2 = to_markdown(repair(tokenize("<table><tr><td>a</td><pre>X</pre><td>b</td></tr></table>")))
    assert "```" not in md2
    assert md2.index("| a | b |") < md2.index("X")  # content after, never ahead
