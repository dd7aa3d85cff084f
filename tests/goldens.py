"""The golden cases under ``tests/golden/``: the one module that reads them
and the one rule that turns a case into its output.

Each file is ``{"cases": [...]}`` and each case holds its name, an
optional ``note`` (read by nobody), its inputs and one ``expected_*``
field. A file's directory names its set:

* ``extract`` (the top-level files): ``extract_doc`` over ``spans``,
  ``raw_b64`` or ``html`` → ``expected_spans``
* ``selector``: ``select_html`` over ``html``/``selector``/``emit`` →
  ``expected_spans``
* ``markdown``: ``html_to_markdown`` over ``html`` → ``expected_markdown``

``options`` (extra ``ExtractOptions`` kwargs) and ``base_url`` apply to
every set. Not a test module: the golden tests and
``scripts/gen_goldens.py`` import it.
"""

from __future__ import annotations

import base64
import json
from pathlib import Path

from xkit.doc import extract_doc
from xkit.markdown import html_to_markdown
from xkit.options import ExtractOptions
from xkit.selector import select_html

GOLDEN_DIR = Path(__file__).resolve().parent / "golden"
FILES = sorted(GOLDEN_DIR.rglob("*.json"))


def set_of(path: Path) -> str:
    name = path.parent.name
    return name if name in ("selector", "markdown") else "extract"


def expected_key(set_: str) -> str:
    return "expected_markdown" if set_ == "markdown" else "expected_spans"


def load(path: Path) -> list:
    return json.loads(path.read_text(encoding="utf-8"))["cases"]


def cases(set_: str) -> list:
    """``(file stem, case)`` for every case of one set, in file order."""
    return [(p.stem, c) for p in FILES if set_of(p) == set_ for c in load(p)]


def options(case: dict) -> ExtractOptions:
    kwargs = dict(case.get("options") or {})
    if case.get("base_url"):
        kwargs["base_url"] = case["base_url"]
    return ExtractOptions(**kwargs)


def span_inputs(case: dict) -> tuple:
    """An extraction case's input as ``extract_doc``'s parallel lists."""
    if "spans" in case:
        sp = case["spans"]
        return (
            [s["kind"] for s in sp],
            [s["text"] for s in sp],
            [s["media_ref"] for s in sp],
            [s["offset"] for s in sp],
        )
    if "raw_b64" in case:
        return ["html"], [base64.b64decode(case["raw_b64"])], [None], [0]
    return ["html"], [case["html"]], [None], [0]


def _span_dicts(rows) -> list:
    return [
        {"kind": k, "text": t, "media_ref": m, "offset": o} for k, t, m, o in rows
    ]


def actual(set_: str, case: dict):
    """What the implementation gives for ``case``: its ``expected_*`` value."""
    opts = options(case)
    if set_ == "markdown":
        return html_to_markdown(case["html"], opts)
    if set_ == "selector":
        rows = select_html(
            case["html"], case["selector"], opts, emit=case.get("emit", "text")
        )
        return _span_dicts((k, t, m, i) for i, (k, t, m) in enumerate(rows))
    return _span_dicts(zip(*extract_doc(*span_inputs(case), options=opts)))


def regenerate(path: Path) -> tuple:
    """``(new text, changed names)`` for one golden file: each case's
    ``expected_*`` recomputed in place, where ``changed`` names the cases
    whose expectation differed or was missing. Names, order, inputs and
    notes are never touched."""
    set_, data = set_of(path), json.loads(path.read_text(encoding="utf-8"))
    key, changed = expected_key(set_), []
    for case in data["cases"]:
        got = actual(set_, case)
        if key not in case or case[key] != got:
            changed.append(case["name"])
        case[key] = got
    return json.dumps(data, indent=1, ensure_ascii=False), changed
