"""Recompute the expected output of every golden case (tests/golden/**/*.json).

The golden files are the frozen spec of extraction, selector and markdown
semantics, and each case holds its own inputs. This script recomputes only
each case's ``expected_*`` field with the current implementation (through
``tests/goldens.py``, the same rule the golden tests check), prints every
case whose expectation changed or was missing, and writes the file back.
It never adds, drops, renames or reorders a case.

To add a case, append an input-only record (``name``, an optional ``note``,
the inputs) to a golden file and run this script. A run that prints a case
you did not mean to change is a semantics change: review it, and
``git diff tests/golden``, before committing.

Run: python scripts/gen_goldens.py
"""

from __future__ import annotations

import json
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from tests import goldens  # noqa: E402


def main() -> int:
    total = 0
    for path in goldens.FILES:
        text, changed = goldens.regenerate(path)
        key = goldens.expected_key(goldens.set_of(path))
        cases = {c["name"]: c for c in json.loads(text)["cases"]}
        for name in changed:
            print(f"[{path.relative_to(goldens.GOLDEN_DIR)} :: {name}]")
            print(json.dumps(cases[name][key], indent=1, ensure_ascii=False))
        if text.encode("utf-8") != path.read_bytes():
            path.write_text(text, encoding="utf-8")
            print("wrote", path.relative_to(goldens.GOLDEN_DIR.parent.parent))
        total += len(changed)
    print(f"{total} changed case(s) in {len(goldens.FILES)} golden files")
    return 0


if __name__ == "__main__":
    sys.exit(main())
