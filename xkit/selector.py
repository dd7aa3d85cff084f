"""CSS-selector-lite over the repaired DOM (SURVEY.md A27 analogue).

The reference's user-facing query surface is XPath/LINQ over the
repaired tree ([P: XHtmlKit README.md] — parse, then query with
``SelectNodes``/LINQ). This module re-expresses the high-frequency
subset of that capability as a small CSS-style selector evaluated over
the same repaired event stream the extractor consumes — no XmlDocument
is ever built (SURVEY.md §1.2 span-first architecture).

Supported grammar (frozen by tests/golden/selector/selectors.json):

    group    := selector ("," selector)*          match any alternative
    selector := compound ((ws | ws? (">"|"+"|"~") ws?) compound)* (ws "@" name)?
    compound := [tag | "*"] ("#" id)? ("." class)* attr* pseudo*
    attr     := "[" name (("=" | "^=" | "$=" | "*=" | "~=") value)? "]"
    pseudo   := ":first-child" | ":last-child" | ":only-child"
              | ":first-of-type" | ":last-of-type" | ":only-of-type"
              | (":nth-child(" | ":nth-last-child(" | ":nth-of-type("
                 | ":nth-last-of-type(") (int|odd|even|an+b) ")"
              | ":not(" compound ")" | ":root"
              | ":has(" (">"|"~")? compound ")"   (subject compound only)
              | (":after(" | ":before(") compound ")"     (subject only)
              | (":contains(" | ":text-is(") string ")"   (subject only)

* whitespace between compounds is the DESCENDANT combinator; ``>``
  (with or without surrounding whitespace) is the CHILD combinator;
  ``+`` is the ADJACENT-SIBLING and ``~`` the GENERAL-SIBLING
  combinator (both sides element siblings, text/comments ignored)
* ``:first-child`` / ``:nth-child(an+b)`` test the element's 1-based
  position among its parent's element children (CSS semantics);
  ``:last-child`` / ``:nth-last-child(an+b)`` count from the end —
  they need each parent's FINAL child count, so a selector carrying
  one pays a single counting PRE-PASS over the same deterministic
  event stream (selectors without them keep the one-pass cost);
  ``:only-child`` ≡ ``:first-child:last-child``; the ``-of-type``
  family counts among SAME-TAG siblings only (from-the-end forms use
  the pre-pass's per-tag totals); ``:not(compound)`` negates one
  compound (no combinators, no nesting — CSS3-shaped) and evaluates
  with the same positional context, so ``p:not(:last-of-type)`` works
  (and triggers the pre-pass); ``:after(ctx)`` / ``:before(ctx)`` are
  the DOCUMENT-ORDER witness pseudos (XPath ``following::`` /
  ``preceding::`` compile onto them): the subject matches when it
  OPENS after some ctx element CLOSED, resp. CLOSES before some ctx
  element OPENS — strict event order, so ctx's ancestors and
  descendants match neither (exactly the axis node-sets); :after
  resolves at the subject's open (O(1) watermark), :before defers the
  capture until a ctx opens (like the ~ witness mode; both stay
  linear on 50k-wide/100k-deep adversarial docs); composed on one
  subject they give the between-markers idiom —
  ``p:after(h1):before(h2)`` selects content strictly between the two
  markers in document order; dynamic pseudos (``:hover``) stay out of
  scope (ValueError, not silently unmatched)
* ``@name`` (trailing) projects an ATTRIBUTE of the matched element
  instead of its subtree text — e.g. ``meta[property=og:title] @content``
* values may be bare, 'single'- or "double"-quoted; matching is
  case-sensitive (tag/attr NAMES are lowercased by the tokenizer, so
  selectors are case-insensitive there, like HTML); ``^=`` prefix,
  ``$=`` suffix, ``*=`` substring, ``~=`` whitespace-separated word —
  all CSS semantics, including "never match an empty value"

Semantics (querySelectorAll-like, frozen by the goldens):

* matches are emitted in document order of the element OPEN
* every matched element yields one span: media elements with a
  non-empty ``src`` yield ``("media", None, src)`` (absolutized
  against ``options.base_url`` when set); ``@attr`` projections yield
  ``("text", attr_value, None)`` (element skipped when the attribute
  is absent); everything else yields the element's whitespace-collapsed
  subtree text as ``("text", text, None)`` — empty text included,
  because a selector match is a fact about the document even when the
  element is empty
* nested matches each yield their own span (their texts overlap, as
  with querySelectorAll + textContent)
* ``:root`` matches elements with NO element ancestors (the document
  element; in fragment mode, every top-level element of the fragment)
  — it anchors absolute paths, e.g. XPath-lite's ``/div/p`` →
  ``div:root > p``
* ``:has(compound)`` matches when at least one DESCENDANT matches the
  compound (``div.card:has(img)`` — container filtering, XPath's
  ``//div[.//img]``). Allowed on the chain's SUBJECT (final) compound
  only: the verdict is known at the element's CLOSE, so the capture is
  created optimistically and dropped if no descendant satisfied it —
  an earlier compound would need the verdict while its descendants are
  still streaming by, which a single forward pass cannot provide
  (rejected loudly, like everything else out of scope). Several
  ``:has()`` on one compound AND together; nesting inside ``:not``/
  ``:has`` is rejected
* ``:has(> compound)`` narrows the witness to a DIRECT CHILD (XPath's
  ``parent::`` axis: ``//a/..`` → ``*:has(> a)``); ``:has(~ compound)``
  requires a FOLLOWING SIBLING witness (XPath's ``preceding-sibling::``
  axis: ``//a/preceding-sibling::b`` → ``b:has(~ a)``). The sibling
  form's verdict can land only after the subject's own close, so such
  captures wait until the shared parent closes — emission order is
  unchanged (document order of the element open), the wait just spans
  the sibling run instead of the subtree. Subject-compound-only, like
  every deferred pseudo
* ``:contains("s")`` matches when the element's whitespace-collapsed
  SUBTREE text contains ``s`` (case-sensitive, jQuery-style);
  ``:text-is("s")`` when it EQUALS ``s`` — the pragmatic mapping of
  XPath's ``[contains(text(),'s')]`` / ``[text()='s']`` (we test the
  collapsed subtree text, not a single text node; identical on leaf
  elements, where these predicates live in practice). Deferred like
  ``:has`` (verdict at close): subject compound only, rejected inside
  ``:not``/``:has``
* selection runs over the FULL repaired DOM — script/style/nav are NOT
  stripped (mirroring the reference, which keeps them in the tree and
  lets the query decide); RAWTEXT content is therefore selectable

Never-raise applies to DOCUMENTS (any input HTML is handled); a
malformed SELECTOR raises ``ValueError`` at parse time — that is a
caller bug, and the Spark operator parses once on the driver before
any executor sees it.
"""

from __future__ import annotations

from urllib.parse import urljoin

from xkit.doc import html_events
from xkit.dom import repair, serialize
from xkit.extract import MEDIA_TAGS, _collapse
from xkit.options import DEFAULT_OPTIONS, ExtractOptions
from xkit.tokenizer import tokenize

__all__ = [
    "parse_selector",
    "select_html",
    "select_events",
    "select_doc",
    "select_doc_multi",
]


class _Simple:
    """One compound selector: tag/id/classes/attr/pseudo tests."""

    __slots__ = (
        "tag", "id", "classes", "attrs", "pseudos", "last_pseudos",
        "of_type", "last_of_type", "nots", "root", "has", "texts",
    )

    def __init__(
        self, tag, id_, classes, attrs, pseudos=(), last_pseudos=(),
        of_type=(), last_of_type=(), nots=(), root=False, has=(),
        texts=(),
    ):
        self.tag = tag  # None = any
        self.id = id_
        self.classes = classes  # tuple[str, ...]
        self.attrs = attrs  # tuple[(name, op-or-None, value-or-None), ...]
        # structural pseudo-classes as (a, b) of nth-child's an+b
        # (:first-child ≡ (0, 1)); pos matches when pos = a·k + b, k ≥ 0
        self.pseudos = pseudos
        # same (a, b) form counted FROM THE END (:last-child ≡ (0, 1));
        # needs the parent's final child count from the counting pre-pass
        self.last_pseudos = last_pseudos
        # of-type variants: position among SAME-TAG siblings; the from-
        # the-end forms need the pre-pass's per-tag totals
        self.of_type = of_type
        self.last_of_type = last_of_type
        # :not(compound) negations — inner _Simple selectors that must
        # NOT match (evaluated with the same positional context)
        self.nots = nots
        # :root — element with NO element ancestors (in fragment mode
        # every top-level element of the fragment qualifies)
        self.root = root
        # :has(compound) requirements — each inner must match at least
        # one DESCENDANT. Deferred: matches() ignores them (a forward
        # pass can't know at open); the capture machinery tracks them
        # while the element is open and drops the capture at close if
        # any stayed unsatisfied. Subject-position only (parse-checked).
        self.has = has
        # :contains("s") / :text-is("s") — tests on the element's
        # whitespace-collapsed SUBTREE text, each ("contains"|"is", s).
        # Deferred like :has (the verdict needs the close); subject-
        # position only, parse-checked
        self.texts = texts

    @staticmethod
    def _anb(a: int, b: int, pos: int) -> bool:
        if a == 0:
            return pos == b
        d = pos - b
        return d % a == 0 and d // a >= 0

    def matches(
        self, tag: str, attrs: dict, pos: int = 1, total=None,
        sibs=(), idx=0, tag_totals=None, depth=None,
    ) -> bool:
        if self.tag is not None and tag != self.tag:
            return False
        # depth = number of open element ancestors (0 = top level);
        # None means the caller has no depth context — fail closed
        if self.root and depth != 0:
            return False
        for a, b in self.pseudos:
            if not self._anb(a, b, pos):
                return False
        for a, b in self.last_pseudos:
            # total is the parent's FINAL element-child count (pre-pass);
            # None means the pre-pass didn't run — defensive no-match
            if total is None or not self._anb(a, b, total - pos + 1):
                return False
        if self.of_type or self.last_of_type:
            pos_t = 1 + sum(1 for t, _ in sibs[:idx] if t == tag)
            for a, b in self.of_type:
                if not self._anb(a, b, pos_t):
                    return False
            for a, b in self.last_of_type:
                tot_t = tag_totals.get(tag) if tag_totals is not None else None
                if tot_t is None or not self._anb(a, b, tot_t - pos_t + 1):
                    return False
        for inner in self.nots:
            if inner.matches(tag, attrs, pos, total, sibs, idx, tag_totals, depth):
                return False
        if self.id is not None and attrs.get("id") != self.id:
            return False
        if self.classes:
            have = attrs.get("class", "").split()
            for c in self.classes:
                if c not in have:
                    return False
        for name, op, value in self.attrs:
            if name not in attrs:
                return False
            if op is None:
                continue  # presence test
            actual = attrs[name]
            if op == "=":
                if actual != value:
                    return False
            elif op == "~":
                if value == "" or value not in actual.split():
                    return False
            # CSS: ^= $= *= never match an empty needle
            elif op == "^":
                if not value or not actual.startswith(value):
                    return False
            elif op == "$":
                if not value or not actual.endswith(value):
                    return False
            elif op == "*":
                if not value or value not in actual:
                    return False
        return True


_NAME_END = frozenset(" \t\n\r\f.#[@,>+~:")

_NTH_RE = None  # compiled lazily (re imported only if pseudos are used)


def _parse_nth(arg: str, selector: str) -> tuple:
    """Parse an :nth-child argument — integer, odd, even, or an+b —
    into the (a, b) pair of pos = a·k + b."""
    global _NTH_RE
    a = arg.strip().lower()
    if a == "odd":
        return (2, 1)
    if a == "even":
        return (2, 0)
    if _NTH_RE is None:
        import re

        _NTH_RE = re.compile(r"^([+-]?\d*)n\s*([+-]\s*\d+)?$|^([+-]?\d+)$")
    m = _NTH_RE.match(a)
    if m is None:
        raise ValueError(f"bad :nth-child argument {arg!r} in selector {selector!r}")
    if m.group(3) is not None:
        return (0, int(m.group(3)))
    coef = m.group(1)
    a_val = {"": 1, "+": 1, "-": -1}.get(coef)
    if a_val is None:
        a_val = int(coef)
    b_val = int(m.group(2).replace(" ", "")) if m.group(2) else 0
    return (a_val, b_val)


def _parse_compound(s: str, i: int) -> tuple[_Simple, int]:
    n = len(s)
    tag = None
    id_ = None
    classes: list = []
    attrs: list = []
    pseudos: list = []
    last_pseudos: list = []
    of_type: list = []
    last_of_type: list = []
    nots: list = []
    root = False
    has: list = []
    texts_tests: list = []
    start = i
    while i < n and s[i] not in _NAME_END and s[i] != "]":
        i += 1
    if i > start:
        t = s[start:i].lower()
        tag = None if t == "*" else t
    elif i < n and s[i] == "*":  # lone * (defensive; loop consumes it above)
        i += 1
    matched_any = i > start
    while i < n:
        c = s[i]
        if c == ".":
            i += 1
            j = i
            while j < n and s[j] not in _NAME_END and s[j] != "]":
                j += 1
            if j == i:
                raise ValueError(f"empty class name at {i} in selector {s!r}")
            classes.append(s[i:j])
            i = j
            matched_any = True
        elif c == "#":
            i += 1
            j = i
            while j < n and s[j] not in _NAME_END and s[j] != "]":
                j += 1
            if j == i:
                raise ValueError(f"empty id at {i} in selector {s!r}")
            id_ = s[i:j]
            i = j
            matched_any = True
        elif c == "[":
            i += 1
            j = i
            while j < n and s[j] not in "=]^$*~":
                j += 1
            name = s[i:j].strip().lower()
            if not name:
                raise ValueError(f"empty attribute name at {i} in selector {s!r}")
            op = None
            if j < n and s[j] in "^$*~":
                op = s[j]
                j += 1
                if j >= n or s[j] != "=":
                    raise ValueError(f"expected = after {op} in selector {s!r}")
            if j < n and s[j] == "=":
                if op is None:
                    op = "="
                j += 1
                if j < n and s[j] in "\"'":
                    quote = s[j]
                    j += 1
                    k = s.find(quote, j)
                    if k < 0:
                        raise ValueError(f"unterminated quote in selector {s!r}")
                    value = s[j:k]
                    j = k + 1
                else:
                    k = s.find("]", j)
                    if k < 0:
                        raise ValueError(f"unterminated [ in selector {s!r}")
                    value = s[j:k]
                    j = k
                if j >= n or s[j] != "]":
                    raise ValueError(f"expected ] at {j} in selector {s!r}")
                i = j + 1
            else:
                if j >= n or s[j] != "]":
                    raise ValueError(f"unterminated [ in selector {s!r}")
                value = None
                i = j + 1
            attrs.append((name, op, value))
            matched_any = True
        elif c == ":":
            i += 1
            j = i
            while j < n and (s[j].isalpha() or s[j] == "-"):
                j += 1
            name = s[i:j].lower()
            _FIRSTS = {
                "first-child": (pseudos,),
                "last-child": (last_pseudos,),
                "only-child": (pseudos, last_pseudos),
                "first-of-type": (of_type,),
                "last-of-type": (last_of_type,),
                "only-of-type": (of_type, last_of_type),
            }
            _NTHS = {
                "nth-child": pseudos,
                "nth-last-child": last_pseudos,
                "nth-of-type": of_type,
                "nth-last-of-type": last_of_type,
            }
            if name in ("contains", "text-is"):
                if j >= n or s[j] != "(":
                    raise ValueError(f":{name} needs (arg) in selector {s!r}")
                depth_p, quote, k = 1, None, j + 1
                while k < n and depth_p:
                    ch = s[k]
                    if quote is not None:
                        if ch == quote:
                            quote = None
                    elif ch in "\"'":
                        quote = ch
                    elif ch == "(":
                        depth_p += 1
                    elif ch == ")":
                        depth_p -= 1
                    k += 1
                if depth_p:
                    raise ValueError(f"unterminated :{name}( in selector {s!r}")
                arg = s[j + 1 : k - 1].strip()
                if len(arg) >= 2 and arg[0] in "\"'" and arg[-1] == arg[0]:
                    arg = arg[1:-1]
                if not arg and name == "contains":
                    raise ValueError(
                        f":contains() needs a non-empty string in selector {s!r}"
                    )
                texts_tests.append(
                    ("contains" if name == "contains" else "is", arg)
                )
                i = k
            elif name in ("not", "has", "after", "before"):
                # :after(ctx) / :before(ctx) are the document-order
                # witness pseudos (XPath following:: / preceding::
                # compile onto them): the subject OPENS after some ctx
                # element CLOSED, resp. CLOSES before some ctx element
                # OPENS — strict event order, so ancestors/descendants
                # of ctx never match, exactly the axis semantics
                if j >= n or s[j] != "(":
                    raise ValueError(f":{name} needs (arg) in selector {s!r}")
                # balanced-paren scan (the inner compound may itself
                # contain parens — :nth-child(2n+1) — brackets, quotes)
                depth_p, quote, k = 1, None, j + 1
                while k < n and depth_p:
                    ch = s[k]
                    if quote is not None:
                        if ch == quote:
                            quote = None
                    elif ch in "\"'":
                        quote = ch
                    elif ch == "(":
                        depth_p += 1
                    elif ch == ")":
                        depth_p -= 1
                    k += 1
                if depth_p:
                    raise ValueError(f"unterminated :{name}( in selector {s!r}")
                inner_s = s[j + 1 : k - 1].strip()
                if any(p in inner_s for p in (":not", ":has", ":after", ":before")):
                    raise ValueError(
                        f"nested :not/:has/:after/:before in selector {s!r}"
                    )
                # :has accepts an optional leading combinator narrowing
                # the witness relation: '>' = direct child, '~' =
                # FOLLOWING sibling (CSS4 relative-selector shapes; the
                # XPath-lite parent:: / preceding-sibling:: axes compile
                # onto these). Bare compound = any descendant, as before.
                mode = "desc"
                if name == "has" and inner_s[:1] in (">", "~"):
                    mode = "child" if inner_s[0] == ">" else "sib"
                    inner_s = inner_s[1:].strip()
                inner, used = _parse_compound(inner_s, 0)
                if used != len(inner_s):
                    raise ValueError(
                        f":{name} argument must be one compound in selector {s!r}"
                    )
                if inner.texts:
                    # inner :not/:has compounds evaluate in matches(),
                    # which cannot see subtree text — reject rather than
                    # silently ignore the test
                    raise ValueError(
                        f":contains/:text-is inside :{name} in selector {s!r}"
                    )
                if name == "not":
                    nots.append(inner)
                elif name in ("after", "before"):
                    has.append((name, inner))
                else:
                    has.append((mode, inner))
                i = k
            elif name == "root":
                root = True
                i = j
            elif name in _FIRSTS:
                for dest in _FIRSTS[name]:
                    dest.append((0, 1))
                i = j
            elif name in _NTHS:
                if j >= n or s[j] != "(":
                    raise ValueError(f":{name} needs (arg) in selector {s!r}")
                k = s.find(")", j + 1)
                if k < 0:
                    raise ValueError(f"unterminated ( in selector {s!r}")
                _NTHS[name].append(_parse_nth(s[j + 1 : k], s))
                i = k + 1
            else:
                # :hover, :not(), etc. — out of scope, rejected loudly
                # rather than silently unmatched
                raise ValueError(f"unsupported pseudo-class :{name} in selector {s!r}")
            matched_any = True
        else:
            break
    if not matched_any:
        raise ValueError(f"expected selector at {start} in {s!r}")
    return (
        _Simple(
            tag, id_, tuple(classes), tuple(attrs), tuple(pseudos),
            tuple(last_pseudos), tuple(of_type), tuple(last_of_type),
            tuple(nots), root, tuple(has), tuple(texts_tests),
        ),
        i,
    )


def _split_alternatives(selector: str) -> list:
    """Split a selector group on TOP-LEVEL commas only — a ',' inside a
    quoted attribute value or inside [brackets] is selector content."""
    alts: list = []
    buf: list = []
    quote = None
    depth = 0
    for ch in selector:
        if quote is not None:
            buf.append(ch)
            if ch == quote:
                quote = None
        elif ch in "\"'":
            quote = ch
            buf.append(ch)
        elif ch == "[":
            depth += 1
            buf.append(ch)
        elif ch == "]":
            depth = max(0, depth - 1)
            buf.append(ch)
        elif ch == "," and depth == 0:
            alts.append("".join(buf))
            buf = []
        else:
            buf.append(ch)
    alts.append("".join(buf))
    return alts


def _find_projection_at(s: str) -> int:
    """Index of the projection '@' (top-level, whitespace-preceded,
    outside quotes/brackets) or -1. An '@' inside [attr="a @ b"] or
    [href=mailto:x@y] is value content, not a projection."""
    quote = None
    depth = 0
    at = -1
    for i, ch in enumerate(s):
        if quote is not None:
            if ch == quote:
                quote = None
        elif ch in "\"'":
            quote = ch
        elif ch == "[":
            depth += 1
        elif ch == "]":
            depth = max(0, depth - 1)
        elif ch == "@" and depth == 0 and i > 0 and s[i - 1] in " \t\n\r\f":
            at = i
    return at


def parse_selector(selector: str) -> list:
    """Parse a selector group → list of ((chain, rels), proj_attr)
    alternatives; chain is a tuple of _Simple compounds, rels carries
    each compound's combinator ("desc"/"child") to its predecessor,
    proj_attr is the ``@name`` attribute projection or None."""
    out = []
    for alt in _split_alternatives(selector):
        s = alt.strip()
        if not s:
            raise ValueError(f"empty alternative in selector {selector!r}")
        proj = None
        at = _find_projection_at(s)
        if at > 0:
            proj = s[at + 1 :].strip().lower()
            if not proj or any(ch in _NAME_END for ch in proj) or "]" in proj:
                raise ValueError(f"bad @attr projection in selector {selector!r}")
            s = s[:at].strip()
            if not s:
                raise ValueError(f"@attr needs a selector in {selector!r}")
        chain = []  # _Simple compounds
        # rels[k]: relation of chain[k] to chain[k-1] —
        # "desc" (whitespace), "child" (>), "adj" (+), "sib" (~)
        rels = []
        i = 0
        n = len(s)
        pending_rel = "desc"
        _COMBINATORS = {">": "child", "+": "adj", "~": "sib"}
        while i < n:
            while i < n and s[i] in " \t\n\r\f":
                i += 1
            if i < n and s[i] in _COMBINATORS:
                if not chain or pending_rel != "desc":
                    raise ValueError(f"misplaced {s[i]} in selector {selector!r}")
                pending_rel = _COMBINATORS[s[i]]
                i += 1
                continue
            if i >= n:
                break
            simple, i = _parse_compound(s, i)
            chain.append(simple)
            rels.append(pending_rel)
            pending_rel = "desc"
        if not chain:
            raise ValueError(f"empty selector in {selector!r}")
        if pending_rel != "desc":
            raise ValueError(f"dangling combinator in selector {selector!r}")
        # :has() decides at element CLOSE (deferred) — only the chain's
        # SUBJECT (final compound) can carry one; an earlier compound's
        # match verdict is needed while its descendants are still being
        # parsed, which a single forward pass cannot provide
        if any(c.has for c in chain[:-1]):
            raise ValueError(
                ":has()/:after()/:before() are only supported on the "
                f"subject compound in {selector!r}"
            )
        if any(c.texts for c in chain[:-1]):
            raise ValueError(
                ":contains()/:text-is() are only supported on the subject "
                f"compound in {selector!r}"
            )
        out.append(((tuple(chain), tuple(rels)), proj))
    return out


def _chain_matches(stack: list, chain: tuple, rels: tuple) -> bool:
    """stack: list of (tag, attrs, sibs, idx, total) descriptors with
    the candidate element on top; ``sibs`` is the parent's ordered list
    of element-children (tag, attrs) and ``idx`` the element's position
    in it (so preceding siblings are sibs[:idx] — safe to read later
    because a parent's child list cannot grow while a child is open);
    ``total`` is the parent's FINAL element-child count from the
    :last-child counting pre-pass (None when no last-of pseudo is in
    play — the pre-pass is skipped).

    The chain's last compound must match the top; earlier compounds
    match per their combinator — ``child`` pins the exact parent,
    ``desc`` any ancestor, ``adj`` the immediately-preceding sibling,
    ``sib`` any preceding sibling. Mixed chains need BACKTRACKING
    (greedy topmost matching misses e.g. ``a > b c`` when the topmost
    b's parent is not an a); chains are short and stacks shallow, so
    the recursion is cheap. Sibling steps stay at the same ancestor
    depth: the sibling's ancestors are the candidate's ancestors."""

    def match_elem(ci: int, anc_len: int, elem) -> bool:
        tag, attrs, sibs, idx, total, ttot = elem
        if not chain[ci].matches(tag, attrs, idx + 1, total, sibs, idx, ttot, anc_len):
            return False
        if ci == 0:
            return True
        rel = rels[ci]
        if rel == "child":
            return anc_len > 0 and match_elem(ci - 1, anc_len - 1, stack[anc_len - 1])
        if rel == "desc":
            for j in range(anc_len - 1, -1, -1):
                if match_elem(ci - 1, j, stack[j]):
                    return True
            return False
        if rel == "adj":
            if idx == 0:
                return False
            p = sibs[idx - 1]
            return match_elem(
                ci - 1, anc_len, (p[0], p[1], sibs, idx - 1, total, ttot)
            )
        # rel == "sib"
        for j in range(idx - 1, -1, -1):
            p = sibs[j]
            if match_elem(ci - 1, anc_len, (p[0], p[1], sibs, j, total, ttot)):
                return True
        return False

    return match_elem(len(chain) - 1, len(stack) - 1, stack[-1])


def select_html(
    html: str,
    selector,
    options: ExtractOptions = DEFAULT_OPTIONS,
    emit: str = "text",
) -> list:
    """Evaluate a selector over one HTML document.

    ``selector`` is a string or a pre-parsed :func:`parse_selector`
    result. Returns ordered ``(kind, text, media_ref)`` spans (see
    module doc for the per-match span rule).

    ``emit="html"`` switches the default projection from subtree TEXT
    to the match's serialized outer XHTML (the reference's
    ``SelectNodes(...)[i].OuterXml`` idiom): each match without an
    ``@attr`` projection yields ``("html", markup, None)`` where
    markup is the xml-safe canonical serialization of the element's
    repaired event slice — media elements included (their markup
    carries the src). ``emit="inner_html"`` is the ``InnerXml`` twin:
    the slice without the element's own open/close ('' for empty
    elements — a match is still a fact). ``@attr`` projections still
    yield attr values. Emitted "html" spans are corpus-shaped: the
    output of a markup selection can be fed back through
    extract/select as a subtree corpus.
    """
    groups = parse_selector(selector) if isinstance(selector, str) else selector
    # ONE tokenize+repair; the event list feeds the optional counting
    # pre-pass, the main walk, and (emit="html") the per-match
    # serialization slices
    events = repair(tokenize(html), fragment=options.fragment)
    return select_events(events, groups, options.base_url, emit)


def select_events(
    events: list, groups: list, base: str | None = None, emit: str = "text"
) -> list:
    """Evaluate pre-parsed selector ``groups`` over a pre-built
    repaired event list — the multi-query core: N queries over one
    document share ONE tokenize+repair (see select_doc_multi and the
    select_multi Spark stage), which at corpus scale means one
    scan+parse serving every query instead of one per query.
    :func:`select_html` is the single-query wrapper."""
    if emit not in ("text", "html", "inner_html"):
        raise ValueError(
            f"emit must be 'text', 'html' or 'inner_html', got {emit!r}"
        )
    want_html = emit != "text"
    inner_only = emit == "inner_html"
    # :last-child / :nth-last-child need each parent's FINAL element-
    # child count, which a single forward pass cannot know at element
    # open — so selectors carrying a last-of pseudo pay ONE counting
    # pre-pass over the same deterministic event stream (keyed by open
    # order, identical in both passes). Selectors without them skip it.
    totals: dict = {}
    tag_totals: dict = {}

    def _needs_pre(c) -> bool:  # :not()/:has() inners count too
        return bool(
            c.last_pseudos
            or c.last_of_type
            or any(_needs_pre(inner) for inner in c.nots)
            or any(_needs_pre(inner) for _, inner in c.has)
        )

    if any(_needs_pre(c) for (chain, _), _ in groups for c in chain):
        pstack = [-1]
        totals[-1] = 0
        tag_totals[-1] = {}
        pseq = 0
        for ev in events:
            if ev[0] == "open":
                par = pstack[-1]
                totals[par] += 1
                d = tag_totals[par]
                d[ev[1]] = d.get(ev[1], 0) + 1
                pstack.append(pseq)
                totals[pseq] = 0
                tag_totals[pseq] = {}
                pseq += 1
            elif ev[0] == "close":
                pstack.pop()
    stack: list = []  # (tag, attrs, sibs, idx, total, tag_totals) per open element
    parent_seqs: list = [-1]  # open-seq of the element at each depth-1
    # children_stack[d]: ordered (tag, attrs) element-children of the
    # element at stack depth d-1 (d=0 is the document root) — feeds
    # sibling combinators and :first-child/:nth-child positions
    children_stack: list = [[]]
    # [depth, proj, tag, attrs, texts-or-None, seq, cap_idx,
    #  pending-:has inners (emitted at close only when emptied),
    #  open event index (emit="html" serialization slice start),
    #  :contains/:text-is tests (checked on the subtree text at close)]
    captures: list = []
    results: list = []  # (seq, cap_idx, kind, text, media_ref)
    # :has witness registries, indexed by the INNER compound's identity
    # so each element open pays O(#distinct inners), never O(#pending
    # captures) — a 50k-sibling run with an unsatisfied :has(~ x) (or a
    # 50k-deep chain with :has(y)) must stay linear. Bucket layout:
    # [inner, cap, cap, ...]; ONE witness satisfies every cap in the
    # bucket (desc: all caps are open ancestors of the witness; child/
    # sib: the bucket is depth-keyed to exactly the caps this witness
    # serves), so satisfaction deletes the bucket wholesale. A capture
    # closing with an unsatisfied desc/child inner sits at its bucket's
    # TAIL (closes are LIFO over open order, and later-opened caps have
    # already closed and left), so close-time removal is a tail-pop and
    # "not at the tail / bucket gone" MEANS the inner was satisfied.
    desc_pend: dict = {}   # id(inner) -> bucket (witness = any descendant)
    child_pend: dict = {}  # witness 0-based depth -> {id(inner): bucket}
    sib_pend: dict = {}    # witness 0-based depth -> {id(inner): bucket}
    # :after/:before document-order witnesses (XPath following:: /
    # preceding::). :after resolves at the SUBJECT's open — after_unsat
    # holds each :after ctx compound until one matching element CLOSES
    # (after_stack marks matching frames at open; the first marked
    # close moves the id to after_closed, making every later subject
    # test O(1) set membership). :before defers like sib: the closed
    # capture waits in before_pend until ANY ctx element OPENS — one
    # witness flushes the whole bucket (all members closed earlier, so
    # the strict close<open order holds), later subjects re-register.
    after_unsat: dict = {
        id(h): h
        for (chain_, _), _p in groups
        for m, h in chain_[-1].has
        if m == "after"
    }
    has_after = bool(after_unsat)
    after_closed: set = set()
    after_stack: list = []
    before_pend: dict = {}
    # cap[7] counts unsatisfied inners; cap[10] is the static (mode,
    # inner) tuple; closed captures waiting on sib witnesses append
    # their close event index as cap[11] (the html slice needs it).
    # one (element, projection) emits at most once, whether the verdict
    # landed at close (finalized order: smallest cap_idx wins) or later
    # (sib satisfaction); seq is unique per element, so a global
    # (seq, proj) → results-index map is the close-local dedupe,
    # widened. A sib-deferred alternative finalizes AFTER the close-
    # time ones, so when it carries a SMALLER cap_idx the already-
    # emitted row's ordering key is updated in place (the payload is
    # element-determined and identical across alternatives) — the
    # documented smallest-cap_idx-wins rule holds across the deferral.
    emitted: dict = {}
    seq = 0
    n_caps = 0

    def _finalize(cap, close_ei):
        _, proj, ctag, cattrs, texts, cseq, cidx, _cnt, oei, ctests = cap[:10]
        if ctests:
            # text tests drop BEFORE the projection dedupe, so a failed
            # conditional alternative never shadows an unconditional one
            subtext = _collapse("".join(texts))
            if not all(
                (val in subtext) if op == "contains" else subtext == val
                for op, val in ctests
            ):
                return
        key = (cseq, proj)
        if key in emitted:
            ri = emitted[key]
            if ri is not None and cidx < results[ri][1]:
                r = results[ri]
                results[ri] = (r[0], cidx, r[2], r[3], r[4])
            return
        if proj is not None:
            value = cattrs.get(proj)
            # attribute absent: the (element, projection) is still
            # claimed (None slot) — later alternatives would project
            # the same absent attribute
            emitted[key] = len(results) if value is not None else None
            if value is not None:
                results.append((cseq, cidx, "text", value, None))
        elif want_html:
            # outer XHTML of the match: the event slice from its open to
            # its close is balanced by repair's construction, so it
            # serializes standalone; inner = the same slice without the
            # element's own open/close
            sl = (
                events[oei + 1 : close_ei]
                if inner_only
                else events[oei : close_ei + 1]
            )
            markup = serialize(sl, xml_safe=True)
            emitted[key] = len(results)
            results.append((cseq, cidx, "html", markup, None))
        elif ctag in MEDIA_TAGS and cattrs.get("src"):
            src = cattrs["src"]
            emitted[key] = len(results)
            results.append(
                (cseq, cidx, "media", None, urljoin(base, src) if base else src)
            )
        else:
            emitted[key] = len(results)
            results.append((cseq, cidx, "text", _collapse("".join(texts)), None))

    def _test_buckets(bdict, tag, attrs, idx, e_total, sibs, e_ttot, e_depth):
        # one witness satisfies every cap in a bucket (see the registry
        # comment); defined ONCE per evaluation — a per-element-open
        # closure would allocate on every open, :has present or not
        for key in list(bdict):
            entry = bdict[key]
            if entry[0].matches(
                tag, attrs, idx + 1, e_total, sibs, idx, e_ttot, e_depth
            ):
                for cap in entry[1:]:
                    cap[7] -= 1
                    if cap[7] == 0 and len(cap) == 12:
                        # already closed, was waiting on siblings
                        _finalize(cap, cap[11])
                del bdict[key]

    for ei, ev in enumerate(events):
        k = ev[0]
        if k == "text":
            t = ev[1]
            for cap in captures:
                if cap[4] is not None:
                    cap[4].append(t)
        elif k == "open":
            tag, attrs = ev[1], ev[2]
            sibs = children_stack[-1]
            idx = len(sibs)
            sibs.append((tag, attrs))
            ps = parent_seqs[-1]
            stack.append((tag, attrs, sibs, idx, totals.get(ps), tag_totals.get(ps)))
            parent_seqs.append(seq)
            children_stack.append([])
            # witness tests run BEFORE this element's own captures exist
            # (an element is not its own descendant/sibling): desc
            # buckets hold open ANCESTORS' captures; child buckets at
            # this 0-based depth hold the immediate parent's; sib
            # buckets at this depth hold closed earlier SIBLINGS'
            # (their shared parent is still open, or the bucket would
            # have been flushed at its close)
            e_total, e_ttot = stack[-1][4], stack[-1][5]
            e_depth = len(stack) - 1
            if desc_pend:
                _test_buckets(
                    desc_pend, tag, attrs, idx, e_total, sibs, e_ttot, e_depth
                )
            cb = child_pend.get(e_depth)
            if cb is not None:
                _test_buckets(cb, tag, attrs, idx, e_total, sibs, e_ttot, e_depth)
                if not cb:
                    del child_pend[e_depth]
            sb = sib_pend.get(e_depth)
            if sb is not None:
                _test_buckets(sb, tag, attrs, idx, e_total, sibs, e_ttot, e_depth)
                if not sb:
                    del sib_pend[e_depth]
            if before_pend:
                # a ctx OPEN flushes every :before-deferred capture —
                # they all closed strictly earlier
                _test_buckets(
                    before_pend, tag, attrs, idx, e_total, sibs, e_ttot, e_depth
                )
            if has_after:
                # mark frames whose close will arm an :after watermark
                marks = None
                if after_unsat:
                    for hid, h in after_unsat.items():
                        if h.matches(
                            tag, attrs, idx + 1, e_total, sibs, idx,
                            e_ttot, e_depth,
                        ):
                            if marks is None:
                                marks = []
                            marks.append(hid)
                after_stack.append(marks)
            projs_here = set()
            for (chain, rels), proj in groups:
                if proj in projs_here:
                    continue  # dedupe: element matched by 2 alternatives
                if _chain_matches(stack, chain, rels):
                    pending = chain[-1].has
                    if pending and any(m == "after" for m, _ in pending):
                        # :after resolves NOW: the ctx must have closed
                        # strictly before this open, or it never can
                        # for this subject — no capture (and no
                        # projs_here claim: a dead conditional must not
                        # shadow later alternatives)
                        if any(
                            m == "after" and id(h) not in after_closed
                            for m, h in pending
                        ):
                            continue
                        pending = tuple(
                            (m, h) for m, h in pending if m != "after"
                        )
                    ctests = chain[-1].texts
                    if not pending and not ctests:
                        # a pending capture may still DROP at close, so
                        # it must not shadow an unconditional alternative
                        # with the same projection (close-time dedupe
                        # handles the both-emit case)
                        projs_here.add(proj)
                    wants_text = (
                        proj is None
                        and not want_html
                        and not (tag in MEDIA_TAGS and attrs.get("src"))
                    )
                    # :contains/:text-is need the subtree text even when
                    # the OUTPUT doesn't (attr/html/media projections)
                    cap = [len(stack), proj, tag, attrs,
                           [] if (wants_text or ctests) else None,
                           seq, n_caps, len(pending), ei, ctests, pending]
                    captures.append(cap)
                    # register desc/child witnesses now; sib witnesses
                    # wait for the close (nothing can open at the
                    # capture's own depth while it is open)
                    for m, h in pending:
                        if m == "desc":
                            desc_pend.setdefault(id(h), [h]).append(cap)
                        elif m == "child":
                            child_pend.setdefault(cap[0], {}).setdefault(
                                id(h), [h]
                            ).append(cap)
                    n_caps += 1
            seq += 1
        elif k == "close":
            depth = len(stack)
            stack.pop()
            parent_seqs.pop()
            children_stack.pop()
            if has_after:
                marks = after_stack.pop()
                if marks:
                    # first matching close arms the watermark: every
                    # LATER-opening subject satisfies this :after inner
                    for hid in marks:
                        if hid in after_unsat:
                            del after_unsat[hid]
                            after_closed.add(hid)
            # finalize captures opened at this depth (appended in order,
            # so they sit at the tail); a capture with unsatisfied
            # :has() inners drops, and one (element, projection) emits
            # at most once (a satisfied :has alternative and an
            # unconditional one may both have captured) — the smallest
            # cap_idx wins, preserving alternative-selector order
            finalized: list = []
            while captures and captures[-1][0] == depth:
                cap = captures.pop()
                if cap[7] == 0:
                    finalized.append(cap)
                    continue
                # deregister unsatisfied desc/child inners (tail-pop —
                # see the registry comment; absence means satisfied);
                # any unsatisfied one kills the capture, since its
                # witness window (the subtree) is over. sib/before
                # witnesses CANNOT have satisfied yet (a sibling opens
                # after this close; a :before ctx opens after it too) —
                # they defer the capture instead
                dead = False
                n_defer = 0
                for m, h in cap[10]:
                    if m in ("sib", "before"):
                        n_defer += 1
                        continue
                    if m == "desc":
                        holder, entry = desc_pend, desc_pend.get(id(h))
                    else:
                        holder = child_pend.get(cap[0])
                        entry = holder.get(id(h)) if holder else None
                    if entry is not None and entry[-1] is cap:
                        entry.pop()
                        if len(entry) == 1:
                            del holder[id(h)]
                        dead = True
                d = child_pend.get(cap[0])
                if d is not None and not d:
                    del child_pend[cap[0]]
                if dead or n_defer == 0:
                    continue
                # only sib/before witnesses outstanding: wait (sib —
                # until the parent closes; before — until any ctx opens)
                cap.append(ei)  # the html slice needs THIS close
                sb_bucket = None
                for m, h in cap[10]:
                    if m == "sib":
                        if sb_bucket is None:
                            sb_bucket = sib_pend.setdefault(cap[0] - 1, {})
                        sb_bucket.setdefault(id(h), [h]).append(cap)
                    elif m == "before":
                        before_pend.setdefault(id(h), [h]).append(cap)
            finalized.sort(key=lambda c: c[6])
            for cap in finalized:
                _finalize(cap, ei)
            # this element's CHILDREN can have no further siblings —
            # whatever still waits at their depth drops now
            sib_pend.pop(depth, None)
        # comments / doctype: not selectable, contribute no text
    # (seq, cap_idx): document order of the element open, then capture
    # CREATION order — one element matched by several alternatives
    # emits in the alternatives' selector order, not close-time LIFO
    results.sort(key=lambda r: (r[0], r[1]))
    return [(k, t, m) for _, _, k, t, m in results]


def select_doc(
    kinds: list,
    texts: list,
    media_refs: list,
    offsets: list,
    selector,
    options: ExtractOptions = DEFAULT_OPTIONS,
    emit: str = "text",
) -> tuple[list, list, list, list]:
    """Doc-level twin of :func:`xkit.doc.extract_doc` for selection:
    runs the selector (a string or a :func:`parse_selector` result)
    over every ``html`` input span in offset order (pdf/media spans
    have no DOM — skipped), re-deriving output offsets as 0..m-1. Same
    parallel-list contract, same Arrow-stage plumbing; the one-query
    case of :func:`select_doc_multi`.
    """
    groups = parse_selector(selector) if isinstance(selector, str) else selector
    return select_doc_multi(
        kinds, texts, media_refs, offsets, [(groups, emit)], options
    )[0]


def select_doc_multi(
    kinds: list,
    texts: list,
    media_refs: list,
    offsets: list,
    parsed_queries: list,
    options: ExtractOptions = DEFAULT_OPTIONS,
) -> list:
    """N queries over one document sharing ONE tokenize+repair.

    ``parsed_queries`` is a list of ``(groups, emit)`` with groups
    pre-parsed by :func:`parse_selector`. Returns one ``(k, t, m, o)``
    parallel-list tuple per query, offsets re-derived 0..m-1 per
    query. This is the per-doc core of the select_multi Spark stage:
    at corpus scale the corpus is scanned and parsed ONCE for every
    query instead of once per query.
    """
    outs = [([], [], []) for _ in parsed_queries]
    base = options.base_url
    for events in html_events(kinds, texts, offsets, options.fragment):
        for (groups, emit), (ok, ot, om) in zip(parsed_queries, outs):
            for k, t, m in select_events(events, groups, base, emit):
                ok.append(k)
                ot.append(t)
                om.append(m)
    return [
        (ok, ot, om, list(range(len(ok)))) for ok, ot, om in outs
    ]
