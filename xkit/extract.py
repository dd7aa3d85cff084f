"""Boilerplate strip + ordered span emission (SURVEY.md A22–A25).

:func:`extract_html` consumes the ``tokenize()`` token list with the
tag-soup repair rules (xkit.dom: implicit sibling closes, void/self-
close units, stray-close handling, EOF recovery) folded into the
consumer, so no repaired event list is materialized per document —
the Spark-side hot path runs it per document inside an Arrow batch.
``xkit.dom.repair`` remains the reference implementation of the
repair rules (used by the serialization goldens), which pin this
consumer's behaviour. Callers that already tokenized a document
(xkit.doc.project_doc) pass their token list in.

Pipeline-spec heuristics (authoritative: BASELINE.json north_star
"boilerplate-strip heuristics (script/style/comment removal,
text-density scoring)"; the reference itself keeps script/style in
the DOM and lets users strip via XPath — [P: XHtmlKit README.md]):

* A22 hard-dropped subtrees: script, style, noscript, template, head,
  title, nav, footer, aside, textarea, select; elements with a
  ``hidden`` attribute or ``aria-hidden="true"``; comments, DOCTYPE.
* A23 text-density scoring per block: ``chars / (1 + inline_tags)``
  must reach ``min_text_density``, and link density
  ``anchor_chars / chars`` must not exceed ``max_link_density``
  (tag-ratio content extraction à la CETR; thresholds frozen by
  tests/golden/boilerplate_density.json).
* A24 ordered emission: text blocks and media (img video audio source
  embed iframe with non-empty ``src``) are emitted in document order;
  media flushes the in-progress text block so interleaving follows
  source order. Relative ``src`` is absolutized against
  ``options.base_url`` when set (A21).
* A25 whitespace: runs of whitespace collapse to a single space,
  blocks trimmed; empty blocks emit nothing.

Blocks are delimited by HTML block-level elements (open or close) and
``<br>``.
"""

from __future__ import annotations

from urllib.parse import urljoin

from xkit.dom import CLOSED_BY, VOID_TAGS, _HEAD_ONLY
from xkit.entities import decode_entities
from xkit.options import DEFAULT_OPTIONS, ExtractOptions
from xkit.tokenizer import tokenize

__all__ = ["extract_html", "DROP_TAGS", "BLOCK_TAGS", "MEDIA_TAGS"]

# A22 — subtrees whose content never reaches the output.
DROP_TAGS = frozenset(
    "script style noscript template head title nav footer aside textarea select".split()
)
# fragment mode keeps head/title (snippets have no document head)
_FRAGMENT_DROP_TAGS = DROP_TAGS - {"head", "title"}

# Elements that delimit text blocks (open AND close flush the block).
BLOCK_TAGS = frozenset(
    """html body p div li ul ol dl dt dd h1 h2 h3 h4 h5 h6 table thead tbody
       tfoot tr td th caption blockquote pre article section header main
       figure figcaption form fieldset hr br address details summary
       colgroup col option optgroup select textarea""".split()
)

# A24 — media-bearing elements; span's media_ref comes from @src.
MEDIA_TAGS = frozenset("img video audio source embed iframe".split())


def _collapse(s: str) -> str:
    # ' '.join(split()) == regex r'\s+'→' ' + strip (both use the Unicode
    # whitespace definition) but allocates far less in the hot path
    return " ".join(s.split())


def extract_html(
    html: str, options: ExtractOptions = DEFAULT_OPTIONS, tokens: list | None = None
) -> list:
    """Extract ordered ``(kind, text, media_ref)`` spans from one HTML doc.

    kind ∈ {"text", "media"}; text spans carry ``media_ref=None``,
    media spans carry ``text=None``. ``tokens`` is ``tokenize(html)``
    when the caller already has it (xkit.doc.project_doc shares one
    token list across projections); otherwise the document is
    tokenized here.
    """
    opt = options
    # per-flush option lookups hoisted (67k flushes per MB-scale batch)
    min_chars = opt.min_block_chars
    min_density = opt.min_text_density
    max_link = opt.max_link_density

    # no-markup fast path: the whole doc is one text block (density
    # denominator 1, link ratio 0 — same result the loop would produce)
    if "<" not in html:
        text = " ".join((decode_entities(html) if "&" in html else html).split())
        if text and len(text) >= min_chars and len(text) >= min_density and max_link >= 0:
            return [("text", text, None)]
        return []

    out: list = []
    pieces: list = []  # raw text fragments of the in-progress block
    anchor_pieces: list = []  # fragments contributed inside <a>
    inline_tags = 0  # inline opens inside the block (density denominator)
    drop_depth = 0
    anchor_depth = 0
    base = opt.base_url
    fragment = opt.fragment
    # fragment mode (A18/§3.3): a snippet has no document structure —
    # head/title content is ordinary content, and the head auto-close
    # rule is off (see options.ExtractOptions.fragment)
    drop_tags = _FRAGMENT_DROP_TAGS if fragment else DROP_TAGS
    stack: list = []  # open-element stack (repair state, A14–A17)

    # Invariant relied on by every `if pieces: flush()` guard below:
    # inline_tags is only incremented and anchor_pieces only appended
    # while pieces is non-empty, so empty pieces ⟹ nothing to reset.
    def flush() -> None:
        nonlocal pieces, anchor_pieces, inline_tags
        # inlined _collapse (function call overhead at flush volume)
        text = " ".join("".join(pieces).split())
        # `text and` matters when min_block_chars=0: a whitespace-only
        # block collapses to "" (chars=0 would divide-by-zero in the
        # link ratio, and A25 says empty blocks emit nothing)
        if text and len(text) >= min_chars:
            chars = len(text)
            density = chars / (1.0 + inline_tags)
            link = (
                len(" ".join("".join(anchor_pieces).split())) / chars
                if anchor_pieces
                else 0.0
            )
            if density >= min_density and link <= max_link:
                out.append(("text", text, None))
        pieces = []
        anchor_pieces = []
        inline_tags = 0

    def close_one(tag: str) -> None:
        nonlocal drop_depth, anchor_depth
        if drop_depth > 0:
            drop_depth -= 1
            return
        if tag in MEDIA_TAGS:
            return
        if tag in BLOCK_TAGS:
            if pieces:
                flush()
        elif tag == "a" and anchor_depth > 0:
            anchor_depth -= 1

    for tok in tokenize(html) if tokens is None else tokens:
        k = tok[0]
        if k == "text":
            if drop_depth == 0:
                pieces.append(tok[1])
                if anchor_depth > 0:
                    anchor_pieces.append(tok[1])
        elif k == "open":
            tag = tok[1]
            # A15: implicit sibling closes, repeated on the stack top
            # (dom._closes inlined — one call per open tag is real money
            # at corpus volume; semantics identical, pinned by goldens)
            while stack:
                top = stack[-1]
                if top == "head":
                    if fragment or tag == "head" or tag in _HEAD_ONLY:
                        break
                else:
                    cl = CLOSED_BY.get(top)
                    if cl is None or tag not in cl:
                        break
                close_one(stack.pop())
            # void elements / explicit <x/> behave as an open+close unit
            is_unit = tag in VOID_TAGS or tok[3]
            if drop_depth > 0:
                if not is_unit:
                    drop_depth += 1
                    stack.append(tag)
                continue
            attrs = tok[2]
            if (
                tag in drop_tags
                or "hidden" in attrs
                or attrs.get("aria-hidden") == "true"
            ):
                if pieces:
                    flush()
                if not is_unit:
                    drop_depth = 1
                    stack.append(tag)
                continue
            if tag in MEDIA_TAGS:
                src = attrs.get("src", "")
                if src:
                    if pieces:
                        flush()
                    out.append(("media", None, urljoin(base, src) if base else src))
                if not is_unit:
                    stack.append(tag)
                    if tag == "iframe":
                        # iframe children are fallback-only, never rendered
                        drop_depth = 1
                continue
            if tag in BLOCK_TAGS:
                if pieces:
                    flush()
            else:
                if tag == "a" and not is_unit:  # <a/> opens+closes: net zero
                    anchor_depth += 1
                if pieces:
                    inline_tags += 1
            if not is_unit:
                stack.append(tag)
        elif k == "close":
            tag = tok[1]
            if tag in VOID_TAGS:
                continue  # A16: </br> and friends dropped
            if tag in stack:
                while True:  # A16: pop through to the matching ancestor
                    top = stack.pop()
                    close_one(top)
                    if top == tag:
                        break
            # else: stray close with no open match → dropped (A16)
        # comments / doctype dropped (A22/A9)
    while stack:  # A17: EOF recovery
        close_one(stack.pop())
    if pieces:
        flush()
    return out
