"""Deterministic interleaved-corpus generator (FIXTURES.md §1).

Synthesizes the pipeline input table fixed by BASELINE.json
``input_hint``::

    doc_id : string
    spans  : array<struct<kind:string, text:string, media_ref:string, offset:int32>>
    part   : int32   (pmod(crc32(doc_id), n_parts) — checkpoint/resume unit)

Design goals:

* **Deterministic** — per-doc RNG seeded from (seed, doc index); the
  same (seed, n_docs) always yields byte-identical parquet content
  regardless of chunking. No wall clock anywhere.
* **Skewed** — doc sizes drawn from a log-normal with sigma≈2 so the
  top-1% of docs is ~100× the median: the hash repartition in
  plans/pipeline.py has real skew to spread.
* **Semantically known** — HTML is assembled from the same fragment
  families the pytest goldens pin (tag soup, entities, nav/footer
  boilerplate, inline media), so the Spark path exercises exactly the
  golden-validated semantics; ~10% of docs carry a fixture-dialect
  PDF span (xkit.pdfmini); 0–3 opaque media spans are interleaved.

Pure pyarrow writer (no Spark needed to generate), chunked so memory
stays bounded at any corpus size.
"""

from __future__ import annotations

import math
import os
import random
import zlib

import pyarrow as pa
import pyarrow.parquet as pq

from xkit.pdfmini import make_fixture_pdf

__all__ = ["generate_corpus", "corpus_schema", "doc_part"]

# Bump whenever _make_doc/fragment content changes: the on-disk corpus
# cache is keyed by (name, n_docs) only, so without this stamp a
# content change would silently keep serving stale cached corpora.
DATAGEN_VERSION = 1

_WORDS = (
    "the quick brown fox jumps over lazy dog data span table query content "
    "article review stream batch parser token entity offset media corpus "
    "document extract pipeline shuffle partition skew salt checkpoint "
    "lineage metric throughput scaling executor arrow vector column"
).split()

_ENTITY_SNIPPETS = ["&amp;", "&eacute;", "&#8212;", "&nbsp;", "&quot;", "&#x41;"]

SPAN_FIELDS = [
    pa.field("kind", pa.string()),
    pa.field("text", pa.string()),
    pa.field("media_ref", pa.string()),
    pa.field("offset", pa.int32()),
]


def corpus_schema() -> pa.Schema:
    return pa.schema(
        [
            pa.field("doc_id", pa.string()),
            pa.field("spans", pa.list_(pa.struct(SPAN_FIELDS))),
            pa.field("part", pa.int32()),
        ]
    )


def doc_part(doc_id: str, n_parts: int) -> int:
    """Partition id — crc32 so Spark can re-derive it exactly
    (``pmod(crc32(doc_id), n_parts)``; zlib.crc32 == Spark crc32)."""
    return zlib.crc32(doc_id.encode()) % n_parts


def _sentence(rng: random.Random, n_words: int) -> str:
    ws = [rng.choice(_WORDS) for _ in range(n_words)]
    if rng.random() < 0.15:
        ws.insert(rng.randrange(len(ws)), rng.choice(_ENTITY_SNIPPETS))
    return " ".join(ws).capitalize() + "."


def _paragraph(rng: random.Random, target_chars: int) -> str:
    parts = []
    size = 0
    while size < target_chars:
        s = _sentence(rng, rng.randint(5, 15))
        if rng.random() < 0.1:
            s = s.replace(" ", " <b>", 1).replace(".", "</b>.", 1)
        if rng.random() < 0.08:
            s += ' See <a href="/l/%d">related link</a>.' % rng.randrange(1000)
        parts.append(s)
        size += len(s) + 1
    return " ".join(parts)


def _html_span(rng: random.Random, doc_idx: int, target_chars: int) -> str:
    """One HTML payload: golden-family boilerplate + content + tag soup."""
    out = []
    if rng.random() < 0.5:
        out.append(
            "<head><title>Doc %d</title><style>p{margin:0}</style>"
            "<script>var x = 1 < 2;</script></head>" % doc_idx
        )
    if rng.random() < 0.6:
        out.append(
            "<nav><ul>"
            + "".join('<li><a href="/n/%d">nav item %d</a>' % (i, i) for i in range(4))
            + "</ul></nav>"
        )
    body_chars = 0
    soup = rng.random()
    while body_chars < target_chars:
        r = rng.random()
        if r < 0.55:
            p = _paragraph(rng, min(target_chars - body_chars, rng.randint(80, 400)))
            # tag-soup family: some paragraphs never closed (A15 territory)
            out.append("<p>%s</p>" % p if soup < 0.7 else "<p>" + p)
            body_chars += len(p)
        elif r < 0.7:
            items = [_sentence(rng, rng.randint(3, 8)) for _ in range(rng.randint(2, 5))]
            out.append("<ul>" + "".join("<li>" + it for it in items) + "</ul>")
            body_chars += sum(len(it) for it in items)
        elif r < 0.8:
            cells = [_sentence(rng, rng.randint(2, 5)) for _ in range(4)]
            out.append(
                "<table><tr><td>%s<td>%s<tr><td>%s<td>%s</table>" % tuple(cells)
            )
            body_chars += sum(len(c) for c in cells)
        elif r < 0.9:
            out.append('<img src="/img/%d_%d.png">' % (doc_idx, rng.randrange(100)))
            body_chars += 10
        else:
            out.append("<!-- comment %d -->" % rng.randrange(1000))
            body_chars += 5
    if rng.random() < 0.4:
        out.append(
            '<footer>Copyright 2026 <a href="/p">Privacy</a> '
            '<a href="/t">Terms</a></footer>'
        )
    return "".join(out)


def _make_doc(seed: int, idx: int, n_parts: int):
    rng = random.Random(seed + idx * 2654435761)
    doc_id = "d%012d" % idx
    # log-normal size: median ~800 chars, sigma 2.0 → p99 ≈ 100× median
    target = int(math.exp(rng.gauss(math.log(800.0), 2.0)))
    target = max(50, min(target, 2_000_000))
    n_media = rng.choices([0, 1, 2, 3], weights=[40, 30, 20, 10])[0]
    has_pdf = rng.random() < 0.10
    n_html = rng.randint(1, 3)
    kinds, texts, refs = [], [], []
    per_html = max(40, target // n_html)
    for _ in range(n_html):
        kinds.append("html")
        texts.append(_html_span(rng, idx, per_html))
        refs.append(None)
    if has_pdf:
        blocks = [
            [_sentence(rng, rng.randint(4, 10)) for _ in range(rng.randint(1, 3))]
            for _ in range(rng.randint(1, 2))
        ]
        kinds.append("pdf")
        texts.append(make_fixture_pdf(blocks))
        refs.append(None)
    for j in range(n_media):
        kinds.append("media")
        texts.append(None)
        refs.append("s3://corpus/media/%d_%d.jpg" % (idx, j))
    order = list(range(len(kinds)))
    rng.shuffle(order)
    spans = [
        {"kind": kinds[k], "text": texts[k], "media_ref": refs[k], "offset": o}
        for o, k in enumerate(order)
    ]
    return doc_id, spans, doc_part(doc_id, n_parts)


def generate_corpus(
    path: str,
    n_docs: int,
    seed: int = 42,
    n_parts: int = 16,
    chunk_docs: int = 2000,
    overwrite: bool = False,
) -> str:
    """Write the corpus as a DIRECTORY of parquet part files; returns path.

    One file per ``chunk_docs`` docs: a single big file would make the
    Spark scan (and therefore the shuffle-map stage feeding the
    extraction) effectively single-task — at corpus scale input is
    always many files/splits, and the sandbox must mirror that or the
    scaling measurement is bottlenecked by one reader thread.

    Idempotent: an existing corpus dir is reused unless ``overwrite``
    (content is fully determined by (seed, n_docs, n_parts) — per-doc
    RNG, so chunking doesn't change the data).
    """
    done_marker = os.path.join(path, "_SUCCESS")
    # the marker pins everything the content depends on — version AND
    # parameters — so a call with the same path but a different seed or
    # partition modulus can never silently reuse a stale corpus
    stamp = f"{DATAGEN_VERSION}:{seed}:{n_docs}:{n_parts}"
    if os.path.exists(done_marker) and not overwrite:
        try:
            with open(done_marker) as f:
                if f.read().strip() == stamp:
                    return path
        except OSError:
            pass
        # stale version/params (or pre-version marker) → regenerate
    os.makedirs(path, exist_ok=True)
    for old in os.listdir(path):
        os.remove(os.path.join(path, old))
    schema = corpus_schema()
    n_chunks = (n_docs + chunk_docs - 1) // chunk_docs
    for ci in range(n_chunks):
        lo, hi = ci * chunk_docs, min((ci + 1) * chunk_docs, n_docs)
        ids, spans_col, parts = [], [], []
        for idx in range(lo, hi):
            doc_id, spans, part = _make_doc(seed, idx, n_parts)
            ids.append(doc_id)
            spans_col.append(spans)
            parts.append(part)
        pq.write_table(
            pa.Table.from_pydict(
                {"doc_id": ids, "spans": spans_col, "part": parts}, schema=schema
            ),
            os.path.join(path, "part-%05d.parquet" % ci),
        )
    with open(done_marker, "w") as f:
        f.write(stamp)
    return path
