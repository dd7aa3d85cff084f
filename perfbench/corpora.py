"""Seeded input corpora for the benchmark workloads.

Both generators write ``xhtmlkit_spark.datagen``'s corpus schema
(``doc_id, spans, part``) as a directory of parquet files and build
their HTML from datagen's fragment families, so the Spark stages see
the markup families the goldens pin. The same ``(kind, seed)`` always
yields byte-identical content. Corpora are cached on disk per seed:
generating one is the benchmark's own cost, not the program's.

* ``lognormal`` is the production shape of ``datagen.generate_corpus``:
  log-normal html sizes (median 800 chars, sigma 2, capped at 2 MB),
  1-3 html spans, ~10% fixture-dialect pdf spans, 0-3 media spans.
  The sizes are the distribution's quantiles at ``(i + 0.5) / n``, dealt
  to documents in a seeded order, instead of independent draws. At a
  few thousand documents the log-normal tail dominates the sum, so
  independent draws make the corpus volume, and with it every timing,
  differ between seeds by more than the benchmark's bounds. Every seed
  therefore has the same size profile and the same giants; seeds differ
  in content, document order and span mix.
* ``small_docs`` holds many small documents: one ~150-600-char html
  span from the same fragment families plus 2-6 media spans, no pdf,
  no giants. Per-document and per-span costs dominate it.
"""

from __future__ import annotations

import math
import os
import random
import shutil
from statistics import NormalDist

import pyarrow as pa
import pyarrow.parquet as pq

from xhtmlkit_spark.datagen import _html_span, _sentence, corpus_schema, doc_part
from xkit.pdfmini import make_fixture_pdf

__all__ = ["CORPORA", "corpus_docs", "generate", "load_docs"]

# Bump when generated content changes: cached corpora are keyed by it.
VERSION = 1
N_PARTS = 16  # the `part` modulus run_pipeline uses by default
N_FILES = 16  # many files, or the scan is a single task (CLAUDE.md)

# kind -> number of documents, sized so that one extract job takes about
# a second at local[4] and several jobs fit in every timed window
CORPORA = {"lognormal": 1500, "small_docs": 12000}


def _lognormal_sizes(n: int) -> list[int]:
    dist = NormalDist(math.log(800.0), 2.0)
    return [
        max(50, min(int(math.exp(dist.inv_cdf((i + 0.5) / n))), 2_000_000))
        for i in range(n)
    ]


def _spans(rng: random.Random, kinds: list, texts: list, refs: list) -> list:
    order = list(range(len(kinds)))
    rng.shuffle(order)
    return [
        {"kind": kinds[k], "text": texts[k], "media_ref": refs[k], "offset": o}
        for o, k in enumerate(order)
    ]


def _media_refs(idx: int, n: int) -> list:
    return ["s3://corpus/media/%d_%d.jpg" % (idx, j) for j in range(n)]


def _lognormal_doc(rng: random.Random, idx: int, target: int) -> list:
    # datagen._make_doc's span mix, with the size handed in
    n_media = rng.choices([0, 1, 2, 3], weights=[40, 30, 20, 10])[0]
    has_pdf = rng.random() < 0.10
    n_html = rng.randint(1, 3)
    per_html = max(40, target // n_html)
    kinds = ["html"] * n_html
    texts = [_html_span(rng, idx, per_html) for _ in range(n_html)]
    refs: list = [None] * n_html
    if has_pdf:
        blocks = [
            [_sentence(rng, rng.randint(4, 10)) for _ in range(rng.randint(1, 3))]
            for _ in range(rng.randint(1, 2))
        ]
        kinds.append("pdf")
        texts.append(make_fixture_pdf(blocks))
        refs.append(None)
    kinds += ["media"] * n_media
    texts += [None] * n_media
    refs += _media_refs(idx, n_media)
    return _spans(rng, kinds, texts, refs)


def _small_doc(rng: random.Random, idx: int) -> list:
    n_media = rng.randint(2, 6)
    kinds = ["html"] + ["media"] * n_media
    texts = [_html_span(rng, idx, rng.randint(60, 300))] + [None] * n_media
    return _spans(rng, kinds, texts, [None] + _media_refs(idx, n_media))


def corpus_docs(kind: str, seed: int, n_docs: int | None = None):
    """Yield ``(doc_id, spans)`` of one corpus, in document order."""
    n = CORPORA[kind] if n_docs is None else n_docs
    if kind == "lognormal":
        sizes = _lognormal_sizes(n)
        random.Random("%s:%d" % (kind, seed)).shuffle(sizes)
    for idx in range(n):
        rng = random.Random("%s:%d:%d" % (kind, seed, idx))
        if kind == "lognormal":
            spans = _lognormal_doc(rng, idx, sizes[idx])
        else:
            spans = _small_doc(rng, idx)
        yield "d%012d" % idx, spans


def generate(
    cache_dir: str, kind: str, seed: int, n_docs: int | None = None, keep: int = 6
) -> str:
    """Write (or reuse) one corpus directory and return its path.

    At most ``keep`` corpora stay cached; the least recently used go,
    so that a long series of seeds does not fill the disk."""
    n = CORPORA[kind] if n_docs is None else n_docs
    path = os.path.join(cache_dir, "%s-v%d-s%d-n%d" % (kind, VERSION, seed, n))
    marker = os.path.join(path, "_SUCCESS")
    if os.path.exists(marker):
        os.utime(path)
        return path
    os.makedirs(cache_dir, exist_ok=True)
    cached = sorted(
        (os.path.join(cache_dir, d) for d in os.listdir(cache_dir)),
        key=os.path.getmtime,
    )
    for old in cached[: max(0, len(cached) - keep + 1)]:
        shutil.rmtree(old, ignore_errors=True)
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    docs = list(corpus_docs(kind, seed, n))
    for f in range(min(N_FILES, n)):
        chunk = docs[f::N_FILES]
        pq.write_table(
            pa.Table.from_pydict(
                {
                    "doc_id": [d for d, _ in chunk],
                    "spans": [s for _, s in chunk],
                    "part": [doc_part(d, N_PARTS) for d, _ in chunk],
                },
                schema=corpus_schema(),
            ),
            os.path.join(path, "part-%05d.parquet" % f),
        )
    with open(marker, "w") as fh:
        fh.write("ok")
    return path


def load_docs(path: str) -> list:
    """``[(doc_id, kinds, texts, refs, offsets)]`` of a corpus directory
    in doc_id order: the parallel-list form the xkit doc functions take."""
    tbl = pq.read_table(path, columns=["doc_id", "spans"]).sort_by("doc_id")
    out = []
    for doc_id, spans in zip(
        tbl.column("doc_id").to_pylist(), tbl.column("spans").to_pylist()
    ):
        spans = spans or []
        out.append(
            (
                doc_id,
                [s["kind"] for s in spans],
                [s["text"] for s in spans],
                [s["media_ref"] for s in spans],
                [s["offset"] for s in spans],
            )
        )
    return out
