"""Single-core, in-process timings of the xkit layers, and the host-load
control.

:func:`layer_metrics` wraps ``perf_counter`` around each call into a
layer's public function over a fixed sample of the workload's documents.
:func:`host_control` measures pure-Python ``extract_doc`` throughput on
a fixed sample at width 1 and at width N; it is recorded beside each run
and gates nothing, so that a slow run can be put down to the shared host.
"""

from __future__ import annotations

import multiprocessing as mp
import statistics
import time

from procs import die_with_parent
from xkit.doc import extract_doc
from xkit.dom import repair
from xkit.extract import extract_html
from xkit.markdown import html_to_markdown
from xkit.pdfmini import extract_pdf_text
from xkit.selector import parse_selector, select_doc
from xkit.tokenizer import tokenize

__all__ = ["host_control", "host_sample", "layer_metrics", "make_pool", "text_mb"]


def text_mb(docs: list) -> float:
    """Span-text volume of ``(doc_id, kinds, texts, refs, offsets)`` docs, in MB of chars."""
    return sum(len(t) for d in docs for t in d[2] if t is not None) / 1e6


def _spans_of(docs: list, kind: str) -> list:
    return [t for d in docs for k, t in zip(d[1], d[2]) if k == kind and t is not None]


def layer_metrics(docs: list, selector: str) -> dict:
    """Per-layer seconds and counts over ``docs``, one layer at a time."""
    pc = time.perf_counter
    html = _spans_of(docs, "html")
    pdfs = _spans_of(docs, "pdf")
    html_mb = sum(len(h) for h in html) / 1e6
    t_tok = t_rep = 0.0
    n_tok = n_ev = 0
    for h in html:
        t0 = pc()
        tokens = tokenize(h)
        t1 = pc()
        events = repair(tokens)
        t2 = pc()
        t_tok += t1 - t0
        t_rep += t2 - t1
        n_tok += len(tokens)
        n_ev += len(events)
    t_ext = 0.0
    n_out = chars_out = 0
    for h in html:
        t0 = pc()
        out = extract_html(h)
        t_ext += pc() - t0
        n_out += len(out)
        chars_out += sum(len(t) for k, t, _ in out if k == "text" and t)
    t_pdf = 0.0
    n_blocks = 0
    for p in pdfs:
        t0 = pc()
        n_blocks += len(extract_pdf_text(p))
        t_pdf += pc() - t0
    per_doc = []
    for d in docs:
        t0 = pc()
        extract_doc(*d[1:])
        per_doc.append(pc() - t0)
    parsed = parse_selector(selector)
    t_sel = 0.0
    for d in docs:
        t0 = pc()
        select_doc(*d[1:], parsed, emit="html")
        t_sel += pc() - t0
    t_md = 0.0
    for h in html:
        t0 = pc()
        html_to_markdown(h)
        t_md += pc() - t0
    pct = statistics.quantiles(per_doc, n=100)
    t_doc = sum(per_doc)
    return {
        "tokenizer.tokenize.s": t_tok,
        "tokenizer.tokenize.mb_per_s": html_mb / t_tok,
        "tokenizer.tokenize.tokens": n_tok,
        "dom.repair.s": t_rep,
        "dom.repair.events": n_ev,
        "extract.extract_html.s": t_ext,
        "extract.extract_html.mb_per_s": html_mb / t_ext,
        "extract.extract_html.spans_out": n_out,
        "extract.yield_frac": chars_out / (html_mb * 1e6),
        "pdfmini.extract_pdf_text.s": t_pdf,
        "pdfmini.extract_pdf_text.blocks_out": n_blocks,
        "doc.extract_doc.s": t_doc,
        "doc.extract_doc.mb_per_s": text_mb(docs) / t_doc,
        "doc.extract_doc.p50_ms": pct[49] * 1e3,
        "doc.extract_doc.p99_ms": pct[98] * 1e3,
        "doc.extract_doc.max_ms": max(per_doc) * 1e3,
        "selector.select_doc.s": t_sel,
        "markdown.html_to_markdown.s": t_md,
    }


def host_sample() -> list:
    """The fixed host-control sample: 300 lognormal-shaped docs, seed 0."""
    from corpora import corpus_docs

    return [
        (
            doc_id,
            [s["kind"] for s in spans],
            [s["text"] for s in spans],
            [s["media_ref"] for s in spans],
            [s["offset"] for s in spans],
        )
        for doc_id, spans in corpus_docs("lognormal", 0, n_docs=300)
    ]


_SAMPLE: list = []


def _set_sample(sample: list) -> None:
    _SAMPLE[:] = sample


def _init_worker(sample: list) -> None:
    # a forked pool worker holds both ends of the task pipe, so it would
    # not see end of input if the run were killed
    die_with_parent()
    _set_sample(sample)


def _extract_sample(reps: int) -> None:
    for _ in range(reps):
        for d in _SAMPLE:
            extract_doc(*d[1:])


def make_pool(width: int, sample: list):
    """A fork-context pool of ``width`` workers holding ``sample``. Unlike
    spawn, fork starts no resource-tracker process, which would outlive
    the run by the moment it takes to notice the run has ended."""
    return mp.get_context("fork").Pool(width, _init_worker, (sample,))


def host_control(pool, width: int, sample: list) -> dict:
    """Pure-Python ``extract_doc`` MB/s over ``sample`` at width 1 (this
    process) and at ``width`` (the pool), each for about a quarter of a second."""
    pc = time.perf_counter
    mb = text_mb(sample)
    _set_sample(sample)
    t0 = pc()
    _extract_sample(1)
    reps = max(1, round(0.25 / (pc() - t0)))
    t0 = pc()
    _extract_sample(reps)
    w1 = mb * reps / (pc() - t0)
    t0 = pc()
    pool.map(_extract_sample, [reps] * width, chunksize=1)
    wn = mb * reps * width / (pc() - t0)
    return {"host.w1_mb_per_s": w1, "host.wn_mb_per_s": wn}
