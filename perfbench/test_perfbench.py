"""Unit tests of the benchmark's own parts (no Spark needed):

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

import pyarrow as pa  # noqa: E402
import pytest  # noqa: E402

import corpora  # noqa: E402
import outputs  # noqa: E402
from sparkmetrics import node_metric, parse_metric  # noqa: E402
from tracing import Tracer  # noqa: E402


def _lists(docs):
    return [
        (
            doc_id,
            [s["kind"] for s in spans],
            [s["text"] for s in spans],
            [s["media_ref"] for s in spans],
            [s["offset"] for s in spans],
        )
        for doc_id, spans in docs
    ]


@pytest.mark.parametrize("kind", ["lognormal", "small_docs"])
def test_same_seed_same_content_other_seed_other_content(kind):
    a = list(corpora.corpus_docs(kind, 7, n_docs=40))
    assert a == list(corpora.corpus_docs(kind, 7, n_docs=40))
    b = list(corpora.corpus_docs(kind, 8, n_docs=40))
    assert [s for _, s in a] != [s for _, s in b]


def test_generated_corpus_round_trips_through_parquet(tmp_path):
    path = corpora.generate(str(tmp_path), "small_docs", 3, n_docs=50)
    assert corpora.load_docs(path) == _lists(corpora.corpus_docs("small_docs", 3, n_docs=50))
    assert corpora.generate(str(tmp_path), "small_docs", 3, n_docs=50) == path


def test_small_docs_shape():
    for _, spans in corpora.corpus_docs("small_docs", 1, n_docs=200):
        kinds = [s["kind"] for s in spans]
        assert kinds.count("html") == 1 and "pdf" not in kinds
        assert 2 <= kinds.count("media") <= 6


def test_lognormal_sizes_are_the_same_for_every_seed():
    def sizes(seed):
        return sorted(
            sum(len(s["text"] or "") for s in spans if s["kind"] == "html")
            for _, spans in corpora.corpus_docs("lognormal", seed, n_docs=300)
        )

    a, b = sizes(1), sizes(2)
    assert abs(sum(a) - sum(b)) / sum(a) < 0.03
    assert abs(a[-1] - b[-1]) / a[-1] < 0.03


_HDR = "total (min, med, max (stageId: taskId))\n"


@pytest.mark.parametrize(
    "text, value",
    [
        # captured from the REST API after one extract job at local[4]
        (_HDR + "3.7 s (301 ms, 453 ms, 700 ms (stage 7.0: task 19))", 3.7),
        (_HDR + "228 ms (30 ms, 67 ms, 83 ms (stage 7.0: task 24))", 0.228),
        (
            _HDR + "4.2 MiB (432.1 KiB, 1051.2 KiB, 1878.3 KiB (stage 5.0: task 14))",
            4.2 * 2**20,
        ),
        ("3.2 MiB", 3.2 * 2**20),
        ("1,500", 1500.0),
        ("16", 16.0),
        ("0.0 B", 0.0),
        ("0 ms", 0.0),
        # Spark's other duration and size forms
        (_HDR + "8.8 s (328 ms, 1.7 s, 2.0 s (stage 3.0: task 12))", 8.8),
        (_HDR + "1.5 m (20.1 s, 22.0 s, 25.0 s (stage 1.0: task 3))", 90.0),
        ("2.00 h", 7200.0),
        ("987 B", 987.0),
        ("1.1 GiB", 1.1 * 2**30),
    ],
)
def test_parse_metric(text, value):
    assert parse_metric(text) == pytest.approx(value)


def test_parse_metric_rejects_garbage():
    with pytest.raises(ValueError):
        parse_metric("n/a")


def test_node_metric_sums_one_metric_of_one_node():
    nodes = {
        ("MapInArrow", "data sent to Python workers"): 3.0,
        ("Exchange", "data sent to Python workers"): 5.0,
        ("MapInArrow", "number of output rows"): 7.0,
    }
    assert node_metric(nodes, "MapInArrow", "data sent to Python workers") == 3.0


def _extract_want(docs):
    return dict(outputs.expected_chunk(("extract_lognormal", docs)))


def test_planted_wrong_output_is_counted():
    docs = _lists(corpora.corpus_docs("lognormal", 5, n_docs=30))
    want = _extract_want(docs)
    actual = dict(want)
    assert outputs.count_failed(actual, want) == 0
    victim = docs[3][0]
    spans = list(actual[victim])
    spans[0] = (spans[0][0], "planted", spans[0][2], spans[0][3])
    actual[victim] = tuple(spans)
    assert outputs.count_failed(actual, want) == 1
    del actual[docs[4][0]]
    assert outputs.count_failed(actual, want) == 2
    actual["not-a-doc"] = ()
    assert outputs.count_failed(actual, want) == 3


def _span_rows(spans):
    return [dict(zip(("kind", "text", "media_ref", "offset"), s)) for s in spans]


def test_spark_shaped_tables_compare_equal_and_duplicates_fail():
    docs = _lists(corpora.corpus_docs("lognormal", 6, n_docs=12))
    want = _extract_want(docs)
    ids = [d for d, _ in want.items()]
    table = pa.table({"doc_id": ids, "spans": [_span_rows(want[d]) for d in ids]})
    assert outputs.count_failed(outputs.actual_spans(table), want) == 0
    doubled = pa.concat_tables([table, table.slice(0, 1)])
    assert outputs.count_failed(outputs.actual_spans(doubled), want) == 1


def test_doc_stage_tables_compare_equal_and_planted_markdown_fails():
    docs = _lists(corpora.corpus_docs("lognormal", 9, n_docs=12))
    want = dict(outputs.expected_chunk(("doc_stages", docs)))
    ids = list(want)
    sel = pa.table({"doc_id": ids, "spans": [_span_rows(want[d][0]) for d in ids]})
    md = [want[d][1] for d in ids]
    harvest = pa.table(
        {
            "doc_id": ids,
            "tables": [
                [
                    {"table_idx": t, "row_idx": r, "is_header": h, "cells": list(c)}
                    for t, r, h, c in want[d][2][0]
                ]
                for d in ids
            ],
            "links": [
                [{"link_idx": i, "url": u, "anchor_text": a} for i, u, a in want[d][2][1]]
                for d in ids
            ],
            "title": [want[d][2][2] for d in ids],
            "lang": [want[d][2][3] for d in ids],
            "canonical": [want[d][2][4] for d in ids],
            "meta": pa.array(
                [list(want[d][2][5].items()) for d in ids], pa.map_(pa.string(), pa.string())
            ),
        }
    )
    actual = outputs.actual_doc_stages(sel, pa.table({"doc_id": ids, "markdown": md}), harvest)
    assert outputs.count_failed(actual, want) == 0
    md[2] = "planted"
    actual = outputs.actual_doc_stages(sel, pa.table({"doc_id": ids, "markdown": md}), harvest)
    assert outputs.count_failed(actual, want) == 1


def test_self_time_subtracts_child_coverage():
    tr = Tracer()
    with tr.span("parent") as parent:
        with tr.span("child"):
            pass
        with tr.span("child"):
            pass
    kids = sum(tr.durations("child"))
    assert tr.self_time(parent) == pytest.approx(
        parent["end"] - parent["start"] - kids
    )
    assert all(s["run_id"] == tr.run_id for s in tr.spans)
    assert [s["parent"] for s in tr.spans] == [None, 0, 0]


_ORPHAN_SCRIPT = """
import os, subprocess, sys, time
sys.path.insert(0, %r)
import procs
procs.guard()
# sh exits at once; its background sleep is orphaned to this process
sh = subprocess.Popen(["sh", "-c", "sleep 1.5 >/dev/null & echo $!"], stdout=subprocess.PIPE, text=True)
orphan = int(sh.stdout.read())
sh.wait()
t0 = time.monotonic()
procs.reap()
print(orphan, time.monotonic() - t0)
"""


def test_reap_waits_for_orphans_of_the_run():
    import subprocess

    out = subprocess.run(
        [sys.executable, "-c", _ORPHAN_SCRIPT % HERE],
        capture_output=True, text=True, check=True, timeout=60,
    ).stdout.split()
    orphan, waited = int(out[0]), float(out[1])
    assert waited > 0.5
    assert not os.path.exists("/proc/%d" % orphan)
