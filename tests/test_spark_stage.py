"""Spark-level tests (SURVEY.md §5.2.3): the mapInArrow stage must be
span-sequence-equal to the pure-Python extractor, resumable, and safe
on sliced/odd Arrow batches."""

from __future__ import annotations

import os

import pyarrow as pa
import pytest

from xkit.doc import extract_doc

pytestmark = pytest.mark.spark


@pytest.fixture(scope="session")
def spark():
    from xhtmlkit_spark.session import get_spark

    s = get_spark("local[2]", shuffle_partitions=4, app_name="xkit-tests")
    yield s


@pytest.fixture(scope="session")
def corpus_path(tmp_path_factory):
    from xhtmlkit_spark.datagen import generate_corpus

    path = str(tmp_path_factory.mktemp("corpus") / "corpus.parquet")
    return generate_corpus(path, 120, seed=7)


def _pure_python_expected(path):
    import pyarrow.parquet as pq

    out = {}
    for rec in pq.read_table(path).to_pylist():
        sp = rec["spans"]
        k, t, m, o = extract_doc(
            [s["kind"] for s in sp],
            [s["text"] for s in sp],
            [s["media_ref"] for s in sp],
            [s["offset"] for s in sp],
        )
        out[rec["doc_id"]] = list(zip(k, t, m, o))
    return out


def test_spark_equals_pure_python(spark, corpus_path):
    from xhtmlkit_spark.operators.extract_stage import extract_spans

    got = {
        r["doc_id"]: [(s["kind"], s["text"], s["media_ref"], s["offset"]) for s in r["spans"]]
        for r in extract_spans(spark.read.parquet(corpus_path)).collect()
    }
    expected = _pure_python_expected(corpus_path)
    assert got.keys() == expected.keys()
    for doc_id, exp in expected.items():
        assert got[doc_id] == exp, doc_id


def test_workers_guard_zip_rereads_and_import_new_py_files(spark, tmp_path):
    """Doc-stage workers import ``xhtmlkit_spark`` and with it the zip
    re-read guard; a zip added with ``addPyFile`` after the workers are
    warm is still importable in them."""
    import uuid
    import zipfile

    from pyspark.sql import types as T

    from xhtmlkit_spark.operators.extract_stage import make_doc_stage_fn, run_doc_stage

    def guard_installed():
        import sys
        import zipimport

        pkg = sys.modules.get("xhtmlkit_spark")
        return pkg is not None and (
            zipimport.zipimporter.invalidate_caches is pkg._invalidate_if_changed
        )

    def report(kinds, texts, refs, offsets):
        return ["text"], [str(guard_installed())], [None], [0]

    df = spark.createDataFrame(
        [(f"d{i}", [("text", "x", None, 0)]) for i in range(8)],
        "doc_id string, spans array<struct<kind:string,text:string,media_ref:string,offset:int>>",
    ).repartition(4)
    got = run_doc_stage(df, lambda n_pt: make_doc_stage_fn(report, n_pt), ()).collect()
    assert [r["spans"][0]["text"] for r in got] == ["True"] * 8

    name = "xkit_pyfile_" + uuid.uuid4().hex
    archive = tmp_path / f"{name}.zip"
    with zipfile.ZipFile(archive, "w") as zf:
        zf.writestr(f"{name}.py", "VALUE = 'fresh'\n")
    spark.sparkContext.addPyFile(str(archive))

    def import_fresh(batches):
        import importlib

        value = importlib.import_module(name).VALUE
        guarded = guard_installed()
        for batch in batches:
            n = batch.num_rows
            yield pa.RecordBatch.from_arrays(
                [pa.array([value] * n), pa.array([guarded] * n)], ["value", "guarded"]
            )

    schema = T.StructType(
        [T.StructField("value", T.StringType()), T.StructField("guarded", T.BooleanType())]
    )
    rows = spark.range(0, 8, numPartitions=4).mapInArrow(import_fresh, schema).collect()
    assert [r["value"] for r in rows] == ["fresh"] * 8
    # the tasks ran in reused workers that already had the guard
    assert any(r["guarded"] for r in rows)


def test_determinism_across_parallelism(spark, corpus_path):
    from xhtmlkit_spark.operators.extract_stage import extract_spans
    from xhtmlkit_spark.plans.pipeline import with_size_salt

    df = spark.read.parquet(corpus_path)
    a = extract_spans(with_size_salt(df, 2)).collect()
    b = extract_spans(with_size_salt(df, 16)).collect()
    norm = lambda rows: sorted((r["doc_id"], str(r["spans"])) for r in rows)
    assert norm(a) == norm(b)


def test_exchange_is_one_doc_id_hash(spark, corpus_path, capsys):
    """The pre-extraction exchange is a single hash on doc_id with no
    per-span aggregate in the plan (no job runs)."""
    import re

    from xhtmlkit_spark.plans.pipeline import with_size_salt

    capsys.readouterr()
    with_size_salt(spark.read.parquet(corpus_path), 8).explain("extended")
    plan = capsys.readouterr().out
    assert len(re.findall(r"Exchange hashpartitioning\(doc_id#\d+, 8\)", plan)) == 1
    assert "aggregate(" not in plan and "lambdafunction" not in plan


def test_arrow_batches_bounded_by_bytes(spark):
    """get_spark bounds Arrow batches by bytes as well as rows, and the
    byte bound reaches mapInArrow input: 16 rows of 300 KB at a 1 MiB
    bound arrive as batches of at most 4 rows."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    key = "spark.sql.execution.arrow.maxBytesPerBatch"
    assert int(spark.conf.get(key)) == 64 << 20

    def batch_rows(batches):
        for b in batches:
            yield pa.RecordBatch.from_arrays([pa.array([b.num_rows])], ["n"])

    df = spark.range(0, 16, numPartitions=1).select(
        F.repeat(F.lit("x"), 300_000).alias("s")
    )
    schema = T.StructType([T.StructField("n", T.LongType())])
    spark.conf.set(key, str(1 << 20))
    try:
        sizes = [r["n"] for r in df.mapInArrow(batch_rows, schema).collect()]
    finally:
        spark.conf.set(key, str(64 << 20))
    assert sum(sizes) == 16 and max(sizes) <= 4


def _multi_column_stage_fn():
    """A kernel mapper with a spans + string + map output spec."""
    from pyspark.sql import types as T

    from xhtmlkit_spark.operators.extract_stage import SPANS_TYPE, make_doc_stage_fn
    from xkit.options import DEFAULT_OPTIONS

    out = (
        ("spans", SPANS_TYPE),
        ("first_kind", T.StringType()),
        ("meta", T.MapType(T.StringType(), T.StringType())),
    )

    def doc_fn(kinds, texts, refs, offsets):
        spans = extract_doc(kinds, texts, refs, offsets, DEFAULT_OPTIONS)
        return spans, kinds[0] if kinds else None, [("n", str(len(kinds)))]

    return make_doc_stage_fn(doc_fn, 0, out)


def test_sliced_batch_handled():
    """mapInArrow fns must survive sliced ListArrays (offset != 0)."""
    from xhtmlkit_spark.operators.extract_stage import make_extract_fn
    from xkit.options import DEFAULT_OPTIONS

    span_t = pa.struct(
        [
            pa.field("kind", pa.string()),
            pa.field("text", pa.string()),
            pa.field("media_ref", pa.string()),
            pa.field("offset", pa.int32()),
        ]
    )
    spans = pa.array(
        [
            [{"kind": "html", "text": "<p>doc zero text</p>", "media_ref": None, "offset": 0}],
            [{"kind": "html", "text": "<p>doc one text</p>", "media_ref": None, "offset": 0}],
            [{"kind": "media", "text": None, "media_ref": "m.png", "offset": 0}],
        ],
        type=pa.list_(span_t),
    )
    batch = pa.RecordBatch.from_arrays(
        [pa.array(["d0", "d1", "d2"]), spans], names=["doc_id", "spans"]
    )
    sliced = batch.slice(1, 2)
    fn = make_extract_fn(DEFAULT_OPTIONS, 0)
    (out,) = list(fn(iter([sliced])))
    assert out.column(0).to_pylist() == ["d1", "d2"]
    rows = out.column(1).to_pylist()
    assert rows[0][0]["text"] == "doc one text"
    assert rows[1][0]["media_ref"] == "m.png"

    # a multi-column output spec sees the same documents: the sliced
    # batch's rows equal the unsliced batch's last two rows
    multi = _multi_column_stage_fn()
    (whole,) = list(multi(iter([batch])))
    (part,) = list(multi(iter([sliced])))
    assert part.schema == whole.schema
    assert part.to_pylist() == whole.to_pylist()[1:]
    assert part.to_pylist()[0]["first_kind"] == "html"


def test_null_spans_row():
    from xhtmlkit_spark.operators.extract_stage import make_extract_fn
    from xkit.options import DEFAULT_OPTIONS

    span_t = pa.struct([pa.field("kind", pa.string()), pa.field("text", pa.string()),
                        pa.field("media_ref", pa.string()), pa.field("offset", pa.int32())])
    spans = pa.array([None, [{"kind": "html", "text": "<p>kept text</p>", "media_ref": None, "offset": 0}]],
                     type=pa.list_(span_t))
    batch = pa.RecordBatch.from_arrays([pa.array(["a", "b"]), spans], names=["doc_id", "spans"])
    fn = make_extract_fn(DEFAULT_OPTIONS, 0)
    (out,) = list(fn(iter([batch])))
    rows = out.column(1).to_pylist()
    # NULL input spans stay NULL (not []) — the output ListArray carries
    # the null through, preserving the input's null-vs-empty distinction
    assert rows[0] is None and rows[1][0]["text"] == "kept text"

    # a NULL spans row is NULL in every column of a multi-column spec
    (multi,) = list(_multi_column_stage_fn()(iter([batch])))
    null_row, kept = multi.to_pylist()
    assert null_row == {"doc_id": "a", "spans": None, "first_kind": None, "meta": None}
    assert kept["spans"][0]["text"] == "kept text"
    assert kept["first_kind"] == "html" and kept["meta"] == [("n", "1")]


def test_run_row_stage_fan_out_nulls_and_binary(spark):
    """The row kernel: 0, 1 and N output rows per input row, a NULL
    input value, binary in and out, and a spans column built from a
    ``(k, t, m, o)`` tuple (None → a NULL list); a batch in which no row
    yields anything is an empty batch of the output schema."""
    from pyspark.sql import types as T

    from xhtmlkit_spark.operators.extract_stage import SPANS_TYPE, run_row_stage

    out = (
        ("key", T.StringType()),
        ("i", T.IntegerType()),
        ("blob", T.BinaryType()),
        ("spans", SPANS_TYPE),
    )

    def rows(key, n, blob):
        if n is None:
            return [(key, None, blob, None)]
        return [(key, i, blob[i:], (["text"], [key], [None], [i])) for i in range(n)]

    df = spark.createDataFrame(
        [("zero", 0, b"ab", "x"), ("one", 1, b"\x00\xff", "x"),
         ("three", 3, b"xyz", "x"), ("null", None, None, "x")],
        "key string, n int, blob binary, unused string",
    ).coalesce(1)
    res = run_row_stage(df, ["key", "n", "blob"], rows, out)
    assert [(f.name, f.dataType) for f in res.schema] == list(out)
    got = sorted(
        (r["key"], r["i"], r["blob"], r["spans"] and [tuple(s) for s in r["spans"]])
        for r in res.collect()
    )
    assert got == [
        ("null", None, None, None),
        ("one", 0, b"\x00\xff", [("text", "one", None, 0)]),
        ("three", 0, b"xyz", [("text", "three", None, 0)]),
        ("three", 1, b"yz", [("text", "three", None, 1)]),
        ("three", 2, b"z", [("text", "three", None, 2)]),
    ]

    # every row yields nothing: empty batches of the output schema
    empty = run_row_stage(df, ["key", "n", "blob"], lambda *v: [], out)
    assert empty.collect() == []
    assert empty.schema == res.schema


def test_normalize_xhtml_matches_pure_python(spark, corpus_path):
    import pyarrow.parquet as pq

    from xhtmlkit_spark.operators.normalize_stage import (
        normalize_doc,
        normalize_xhtml,
    )

    got = {
        r["doc_id"]: r["xhtml"]
        for r in normalize_xhtml(spark.read.parquet(corpus_path)).collect()
    }
    expect = {}
    for rec in pq.read_table(corpus_path).to_pylist():
        sp = rec["spans"]
        expect[rec["doc_id"]] = normalize_doc(
            [s["kind"] for s in sp],
            [s["text"] for s in sp],
            [s["offset"] for s in sp],
        )
    assert got == expect
    # the output is well-formed-ish: every doc with markup serialized
    assert any(v and v.startswith("<") for v in got.values())


def test_markdown_docs_matches_pure_python(spark, corpus_path):
    import pyarrow.parquet as pq

    from xhtmlkit_spark.operators.markdown_stage import (
        markdown_doc,
        markdown_docs,
    )

    got = {
        r["doc_id"]: r["markdown"]
        for r in markdown_docs(spark.read.parquet(corpus_path)).collect()
    }
    expect = {}
    for rec in pq.read_table(corpus_path).to_pylist():
        sp = rec["spans"]
        expect[rec["doc_id"]] = markdown_doc(
            [s["kind"] for s in sp],
            [s["text"] for s in sp],
            [s["offset"] for s in sp],
        )
    assert got == expect
    # non-trivial: the synthetic corpus has markup-bearing docs
    assert any(v for v in got.values())


def test_harvest_stages_match_pure_python(spark, corpus_path):
    import pyarrow.parquet as pq

    from xhtmlkit_spark.operators.harvest_stage import (
        doc_links,
        harvest_doc_links,
        harvest_doc_tables,
        table_rows,
    )

    df = spark.read.parquet(corpus_path)
    got_tables: dict = {}
    for r in table_rows(df).collect():
        got_tables.setdefault(r["doc_id"], []).append(
            (r["table_idx"], r["row_idx"], r["is_header"], r["cells"])
        )
    got_links: dict = {}
    for r in doc_links(df).collect():
        got_links.setdefault(r["doc_id"], []).append(
            (r["link_idx"], r["url"], r["anchor_text"])
        )
    n_table_rows = n_links = 0
    for rec in pq.read_table(corpus_path).to_pylist():
        sp = rec["spans"]
        args = (
            [s["kind"] for s in sp],
            [s["text"] for s in sp],
            [s["media_ref"] for s in sp],
            [s["offset"] for s in sp],
        )
        expect_t = harvest_doc_tables(*args)
        assert sorted(got_tables.get(rec["doc_id"], [])) == sorted(expect_t)
        n_table_rows += len(expect_t)
        expect_l = harvest_doc_links(*args)
        assert sorted(got_links.get(rec["doc_id"], [])) == sorted(expect_l)
        n_links += len(expect_l)
    # the synthetic corpus genuinely exercises both projections
    assert n_table_rows > 50 and n_links > 100


def test_media_refs_stage_matches_pure_python(spark, corpus_path):
    import pyarrow.parquet as pq

    from xhtmlkit_spark.operators.harvest_stage import (
        harvest_doc_media,
        media_refs,
    )

    df = spark.read.parquet(corpus_path)
    got: dict = {}
    for r in media_refs(df).collect():
        got.setdefault(r["doc_id"], []).append(
            (r["media_idx"], r["url"], r["media_kind"], r["tag"], r["attr"])
        )
    n = 0
    for rec in pq.read_table(corpus_path).to_pylist():
        sp = rec["spans"]
        expect = harvest_doc_media(
            [s["kind"] for s in sp],
            [s["text"] for s in sp],
            [s["media_ref"] for s in sp],
            [s["offset"] for s in sp],
        )
        assert sorted(got.get(rec["doc_id"], [])) == sorted(expect)
        n += len(expect)
    assert n > 50  # the corpus genuinely carries media markup


def test_sitemap_feed_entries_match_pure_python(spark):
    """sitemap_entries / feed_entries ≡ harvest_sitemap / harvest_feed
    over the same text, entry_idx in document order; a NULL text row
    yields no rows."""
    from xhtmlkit_spark.operators.harvest_stage import feed_entries, sitemap_entries
    from xkit.dom import repair
    from xkit.harvest import harvest_feed, harvest_sitemap
    from xkit.tokenizer import tokenize

    sitemaps = {
        "d1": "<urlset><url><loc>http://a.example/p?x=1&amp;y=2</loc>"
        "<lastmod></lastmod></url><url><loc>http://a.example/q</loc>"
        "<lastmod>2024-01-02</lastmod></url><url><lastmod>2024</lastmod>"
        "</url></urlset>",
        "d2": "<sitemapindex><sitemap><loc>http://a.example/s.xml</loc>"
        "</sitemap></sitemapindex>",
        "d_null": None,
    }
    feeds = {
        "d1": "<rss><channel><title>Chan</title><item><title>One &amp; "
        "two</title><link>http://b.example/1</link><pubDate>Mon, 01 Jan "
        "2024</pubDate></item><item><title></title><link>http://b.example/2"
        "</link></item></channel></rss>",
        "d2": "<feed><entry><title>A</title><link href='http://c.example/"
        "a?x=1&amp;y=2'/><updated>2024-02-02</updated></entry></feed>",
        "d_null": None,
    }
    df = spark.createDataFrame(
        [(d, sitemaps[d], feeds[d]) for d in sitemaps],
        "doc_id string, sitemap_xml string, feed_xml string",
    )

    def expect(texts, harvest):
        out = []
        for did, text in texts.items():
            if text is not None:
                events = repair(tokenize(text))
                out += [(did, i, *e) for i, e in enumerate(harvest(events))]
        return sorted(out)

    got_s = sorted(tuple(r) for r in sitemap_entries(df).collect())
    assert got_s == expect(sitemaps, harvest_sitemap)
    assert ("d1", 0, "http://a.example/p?x=1&y=2", "", False) in got_s
    assert len(got_s) == 3
    got_f = sorted(tuple(r) for r in feed_entries(df).collect())
    assert got_f == expect(feeds, harvest_feed)
    assert ("d1", 1, "rss", None, "http://b.example/2", None) in got_f
    assert len(got_f) == 3


def test_harvest_row_projection_schemas(spark, corpus_path):
    """The five row projections keep their column names and types."""
    from xhtmlkit_spark.operators.harvest_stage import (
        doc_links,
        feed_entries,
        media_refs,
        sitemap_entries,
        table_rows,
    )

    df = spark.read.parquet(corpus_path)
    text = spark.createDataFrame([], "doc_id string, sitemap_xml string, feed_xml string")
    pt = [("doc_id", "string"), ("part", "int")]
    expect = {
        "table_rows": pt + [("table_idx", "int"), ("row_idx", "int"),
                            ("is_header", "boolean"), ("cells", "array<string>")],
        "doc_links": pt + [("link_idx", "int"), ("url", "string"),
                           ("anchor_text", "string")],
        "media_refs": pt + [("media_idx", "int"), ("url", "string"),
                            ("media_kind", "string"), ("tag", "string"),
                            ("attr", "string")],
        "sitemap_entries": [("doc_id", "string"), ("entry_idx", "int"),
                            ("loc", "string"), ("lastmod", "string"),
                            ("is_index", "boolean")],
        "feed_entries": [("doc_id", "string"), ("entry_idx", "int"),
                         ("feed_type", "string"), ("title", "string"),
                         ("url", "string"), ("published", "string")],
    }
    got = {
        "table_rows": table_rows(df),
        "doc_links": doc_links(df),
        "media_refs": media_refs(df),
        "sitemap_entries": sitemap_entries(text),
        "feed_entries": feed_entries(text),
    }
    for name, out in got.items():
        assert [(f.name, f.dataType.simpleString()) for f in out.schema] == expect[name], name


def test_project_docs_matches_single_stages(spark, corpus_path):
    from xhtmlkit_spark.operators.extract_stage import extract_spans
    from xhtmlkit_spark.operators.markdown_stage import markdown_docs
    from xhtmlkit_spark.operators.normalize_stage import normalize_xhtml
    from xhtmlkit_spark.operators.project_stage import project_docs

    df = spark.read.parquet(corpus_path)
    got = {
        r["doc_id"]: (
            [tuple(s) for s in r["spans"]] if r["spans"] is not None else None,
            r["markdown"],
            r["xhtml"],
        )
        for r in project_docs(df, want_xhtml=True).collect()
    }
    spans = {
        r["doc_id"]: [tuple(s) for s in r["spans"]] if r["spans"] is not None else None
        for r in extract_spans(df).collect()
    }
    mds = {r["doc_id"]: r["markdown"] for r in markdown_docs(df).collect()}
    xhs = {r["doc_id"]: r["xhtml"] for r in normalize_xhtml(df).collect()}
    assert set(got) == set(spans)
    for did, (sp, md, xh) in got.items():
        assert sp == spans[did], did
        assert md == mds[did], did
        assert xh == xhs[did], did


def test_page_meta_matches_pure_python(spark, corpus_path):
    import pyarrow.parquet as pq

    from xhtmlkit_spark.operators.harvest_stage import page_meta
    from xkit.dom import repair
    from xkit.harvest import harvest_meta
    from xkit.tokenizer import tokenize

    got = {
        r["doc_id"]: (r["title"], r["lang"], r["canonical"], r["meta"] or {})
        for r in page_meta(spark.read.parquet(corpus_path)).collect()
    }
    n_titled = 0
    for rec in pq.read_table(corpus_path).to_pylist():
        title = lang = canonical = None
        meta: dict = {}
        for s in sorted(rec["spans"], key=lambda s: s["offset"]):
            if s["kind"] != "html" or s["text"] is None:
                continue
            t, lg, cn, m = harvest_meta(repair(tokenize(s["text"])))
            title = title if title is not None else t
            lang = lang if lang is not None else lg
            canonical = canonical if canonical is not None else cn
            for k, v in m.items():
                meta.setdefault(k, v)
        assert got[rec["doc_id"]] == (title, lang, canonical, meta), rec["doc_id"]
        n_titled += title is not None
    assert n_titled > 50  # the synthetic corpus has titled docs


def test_harvest_all_matches_single_stages(spark, corpus_path):
    """Combined one-parse harvest ≡ the three single stages, column
    for column, over the whole synthetic corpus."""
    from pyspark.sql import functions as F

    from xhtmlkit_spark.operators.harvest_stage import (
        doc_links,
        harvest_all,
        page_meta,
        table_rows,
    )

    df = spark.read.parquet(corpus_path)
    combined = {r["doc_id"]: r for r in harvest_all(df).collect()}

    singles_t: dict = {}
    for r in table_rows(df).collect():
        singles_t.setdefault(r["doc_id"], []).append(
            (r["table_idx"], r["row_idx"], r["is_header"], r["cells"])
        )
    for did, r in combined.items():
        got = [
            (t["table_idx"], t["row_idx"], t["is_header"], t["cells"])
            for t in (r["tables"] or [])
        ]
        assert sorted(got) == sorted(singles_t.get(did, [])), did

    singles_l: dict = {}
    for r in doc_links(df).collect():
        singles_l.setdefault(r["doc_id"], []).append(
            (r["link_idx"], r["url"], r["anchor_text"])
        )
    for did, r in combined.items():
        got = [(x["link_idx"], x["url"], x["anchor_text"]) for x in (r["links"] or [])]
        assert got == sorted(singles_l.get(did, [])), did

    for r in page_meta(df).collect():
        c = combined[r["doc_id"]]
        assert (c["title"], c["lang"], c["canonical"], c["meta"]) == (
            r["title"], r["lang"], r["canonical"], r["meta"]
        ), r["doc_id"]


def test_new_stages_survive_null_spans_rows(spark):
    """NULL spans rows and NULL html text through every round-3 stage:
    never a crash, NULL-in → NULL/empty-out (A17 at the column level)."""
    from pyspark.sql import Row

    from xhtmlkit_spark.operators.harvest_stage import (
        doc_links,
        harvest_all,
        media_refs,
        page_meta,
        table_rows,
    )
    from xhtmlkit_spark.operators.markdown_stage import markdown_docs
    from xhtmlkit_spark.operators.normalize_stage import normalize_xhtml
    from xhtmlkit_spark.operators.project_stage import project_docs
    from xhtmlkit_spark.operators.select_stage import select_multi

    span = Row("kind", "text", "media_ref", "offset")
    rows = [
        ("ok", [span("html", "<title>T</title><table><tr><td>c</td></tr>"
                     "</table><a href='u'>l</a><img src='m.png'>", None, 0)], 0),
        ("null_spans", None, 0),
        ("null_text", [span("html", None, None, 0)], 0),
        ("empty_spans", [], 0),
    ]
    df = spark.createDataFrame(
        rows,
        "doc_id string, spans array<struct<kind:string,text:string,"
        "media_ref:string,offset:int>>, part int",
    )
    md = {r["doc_id"]: r["markdown"] for r in markdown_docs(df).collect()}
    assert md["ok"] and md["null_spans"] is None
    assert md["null_text"] is None and md["empty_spans"] is None
    pj = {r["doc_id"]: r for r in project_docs(df, want_xhtml=True).collect()}
    assert pj["null_spans"]["spans"] is None and pj["null_spans"]["xhtml"] is None
    assert pj["ok"]["markdown"]
    assert pj["empty_spans"]["spans"] == []
    tr = table_rows(df).collect()
    assert {r["doc_id"] for r in tr} == {"ok"} and tr[0]["cells"] == ["c"]
    dl = doc_links(df).collect()
    assert {r["doc_id"] for r in dl} == {"ok"} and dl[0]["url"] == "u"
    mr = [tuple(r) for r in media_refs(df).collect()]
    assert mr == [("ok", 0, 0, "m.png", "image", "img", "src")]
    pm = {r["doc_id"]: r for r in page_meta(df).collect()}
    assert pm["ok"]["title"] == "T"
    assert pm["null_spans"]["title"] is None and pm["null_spans"]["meta"] is None
    assert pm["null_text"]["title"] is None
    xh = {r["doc_id"]: r["xhtml"] for r in normalize_xhtml(df).collect()}
    assert xh["ok"] and xh["null_spans"] is None
    assert xh["null_text"] is None and xh["empty_spans"] is None
    sm = {
        r["doc_id"]: r
        for r in select_multi(df, {"cells": "td", "anchors": "a"}).collect()
    }
    assert sm["ok"]["cells"][0]["text"] == "c" and sm["ok"]["anchors"][0]["text"] == "l"
    assert sm["null_spans"]["cells"] is None and sm["null_spans"]["anchors"] is None
    assert sm["null_text"]["cells"] == [] and sm["empty_spans"]["anchors"] == []
    ha = {r["doc_id"]: r for r in harvest_all(df).collect()}
    assert ha["ok"]["tables"][0]["cells"] == ["c"] and ha["ok"]["links"][0]["url"] == "u"
    assert ha["ok"]["title"] == "T"
    assert all(
        ha["null_spans"][c] is None
        for c in ("tables", "links", "title", "lang", "canonical", "meta")
    )
    assert ha["null_text"]["tables"] == [] and ha["null_text"]["meta"] == {}


def test_build_crawl_frontier(spark, tmp_path):
    """Discovery side end-to-end: harvested outlinks → dedupe with
    citation counts → blocklist → robots deny → per-host cap."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from xhtmlkit_spark.datagen import corpus_schema
    from xhtmlkit_spark.plans.frontier import build_crawl_frontier

    def page(*hrefs):
        return "".join(f"<p><a href='{h}'>x</a></p>" for h in hrefs)

    docs = {
        # a.org cited twice from two docs; /private blocked by robots
        "d1": page("http://a.org/ok", "http://a.org/private/x"),
        "d2": page("http://a.org/ok", "http://bad.org/spam"),
        # big.org: three urls, capped to 2
        "d3": page("http://big.org/1", "http://big.org/2", "http://big.org/3"),
        "d4": page("relative/skipped", "http://a.org"),  # bare host → path "/"
    }
    rows = {
        "doc_id": list(docs),
        "spans": [
            [{"kind": "html", "text": h, "media_ref": None, "offset": 0}]
            for h in docs.values()
        ],
        "part": [0, 1, 2, 3],
    }
    corpus = str(tmp_path / "fr_corpus.parquet")
    pq.write_table(pa.Table.from_pydict(rows, schema=corpus_schema()), corpus)

    robots = spark.createDataFrame(
        [("a.org", "User-agent: *\nDisallow: /private/")],
        "host string, robots_txt string",
    )
    out = build_crawl_frontier(
        spark, corpus, robots=robots, blocklist=("bad.org",), per_host_cap=2
    )
    got = {
        r["url"]: (r["host"], r["path"], r["n_refs"], r["first_doc"])
        for r in out.collect()
    }
    assert set(got) == {
        "http://a.org/ok",
        "http://a.org",
        "http://big.org/1",
        "http://big.org/2",
    }
    # citation count + deterministic first referrer
    assert got["http://a.org/ok"] == ("a.org", "/ok", 2, "d1")
    # bare host resolves to the root path
    assert got["http://a.org"][1] == "/"
    # deterministic rerun
    again = {r["url"] for r in out.collect()}
    assert again == set(got)
    # robots off (no cap, so a.org's third url isn't cap-dropped):
    # /private/x reappears; blocklist still applies
    no_robots = {
        r["url"]
        for r in build_crawl_frontier(
            spark, corpus, blocklist=("bad.org",)
        ).collect()
    }
    assert "http://a.org/private/x" in no_robots
    assert not any("bad.org" in u for u in no_robots)


def test_pipeline_resume_skips_done_parts(spark, corpus_path, tmp_path):
    from xhtmlkit_spark.plans.pipeline import run_pipeline

    out = str(tmp_path / "out")
    man = str(tmp_path / "manifest")
    r1 = run_pipeline(spark, corpus_path, out, man, num_partitions=4)
    assert r1["skipped_parts"] == 0 and r1["docs_total"] == 120
    r2 = run_pipeline(spark, corpus_path, out, man, num_partitions=4)
    assert r2["skipped_parts"] == 16
    # fully resumed: nothing processed, nothing rescanned — totals are
    # for THIS run (zero), not the whole landed corpus
    assert (r2["docs_total"], r2["spans_total"]) == (0, 0)
    # the landed output itself is untouched by the no-op rerun
    assert spark.read.parquet(out).count() == r1["docs_total"]


def test_fully_resumed_pipeline_launches_no_extract_or_write_job(
    spark, corpus_path, tmp_path
):
    """A rerun with every part in the manifest stops after the
    resume-filtered ``part`` scan: the manifest read and that scan are
    its only jobs — no extract, write or observe job for zero docs."""
    import uuid

    from xhtmlkit_spark.plans.pipeline import run_pipeline

    out = str(tmp_path / "out")
    man = str(tmp_path / "manifest")
    run_pipeline(spark, corpus_path, out, man, num_partitions=4)
    sc = spark.sparkContext
    group = f"resumed-rerun-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "fully resumed rerun")
    try:
        r = run_pipeline(spark, corpus_path, out, man, num_partitions=4)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert (r["skipped_parts"], r["docs_total"]) == (16, 0)
    # manifest read + resume anti-join + part scan; 9 jobs when the
    # rerun still went on to extract and write an empty output
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 6


def test_pipeline_observed_metrics_match_landed_output(spark, corpus_path, tmp_path):
    """The in-flight observe() metrics must equal what a readback scan
    of the landed output would compute (the previous source of truth)."""
    from pyspark.sql import functions as F

    from xhtmlkit_spark.operators.extract_stage import span_metrics
    from xhtmlkit_spark.plans.pipeline import run_pipeline

    out = str(tmp_path / "out")
    man = str(tmp_path / "manifest")
    run_pipeline(spark, corpus_path, out, man, num_partitions=4)
    readback = {
        r["part"]: (r["n_docs"], r["n_spans"], r["n_chars"])
        for r in span_metrics(spark.read.parquet(out))
        .groupBy("part")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_spans").cast("long").alias("n_spans"),
            F.sum("n_chars").alias("n_chars"),
        )
        .collect()
    }
    manifest = {
        r["part"]: (r["n_docs"], r["n_spans"], r["n_chars"])
        for r in spark.read.parquet(man).collect()
    }
    assert manifest == readback


def test_entry_contract_smoke(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    assert df.columns == ["doc_id", "pos", "kind", "text", "media_ref"]
    assert df.limit(5).count() > 0
    qs, os_ = e.queries(), e.oracle_sql()
    assert set(os_) <= set(qs)  # every oracle has a query


def test_build_training_corpus_funnel(spark, corpus_path, tmp_path):
    """End-to-end composition: extract → stats → dedup → filter →
    sample → write, funnel observed on the single write job."""
    from xhtmlkit_spark.plans.training import build_training_corpus

    out = str(tmp_path / "train")
    funnel = build_training_corpus(
        spark,
        corpus_path,
        out,
        langs=("en", "de", "fr", "es", "zh"),
        min_quality=0.0,
        min_tokens=1,
        sample_rate=0.5,
    )
    # monotone funnel, all stages populated
    assert (
        funnel["extracted"]
        >= funnel["deduped"]
        >= funnel["lang_kept"]
        >= funnel["quality_kept"]
        >= funnel["written"]
        > 0
    )
    assert funnel["extracted"] == 120
    landed = spark.read.parquet(out)
    assert landed.count() == funnel["written"]
    assert set(landed.columns) == {
        "doc_id", "text", "lang_guess", "quality_score_u", "n_tokens"
    }
    # sampling is deterministic: rerun writes the identical doc set
    funnel2 = build_training_corpus(
        spark, corpus_path, str(tmp_path / "train2"),
        langs=("en", "de", "fr", "es", "zh"), min_quality=0.0,
        min_tokens=1, sample_rate=0.5,
    )
    ids = lambda p: {r["doc_id"] for r in spark.read.parquet(p).select("doc_id").collect()}
    assert ids(out) == ids(str(tmp_path / "train2")) and funnel == {**funnel2, "output_path": out}


def test_build_training_corpus_near_dup_tier(spark, tmp_path):
    """Planted NEAR-duplicates (not byte-identical) must collapse to one
    survivor per group through the builder's near-dup keeper tier, with
    the funnel still monotone, the rerun deterministic, and the landed
    count equal to the observed `written`."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from xhtmlkit_spark.datagen import corpus_schema
    from xhtmlkit_spark.plans.training import build_training_corpus

    base = (
        "the quick brown fox jumps over the lazy dog and then the fox "
        "runs through the quiet field while the dog sleeps near the "
        "old barn under the warm summer sun with the birds singing in "
        "the tall green trees beside the slow river all afternoon long"
    )
    variant = base.replace("summer", "winter")  # 1 of ~48 words differs
    variant2 = base.replace("singing", "calling")
    docs = {
        "nd_a": base,
        "nd_b": variant,
        "nd_c": variant2,
        "ex_a": "an entirely different page about spark shuffles and "
        "partitions that we keep twice for the exact tier to catch",
        "ex_b": "an entirely different page about spark shuffles and "
        "partitions that we keep twice for the exact tier to catch",
        "uniq": "this single unique document about parquet readers and "
        "arrow batches survives every dedup tier on its own",
    }
    rows = {
        "doc_id": list(docs),
        "spans": [
            [{"kind": "html", "text": f"<p>{t}</p>", "media_ref": None, "offset": 0}]
            for t in docs.values()
        ],
        "part": [0, 1, 2, 3, 0, 1],
    }
    corpus = str(tmp_path / "nd_corpus.parquet")
    pq.write_table(pa.Table.from_pydict(rows, schema=corpus_schema()), corpus)

    out = str(tmp_path / "train_nd")
    funnel = build_training_corpus(
        spark, corpus, out, langs=("en",), min_quality=0.0, min_tokens=1,
        near_dup="both",
    )
    assert funnel["extracted"] == 6
    # one survivor per group: {nd_a,nd_b,nd_c} -> nd_a, {ex_a,ex_b} -> ex_a
    assert funnel["deduped"] == 3
    assert funnel["extracted"] >= funnel["deduped"] >= funnel["written"] > 0
    landed = spark.read.parquet(out)
    ids = {r["doc_id"] for r in landed.select("doc_id").collect()}
    assert ids == {"nd_a", "ex_a", "uniq"}
    assert landed.count() == funnel["written"]
    # deterministic rerun, landed set unchanged
    out2 = str(tmp_path / "train_nd2")
    funnel2 = build_training_corpus(
        spark, corpus, out2, langs=("en",), min_quality=0.0, min_tokens=1,
        near_dup="both",
    )
    assert funnel == {**funnel2, "output_path": out}
    ids2 = {r["doc_id"] for r in spark.read.parquet(out2).select("doc_id").collect()}
    assert ids2 == ids
    # exact-only tier keeps the near-dups (proves the tier is the cause)
    funnel_exact = build_training_corpus(
        spark, corpus, str(tmp_path / "train_ex"), langs=("en",),
        min_quality=0.0, min_tokens=1, near_dup=None,
    )
    assert funnel_exact["deduped"] == 5


def test_build_training_corpus_line_dedup_and_pii_tiers(spark, tmp_path):
    """dedup_lines + redact_pii composed into the funnel: the shared
    boilerplate paragraph survives only in its first document, a doc
    made ENTIRELY of previously-seen lines still counts as extracted
    but never lands, and landed text carries PII placeholders instead
    of the planted email/phone."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from xhtmlkit_spark.datagen import corpus_schema
    from xhtmlkit_spark.plans.training import build_training_corpus

    boiler = (
        "subscribe to the newsletter of this site and follow the team "
        "for all of the updates about the product every single week"
    )
    docs = {
        "a": [
            "the first page is about the spark shuffle and the way a "
            "partition of the data moves between the stages of a job",
            boiler,
        ],
        "b": [
            "the second page is about the parquet reader and the arrow "
            "batches that a scan of the table produces for the engine",
            boiler,  # duplicate line: must vanish here
        ],
        "c": [boiler],  # ALL lines seen before → extracted but never lands
        "d": [
            "write to the team at team@example.org or dial 555-010-4242 "
            "for any of the questions about the product and the billing",
        ],
    }
    rows = {
        "doc_id": list(docs),
        "spans": [
            [
                {"kind": "html", "text": "".join(f"<p>{p}</p>" for p in ps),
                 "media_ref": None, "offset": 0}
            ]
            for ps in docs.values()
        ],
        "part": [0, 1, 2, 3],
    }
    corpus = str(tmp_path / "lp_corpus.parquet")
    pq.write_table(pa.Table.from_pydict(rows, schema=corpus_schema()), corpus)

    out = str(tmp_path / "train_lp")
    funnel = build_training_corpus(
        spark, corpus, out, langs=("en",), min_quality=0.0, min_tokens=1,
        near_dup=None, dedup_lines=True, redact_pii=True,
    )
    assert funnel["extracted"] == 4
    assert funnel["lines_total"] == 6 and funnel["lines_kept"] == 4
    assert funnel["pii_matches"] == 2
    assert funnel["written"] == 3  # doc c died (no surviving lines)
    landed = {
        r["doc_id"]: r["text"]
        for r in spark.read.parquet(out).select("doc_id", "text").collect()
    }
    assert set(landed) == {"a", "b", "d"}
    assert boiler in landed["a"] and boiler not in landed["b"]
    assert "<EMAIL>" in landed["d"] and "<PHONE>" in landed["d"]
    assert "team@example.org" not in landed["d"] and "555-010-4242" not in landed["d"]
    # deterministic rerun
    out2 = str(tmp_path / "train_lp2")
    funnel2 = build_training_corpus(
        spark, corpus, out2, langs=("en",), min_quality=0.0, min_tokens=1,
        near_dup=None, dedup_lines=True, redact_pii=True,
    )
    assert funnel == {**funnel2, "output_path": out}
    # tiers off: boilerplate stays everywhere, PII lands raw
    funnel_off = build_training_corpus(
        spark, corpus, str(tmp_path / "train_lp_off"), langs=("en",),
        min_quality=0.0, min_tokens=1, near_dup=None,
    )
    assert funnel_off["written"] == 4
    assert "lines_total" not in funnel_off and "pii_matches" not in funnel_off


def test_build_training_corpus_emit_markdown(spark, tmp_path):
    """emit_markdown lands the model-facing markdown view next to text
    via the fused projection (no extra parse), identical to the
    single-stage renderer, with PII scrubbed from BOTH views."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from xhtmlkit_spark.datagen import corpus_schema
    from xhtmlkit_spark.operators.markdown_stage import markdown_doc
    from xhtmlkit_spark.plans.training import build_training_corpus

    html_a = (
        "<h1>Spark Notes</h1><p>the first page is about the spark "
        "shuffle and the way a partition of the data moves between "
        "the stages of a job</p><ul><li>first item of the page"
        "<li>second item of the page</ul>"
    )
    html_b = (
        "<p>write to the team at team@example.org for any of the "
        "questions about the product and the billing of the account</p>"
    )
    rows = {
        "doc_id": ["a", "b"],
        "spans": [
            [{"kind": "html", "text": h, "media_ref": None, "offset": 0}]
            for h in (html_a, html_b)
        ],
        "part": [0, 1],
    }
    corpus = str(tmp_path / "md_corpus.parquet")
    pq.write_table(pa.Table.from_pydict(rows, schema=corpus_schema()), corpus)

    out = str(tmp_path / "train_md")
    funnel = build_training_corpus(
        spark, corpus, out, langs=("en",), min_quality=0.0, min_tokens=1,
        near_dup=None, redact_pii=True, emit_markdown=True,
    )
    assert funnel["written"] == 2
    landed = {
        r["doc_id"]: (r["text"], r["markdown"])
        for r in spark.read.parquet(out).collect()
    }
    # markdown is the structural view, text the flat one
    assert landed["a"][1].startswith("# Spark Notes")
    assert "- first item of the page" in landed["a"][1]
    assert "#" not in landed["a"][0]
    # identical to the single-stage renderer (pre-redaction doc b aside)
    sp = [{"kind": "html", "text": html_a, "media_ref": None, "offset": 0}]
    assert landed["a"][1] == markdown_doc(
        [s["kind"] for s in sp], [s["text"] for s in sp], [s["offset"] for s in sp]
    )
    # PII scrubbed from BOTH views
    for view in landed["b"]:
        assert "<EMAIL>" in view and "team@example.org" not in view
    assert funnel["pii_matches"] == 1  # raw-TEXT count, not doubled


def test_build_training_corpus_ensemble_quality_tier(spark, tmp_path):
    """ensemble_threshold swaps the scalar quality gate for the
    multi-signal score: the repetitive-junk doc dies while the prose
    docs land; the funnel stays monotone and deterministic."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from xhtmlkit_spark.datagen import corpus_schema
    from xhtmlkit_spark.plans.training import build_training_corpus

    docs = {
        "good_a": "the quick brown fox jumps over a lazy dog and it runs to "
                  "the river for a drink of cold water in the morning light",
        "good_b": "a second page of the same friendly prose about the fox and "
                  "the dog and the river and the warm light of the morning",
        "junk": "! " * 80,  # repetitive punctuation: ensemble drops it
    }
    rows = {
        "doc_id": list(docs),
        "spans": [
            [{"kind": "html", "text": f"<p>{t}</p>", "media_ref": None, "offset": 0}]
            for t in docs.values()
        ],
        "part": [0, 1, 2],
    }
    corpus = str(tmp_path / "ens_corpus.parquet")
    pq.write_table(pa.Table.from_pydict(rows, schema=corpus_schema()), corpus)

    out = str(tmp_path / "train_ens")
    funnel = build_training_corpus(
        spark, corpus, out, langs=("en",), min_quality=0.0, min_tokens=1,
        near_dup=None, ensemble_threshold=0.5,
    )
    assert funnel["extracted"] == 3 and funnel["quality_kept"] == 2
    landed = {r["doc_id"] for r in spark.read.parquet(out).collect()}
    assert landed == {"good_a", "good_b"}
    # scalar gate at 0.0 keeps the junk — proves the tier is the cause
    funnel_scalar = build_training_corpus(
        spark, corpus, str(tmp_path / "train_sc"), langs=("en",),
        min_quality=0.0, min_tokens=1, near_dup=None,
    )
    assert funnel_scalar["quality_kept"] == 3


def test_ingest_html_files_sniffs_encoding(spark, tmp_path):
    """Raw .html files → corpus rows: BOM and <meta> charsets honored,
    output feeds extract_spans directly."""
    from xhtmlkit_spark.operators.extract_stage import extract_spans
    from xhtmlkit_spark.sources.io import ingest_html_files

    d = tmp_path / "crawl"
    d.mkdir()
    (d / "utf8bom.html").write_bytes(
        b"\xef\xbb\xbf<p>bom caf\xc3\xa9 text here</p>"
    )
    (d / "cp1252.html").write_bytes(
        "<meta charset=windows-1252><p>café crème page</p>".encode("cp1252")
    )
    (d / "plain.html").write_bytes(b"<p>plain utf8 page text</p>")
    (d / "notes.txt").write_bytes(b"ignored by glob")
    corpus = ingest_html_files(spark, str(d))
    docs = {r["doc_id"]: r["spans"] for r in corpus.collect()}
    assert set(docs) == {"utf8bom.html", "cp1252.html", "plain.html"}
    assert all(len(v) == 1 and v[0]["kind"] == "html" for v in docs.values())
    out = {
        r["doc_id"]: [s["text"] for s in r["spans"] if s["kind"] == "text"]
        for r in extract_spans(corpus, passthrough=()).collect()
    }
    assert out["utf8bom.html"] == ["bom café text here"]
    assert out["cp1252.html"] == ["café crème page"]
    assert out["plain.html"] == ["plain utf8 page text"]


def test_select_and_normalize_deterministic_across_parallelism(spark, corpus_path):
    """Like the extract determinism gate: the salt layout must never
    change selector or normalization output."""
    from xhtmlkit_spark.operators.normalize_stage import normalize_xhtml
    from xhtmlkit_spark.operators.select_stage import select_spans
    from xhtmlkit_spark.plans.pipeline import with_size_salt

    df = spark.read.parquet(corpus_path)
    # compare the OUTPUT column (spans/xhtml), not the part passthrough
    # — r[1] would be 'part', identical across layouts by construction
    norm = lambda rows, col: sorted((r["doc_id"], str(r[col])) for r in rows)
    a = select_spans(with_size_salt(df, 2), "table td, img").collect()
    b = select_spans(with_size_salt(df, 16), "table td, img").collect()
    assert norm(a, "spans") == norm(b, "spans")
    assert any(r["spans"] for r in a)  # non-vacuous: selectors matched
    na = normalize_xhtml(with_size_salt(df, 2)).collect()
    nb = normalize_xhtml(with_size_salt(df, 16)).collect()
    assert norm(na, "xhtml") == norm(nb, "xhtml")


def test_ingest_to_pipeline_roundtrip(spark, tmp_path):
    """Glue path a crawl user takes: raw .html dir → ingest → landed
    corpus → resumable extraction pipeline with manifest."""
    from xhtmlkit_spark.plans.pipeline import run_pipeline
    from xhtmlkit_spark.sources.io import ingest_html_files

    crawl = tmp_path / "crawl"
    crawl.mkdir()
    for i in range(8):
        (crawl / f"page{i}.html").write_bytes(
            (
                "<nav><a href=/x>nav</a></nav>"
                f"<p>real content of crawled page number {i} with enough words</p>"
                f'<img src="/img/{i}.png">'
            ).encode()
        )
    corpus = str(tmp_path / "corpus")
    ingest_html_files(spark, str(crawl)).write.parquet(corpus)
    out = str(tmp_path / "out")
    man = str(tmp_path / "man")
    r1 = run_pipeline(spark, corpus, out, man, num_partitions=2)
    assert r1["docs_total"] == 8 and r1["spans_total"] == 16  # text + media each
    landed = {
        r["doc_id"]: [(s["kind"], s["text"], s["media_ref"]) for s in r["spans"]]
        for r in spark.read.parquet(out).collect()
    }
    assert landed["page3.html"] == [
        ("text", "real content of crawled page number 3 with enough words", None),
        ("media", None, "/img/3.png"),
    ]
    # resumable: second run is a no-op
    r2 = run_pipeline(spark, corpus, out, man, num_partitions=2)
    assert r2["docs_total"] == 0 and spark.read.parquet(out).count() == 8


def test_ingest_interleaved_html_and_pdf(spark, tmp_path):
    """Mixed .html + .pdf ingest (the interleaved file shape): pdf
    files land as pdf spans (latin-1-lossless bytes) and extract
    through the SAME pipeline as html docs."""
    from xhtmlkit_spark.operators.extract_stage import extract_spans
    from xhtmlkit_spark.sources.io import ingest_html_files
    from xkit.pdfmini import make_fixture_pdf

    d = tmp_path / "mixed"
    d.mkdir()
    (d / "page.html").write_bytes(b"<p>an html page of real text</p>")
    pdf_bytes = make_fixture_pdf([["pdf block one"], ["pdf block two"]])
    if isinstance(pdf_bytes, str):
        pdf_bytes = pdf_bytes.encode("latin-1")
    (d / "doc.pdf").write_bytes(pdf_bytes)
    corpus = ingest_html_files(spark, str(d), glob="*")
    kinds = {r["doc_id"]: r["spans"][0]["kind"] for r in corpus.collect()}
    assert kinds == {"page.html": "html", "doc.pdf": "pdf"}
    out = {
        r["doc_id"]: [s["text"] for s in r["spans"] if s["kind"] == "text"]
        for r in extract_spans(corpus, passthrough=()).collect()
    }
    assert out["page.html"] == ["an html page of real text"]
    assert out["doc.pdf"] == ["pdf block one", "pdf block two"]


def test_ingest_html_files_same_basename_distinct_doc_ids(spark, tmp_path):
    """Two files with the same basename in different subdirs must land
    as distinct docs (doc_id = path relative to the ingest root), not
    silently collide into one."""
    from xhtmlkit_spark.sources.io import ingest_html_files

    d = tmp_path / "roots"
    (d / "a").mkdir(parents=True)
    (d / "b").mkdir()
    (d / "a" / "page.html").write_bytes(b"<p>from dir a with words</p>")
    (d / "b" / "page.html").write_bytes(b"<p>from dir b with words</p>")
    corpus = ingest_html_files(spark, str(d), recursive=True)
    rows = {r["doc_id"]: r["spans"][0]["text"] for r in corpus.collect()}
    assert set(rows) == {"a/page.html", "b/page.html"}
    assert "dir a" in rows["a/page.html"] and "dir b" in rows["b/page.html"]


def _iceberg_available(spark) -> bool:
    """True when an Iceberg runtime + catalog is usable in this session."""
    try:
        spark._jvm.java.lang.Class.forName(
            "org.apache.iceberg.spark.source.IcebergSource"
        )
        return True
    except Exception:
        return False


def test_iceberg_write_read_roundtrip(spark, corpus_path, tmp_path):
    """Prod-path seam (SURVEY §0: no Iceberg jar ships in the sandbox,
    so this skips here and lights up the day a real cluster runs the
    suite): extract → write_spans(fmt='iceberg') → read_corpus must
    round-trip with the part column and span schema unchanged."""
    if not _iceberg_available(spark):
        pytest.skip("no Iceberg runtime jar in this environment")
    from pyspark.sql import functions as F

    from xhtmlkit_spark.operators.extract_stage import extract_spans
    from xhtmlkit_spark.plans.pipeline import derive_part
    from xhtmlkit_spark.sources.io import read_corpus, write_spans

    out = extract_spans(derive_part(spark.read.parquet(corpus_path))).select(
        "doc_id", "spans", "part"
    )
    table = "xkit_test.spans_roundtrip"
    spark.sql("CREATE NAMESPACE IF NOT EXISTS xkit_test")
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    spark.sql(
        f"CREATE TABLE {table} (doc_id string, "
        "spans array<struct<kind:string,text:string,media_ref:string,offset:int>>, "
        "part int) USING iceberg PARTITIONED BY (part)"
    )
    write_spans(out, table, fmt="iceberg")
    back = read_corpus(spark, table, fmt="iceberg")
    assert set(back.columns) == {"doc_id", "spans", "part"}
    assert back.count() == out.count()
    # dynamic partition overwrite: rewriting ONE part leaves others alone
    one_part = out.where(F.col("part") == out.select("part").first()["part"])
    write_spans(one_part, table, fmt="iceberg")
    assert read_corpus(spark, table, fmt="iceberg").count() == out.count()


def test_build_training_corpus_incremental_exclusion(spark, tmp_path):
    """v2 builds with exclude_corpus_path must drop content already in
    v1: byte-identical docs via the exact content-key tier, near-dup
    variants via the cross-corpus LSH tier; genuinely new docs land."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from xhtmlkit_spark.datagen import corpus_schema
    from xhtmlkit_spark.plans.training import build_training_corpus

    base = (
        "the quick brown fox jumps over the lazy dog and then the fox "
        "runs through the quiet field while the dog sleeps near the "
        "old barn under the warm summer sun with the birds singing in "
        "the tall green trees beside the slow river all afternoon long"
    )

    def write_corpus(path, docs):
        rows = {
            "doc_id": list(docs),
            "spans": [
                [{"kind": "html", "text": f"<p>{t}</p>", "media_ref": None, "offset": 0}]
                for t in docs.values()
            ],
            "part": list(range(len(docs))),
        }
        pq.write_table(pa.Table.from_pydict(rows, schema=corpus_schema()), path)

    v1_corpus = str(tmp_path / "v1_corpus.parquet")
    write_corpus(v1_corpus, {"v1_a": base})
    v1_out = str(tmp_path / "train_v1")
    build_training_corpus(
        spark, v1_corpus, v1_out, langs=("en",), min_quality=0.0, min_tokens=1
    )

    v2_corpus = str(tmp_path / "v2_corpus.parquet")
    write_corpus(
        v2_corpus,
        {
            "v2_copy": base,                              # exact tier
            "v2_near": base.replace("summer", "winter"),  # cross-LSH tier
            "v2_new": "a brand new page about iceberg snapshot lineage "
            "and manifest files that no earlier corpus ever contained",
        },
    )
    v2_out = str(tmp_path / "train_v2")
    funnel = build_training_corpus(
        spark, v2_corpus, v2_out, langs=("en",), min_quality=0.0, min_tokens=1,
        exclude_corpus_path=v1_out,
    )
    ids = {r["doc_id"] for r in spark.read.parquet(v2_out).select("doc_id").collect()}
    assert ids == {"v2_new"}
    assert funnel["extracted"] == 3 and funnel["deduped"] == 1
    assert funnel["written"] == 1

    # without exclusion the same corpus keeps a representative of each
    funnel_all = build_training_corpus(
        spark, v2_corpus, str(tmp_path / "train_v2_all"), langs=("en",),
        min_quality=0.0, min_tokens=1,
    )
    assert funnel_all["deduped"] == 2  # v2_copy≈v2_near collapse, v2_new


def test_bucketed_tables_join_without_shuffle(spark, tmp_path):
    """write_bucketed: two tables bucketed on the join key sort-merge
    join with ZERO exchanges — the 100 TB co-located-join layout."""
    from xhtmlkit_spark.sources.io import write_bucketed

    spark.sql(f"CREATE DATABASE IF NOT EXISTS bkt_test LOCATION '{tmp_path}'")
    try:
        a = spark.range(0, 1000).selectExpr("id AS k", "id * 2 AS va")
        b = spark.range(0, 1000).selectExpr("id AS k", "id * 3 AS vb")
        write_bucketed(a, "bkt_test.ta", "k", n_buckets=4)
        write_bucketed(b, "bkt_test.tb", "k", n_buckets=4)

        ta, tb = spark.table("bkt_test.ta"), spark.table("bkt_test.tb")
        joined = ta.hint("merge").join(tb, "k")
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan, plan
        assert "Exchange hashpartitioning" not in plan, plan
        assert joined.count() == 1000

        # contrast: the same data as plain path parquet DOES shuffle
        pa_, pb_ = str(tmp_path / "pa"), str(tmp_path / "pb")
        a.write.mode("overwrite").parquet(pa_)
        b.write.mode("overwrite").parquet(pb_)
        plain = (
            spark.read.parquet(pa_).hint("merge").join(spark.read.parquet(pb_), "k")
        )
        plan2 = plain._jdf.queryExecution().executedPlan().toString()
        assert "Exchange hashpartitioning" in plan2, plan2
    finally:
        spark.sql("DROP DATABASE IF EXISTS bkt_test CASCADE")


def test_build_training_corpus_all_tiers_on(spark, corpus_path, tmp_path):
    """Every funnel tier enabled at once — markdown view, line dedup,
    PII scrub, near-dup keepers, ensemble gate, packing — over the
    real synthetic corpus: tiers must compose (checkpoint carries the
    markdown column through the CC rounds), the funnel stays monotone,
    and the landed output has both views plus a valid packing plan."""
    from xhtmlkit_spark.plans.training import build_training_corpus

    out = str(tmp_path / "train_all")
    funnel = build_training_corpus(
        spark,
        corpus_path,
        out,
        langs=("en", "de", "fr", "es", "zh"),
        min_quality=0.0,
        min_tokens=1,
        near_dup="both",
        dedup_lines=True,
        redact_pii=True,
        ensemble_threshold=0.0,
        pack_context_len=64,
        emit_markdown=True,
    )
    assert (
        funnel["extracted"]
        >= funnel["deduped"]
        >= funnel["lang_kept"]
        >= funnel["quality_kept"]
        >= funnel["written"]
        > 0
    )
    landed = spark.read.parquet(out)
    assert {"doc_id", "text", "markdown", "lang_guess"} <= set(landed.columns)
    some = landed.where("markdown IS NOT NULL").count()
    assert some > 0
    plan = spark.read.parquet(funnel["pack_output_path"])
    assert plan.count() == funnel["plan_rows"] > 0
    # deterministic rerun of the whole stack
    funnel2 = build_training_corpus(
        spark, corpus_path, str(tmp_path / "train_all2"),
        langs=("en", "de", "fr", "es", "zh"), min_quality=0.0, min_tokens=1,
        near_dup="both", dedup_lines=True, redact_pii=True,
        ensemble_threshold=0.0, pack_context_len=64, emit_markdown=True,
    )
    assert funnel == {
        **funnel2,
        "output_path": out,
        "pack_output_path": out + "_pack",
    }


def test_build_training_corpus_decontaminate_tiers(spark, tmp_path):
    """Benchmark decontamination composed into the funnel, both modes:
    'drop' kills the quoting doc at its own funnel stage; 'excise' cuts
    exactly the quoted token run and keeps the doc, with span/token
    counts riding the observed write. A doc that IS the benchmark
    excises to empty text and dies at the token floor."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    import pytest as _pytest

    from xhtmlkit_spark.datagen import corpus_schema
    from xhtmlkit_spark.plans.training import build_training_corpus

    bench_passage = (
        "the capital of france is paris and the old tower stands tall"
    )  # 12 tokens -> 10 contaminated 3-shingles
    prefix = (
        "this page talks about travel plans for the spring and lists "
        "a few of the cities that the group wants to visit soon"
    )
    suffix = "after the quote the page closes with a short note about trains"
    docs = {
        "quoter": f"{prefix} {bench_passage} {suffix}",
        "clean": (
            "an entirely separate page about spark partitions and the "
            "way a shuffle moves the rows of a table between the stages"
        ),
        "full": bench_passage,  # 100% contaminated
    }
    rows = {
        "doc_id": list(docs),
        "spans": [
            [{"kind": "html", "text": f"<p>{t}</p>", "media_ref": None, "offset": 0}]
            for t in docs.values()
        ],
        "part": [0, 1, 2],
    }
    corpus = str(tmp_path / "decon_corpus.parquet")
    pq.write_table(pa.Table.from_pydict(rows, schema=corpus_schema()), corpus)
    bench = str(tmp_path / "benchmark.parquet")
    pq.write_table(
        pa.Table.from_pydict({"text": [bench_passage]}), bench
    )

    common = dict(
        langs=("en",), min_quality=0.0, min_tokens=2, near_dup=None,
        benchmark_path=bench,
    )
    # --- drop mode: both overlapping docs die at the decontam stage ---
    out_d = str(tmp_path / "train_drop")
    fd = build_training_corpus(
        spark, corpus, out_d, decontaminate="drop",
        contamination_threshold=0.05, **common,
    )
    assert fd["extracted"] == 3 and fd["deduped"] == 3
    assert fd["quality_kept"] >= fd["decontam_kept"] >= fd["written"]
    landed_d = {r["doc_id"] for r in spark.read.parquet(out_d).collect()}
    assert landed_d == {"clean"}
    assert fd["decontam_kept"] == 1 == fd["written"]

    # --- excise mode: the quote is cut, the quoting doc survives ---
    out_e = str(tmp_path / "train_excise")
    fe = build_training_corpus(
        spark, corpus, out_e, decontaminate="excise", **common,
    )
    assert fe["extracted"] == 3
    landed_e = {
        r["doc_id"]: r["text"]
        for r in spark.read.parquet(out_e).select("doc_id", "text").collect()
    }
    # 'full' excised to empty -> token floor; quoter + clean land
    assert set(landed_e) == {"quoter", "clean"}
    assert "paris" not in landed_e["quoter"]
    assert landed_e["quoter"] == f"{prefix} {suffix}"
    assert landed_e["clean"] == docs["clean"]  # untouched docs byte-equal
    # one span each in quoter and full, covering exactly the passage
    assert fe["contam_spans_excised"] == 2
    assert fe["contam_tokens_excised"] == 2 * len(bench_passage.split())
    # deterministic rerun
    fe2 = build_training_corpus(
        spark, corpus, str(tmp_path / "train_excise2"), decontaminate="excise",
        **common,
    )
    assert fe == {**fe2, "output_path": out_e}

    # --- guard rails ---
    with _pytest.raises(ValueError, match="benchmark_path"):
        build_training_corpus(
            spark, corpus, str(tmp_path / "x"), decontaminate="drop",
            langs=("en",),
        )
    with _pytest.raises(ValueError, match="markdown"):
        build_training_corpus(
            spark, corpus, str(tmp_path / "x"), decontaminate="excise",
            emit_markdown=True, **common,
        )


def test_build_training_corpus_pack_plan(spark, corpus_path, tmp_path):
    """pack_context_len finishes the funnel with a packing plan over
    the LANDED corpus: every landed token covered exactly once, every
    chunk full except the last, metrics riding the plan write."""
    from xhtmlkit_spark.plans.training import build_training_corpus

    out = str(tmp_path / "train")
    funnel = build_training_corpus(
        spark,
        corpus_path,
        out,
        langs=("en", "de", "fr", "es", "zh"),
        min_quality=0.0,
        min_tokens=1,
        pack_context_len=32,
    )
    assert funnel["pack_output_path"] == out + "_pack"
    plan = spark.read.parquet(funnel["pack_output_path"])
    rows = plan.collect()
    assert len(rows) == funnel["plan_rows"] > 0

    landed = {
        r["doc_id"]: r["n_tokens"]
        for r in spark.read.parquet(out).select("doc_id", "n_tokens").collect()
    }
    # every landed doc fully covered, nothing else in the plan
    per_doc: dict = {}
    by_chunk: dict = {}
    for r in rows:
        assert r["doc_id"] in landed
        per_doc[r["doc_id"]] = per_doc.get(r["doc_id"], 0) + r["tok_len"]
        by_chunk[r["chunk_id"]] = by_chunk.get(r["chunk_id"], 0) + r["tok_len"]
    assert per_doc == landed
    assert funnel["packed_tokens"] == sum(landed.values())
    assert funnel["chunks"] == max(by_chunk) + 1 == len(by_chunk)
    last = max(by_chunk)
    assert all(v == 32 for c, v in by_chunk.items() if c != last)
    assert 0 < by_chunk[last] <= 32

    # deterministic rerun: identical plan
    funnel2 = build_training_corpus(
        spark, corpus_path, str(tmp_path / "train2"),
        langs=("en", "de", "fr", "es", "zh"), min_quality=0.0,
        min_tokens=1, pack_context_len=32,
    )
    plan2 = spark.read.parquet(funnel2["pack_output_path"])
    assert sorted(map(tuple, rows)) == sorted(map(tuple, plan2.collect()))


def test_build_training_corpus_dedup_passages_tier(spark, tmp_path):
    """Corpus-self passage dedup composed into the funnel: a passage
    shared by two documents survives ONLY in the smallest-doc_id
    keeper; the other document keeps its unique text with the passage
    cut; untouched docs land byte-identical; span/token counts ride
    the observed write; rerun is deterministic."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from xhtmlkit_spark.datagen import corpus_schema
    from xhtmlkit_spark.plans.training import build_training_corpus

    passage = "all rights reserved by the example press syndicate group"  # 9 toks
    docs = {
        "a_keeper": f"unique lead for the first page {passage}",
        "b_loser": f"{passage} and then a different tail for the second page",
        "c_clean": (
            "a wholly separate page about partitions and the way a shuffle "
            "moves rows between the stages of a job"
        ),
    }
    rows = {
        "doc_id": list(docs),
        "spans": [
            [{"kind": "html", "text": f"<p>{t}</p>", "media_ref": None, "offset": 0}]
            for t in docs.values()
        ],
        "part": [0, 1, 2],
    }
    corpus = str(tmp_path / "pass_corpus.parquet")
    pq.write_table(pa.Table.from_pydict(rows, schema=corpus_schema()), corpus)

    out = str(tmp_path / "train_pass")
    f = build_training_corpus(
        spark, corpus, out, langs=("en",), min_quality=0.0, min_tokens=2,
        near_dup=None, dedup_passages=True, passage_k=4,
    )
    landed = {
        r["doc_id"]: r["text"]
        for r in spark.read.parquet(out).select("doc_id", "text").collect()
    }
    assert set(landed) == set(docs)
    # keeper (min doc_id among sharers) keeps the passage verbatim
    assert landed["a_keeper"] == docs["a_keeper"]
    # the other sharer loses exactly the passage
    assert landed["b_loser"] == "and then a different tail for the second page"
    assert landed["c_clean"] == docs["c_clean"]
    # one span in b_loser covering the 9-token passage
    assert f["passage_spans_excised"] == 1
    assert f["passage_tokens_excised"] == len(passage.split())
    # deterministic rerun
    f2 = build_training_corpus(
        spark, corpus, str(tmp_path / "train_pass2"), langs=("en",),
        min_quality=0.0, min_tokens=2, near_dup=None,
        dedup_passages=True, passage_k=4,
    )
    assert f == {**f2, "output_path": out}
