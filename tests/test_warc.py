"""WARC container format: parser unit tests + the Spark ingest path."""

from __future__ import annotations

import gzip

import pytest

from tests.warc_fixtures import build_warc, http_response_block
from xkit.warc import build_record, http_payload, iter_warc


@pytest.fixture(scope="session")
def spark():
    from xhtmlkit_spark.session import get_spark

    yield get_spark("local[2]", shuffle_partitions=4, app_name="xkit-tests")


def _html_response(uri: str, body: bytes, ctype: str = "text/html", status: int = 200, **kw):
    return build_record(
        "response",
        http_response_block(body, status=status, content_type=ctype, **kw),
        target_uri=uri,
        content_type="application/http; msgtype=response",
    )


def _fixture_records():
    return [
        build_record("warcinfo", b"software: xkit-test\r\n", content_type="application/warc-fields"),
        build_record(
            "request",
            b"GET / HTTP/1.1\r\nHost: a.example\r\n\r\n",
            target_uri="http://a.example/",
            content_type="application/http; msgtype=request",
        ),
        _html_response("http://a.example/", b"<p>alpha page body</p>"),
        _html_response(
            "http://b.example/latin",
            "<p>café page</p>".encode("cp1252"),
            ctype="text/html; charset=windows-1252",
        ),
        _html_response("http://c.example/miss", b"<p>gone</p>", status=404),
        _html_response("http://d.example/logo", b"\x89PNG....", ctype="image/png"),
    ]


def test_roundtrip_plain_and_gzip():
    records = _fixture_records()
    for compress in (False, True):
        data = build_warc(records, compress=compress)
        parsed = list(iter_warc(data))
        assert [r.warc_type for r in parsed] == [
            "warcinfo", "request", "response", "response", "response", "response",
        ]
        status, hdrs, body = http_payload(parsed[2])
        assert (status, body) == (200, b"<p>alpha page body</p>")
        assert hdrs["content-type"] == "text/html"
    # fixture writer is byte-deterministic (gzip mtime=0)
    assert build_warc(records, compress=True) == build_warc(records, compress=True)


def test_warc11_bracketed_uri_and_obs_fold():
    rec = build_record(
        "response",
        http_response_block(b"x"),
        target_uri="<http://e.example/page>",
        content_type="application/http; msgtype=response",
    )
    # fold the date header across two lines (obs-fold continuation)
    rec = rec.replace(b"WARC-Date: 2026-01-01T00:00:00Z", b"WARC-Date: 2026-01-01\r\n T00:00:00Z")
    (parsed,) = iter_warc(rec)
    assert parsed.target_uri == "http://e.example/page"
    assert parsed.date == "2026-01-01 T00:00:00Z"


def test_http_payload_chunked_and_gzip_coding():
    chunked = b"7\r\n<p>chun\r\n8\r\nked body\r\n4\r\n</p>\r\n0\r\n\r\n"
    rec_c = _html_response("http://f.example/c", chunked, extra_headers=[("Transfer-Encoding", "chunked")])
    (p,) = iter_warc(rec_c)
    assert http_payload(p)[2] == b"<p>chunked body</p>"

    gzbody = gzip.compress(b"<p>compressed body</p>", mtime=0)
    rec_g = _html_response("http://f.example/g", gzbody, extra_headers=[("Content-Encoding", "gzip")])
    (p,) = iter_warc(rec_g)
    assert http_payload(p)[2] == b"<p>compressed body</p>"


def test_hostile_and_truncated_edge_cases():
    """Regression set from the round-4 review: hostile negative
    Content-Length must TERMINATE (it used to move pos backwards — an
    infinite generator), chunk-boundary truncation must not leak
    chunk-size framing into the text, and multi-@ authorities must
    strip userinfo at the FIRST '@' like every JVM-side chain."""
    from xkit.warc import _dechunk, iter_warc_offsets, surt

    hostile = b"WARC/1.0\r\nContent-Length: -33\r\n\r\n"
    assert list(iter_warc(hostile)) == []
    assert list(iter_warc_offsets(hostile)) == []
    # a valid record FOLLOWED by a hostile one: keep the valid prefix
    good = build_record("response", b"x")
    assert len(list(iter_warc(good + hostile))) == 1

    # truncated chunked body, cut exactly at a chunk boundary
    assert _dechunk(b"4\r\nabcd\r\n") == b"abcd"
    assert _dechunk(b"4\r\nabcd") == b"abcd"
    assert _dechunk(b"4\r\nabcd\r\nZZ\r\nrest") == b"abcd"  # bad size line
    # negative chunk size: int(b'-6',16) parses — must terminate, not
    # cycle pos backwards (same class as the Content-Length guard)
    assert _dechunk(b"-6\r\nXXXX") == b"-6\r\nXXXX"
    assert _dechunk(b"4\r\nabcd\r\n-6\r\nXX") == b"abcd"

    assert surt("http://a@b@c.example/p") == "example,b@c)/p"  # first-@ rule


def test_truncated_archive_keeps_parsed_prefix():
    records = _fixture_records()
    data = build_warc(records)
    cut = data[: data.find(b"<p>gone</p>") + 4]  # mid-block of record 5
    parsed = list(iter_warc(cut))
    assert len(parsed) == 5  # four full + the truncated one (short block)
    assert parsed[4].block.startswith(b"HTTP/1.1 404")
    # garbage after a valid record: stop, don't raise
    assert len(list(iter_warc(build_warc(records[:1]) + b"JUNK"))) == 1


def test_ingest_warc_default_glob_skips_wet_exports(spark, tmp_path):
    """The default '*.warc{,.gz}' glob reads .warc and .warc.gz but
    NOT part-*.warc.wet.gz — a WET export dir pointed back at the WARC
    readers is skipped instead of re-decompressed (ADVICE r04)."""
    from xhtmlkit_spark.sources.io import ingest_warc

    d = tmp_path / "mixed"
    d.mkdir()
    rec = [
        _html_response("http://glob.example/", b"<p>real archive</p>"),
    ]
    (d / "a.warc").write_bytes(build_warc(rec))
    (d / "b.warc.gz").write_bytes(build_warc(rec, compress=True))
    (d / "part-00000.warc.wet.gz").write_bytes(build_warc(rec, compress=True))
    ids = [r["doc_id"] for r in ingest_warc(spark, str(d)).collect()]
    assert sorted(ids) == ["http://glob.example/", "http://glob.example/"]


def test_ingest_warc_spark(spark, tmp_path):
    """Two .warc.gz archives → corpus rows → extract_spans, with
    status/mime filtering, charset honor, and dup-URI doc_ids."""
    from xhtmlkit_spark.operators.extract_stage import extract_spans
    from xhtmlkit_spark.sources.io import ingest_warc

    d = tmp_path / "crawl"
    d.mkdir()
    (d / "seg0.warc.gz").write_bytes(build_warc(_fixture_records(), compress=True))
    refetch = [
        _html_response("http://a.example/", b"<p>alpha refetch one</p>"),
        _html_response("http://a.example/", b"<p>alpha refetch two</p>"),
    ]
    (d / "seg1.warc").write_bytes(build_warc(refetch))

    corpus = ingest_warc(spark, str(d))
    rows = corpus.collect()
    # 404 and image/png filtered; warcinfo/request skipped. Within an
    # archive re-fetches get #dupN; ACROSS archives the same URI is a
    # deliberate duplicate doc_id (re-fetch → downstream dedup's job).
    ids = sorted(r["doc_id"] for r in rows)
    assert ids == [
        "http://a.example/",
        "http://a.example/",
        "http://a.example/#dup1",
        "http://b.example/latin",
    ]
    by_id = {r["doc_id"]: r for r in rows}
    assert by_id["http://b.example/latin"]["mime"] == "text/html"
    assert by_id["http://a.example/#dup1"]["url"] == "http://a.example/"
    assert all(r["http_status"] == 200 for r in rows)
    assert all(r["fetched_at"] == "2026-01-01T00:00:00Z" for r in rows)

    texts = {
        s["text"]
        for r in extract_spans(corpus, passthrough=("url",)).collect()
        for s in r["spans"]
        if s["kind"] == "text"
    }
    assert texts == {"café page", "alpha page body", "alpha refetch one", "alpha refetch two"}


def test_surt_urlkey():
    from xkit.warc import surt

    assert surt("https://WWW.Example.COM:443/a/b?z=1&a=2#frag") == "com,example)/a/b?a=2&z=1"
    assert surt("http://user:pw@sub.example.org:80") == "org,example,sub)/"
    assert surt("http://example.com/path") == "com,example)/path"
    assert surt("not a url") is None
    # http/https/www variants collide on one urlkey
    assert len({surt(u) for u in (
        "http://example.com/p", "https://example.com/p", "http://www.example.com/p",
    )}) == 1


def test_iter_warc_offsets_ranged_read():
    """The CDX property: [offset, offset+length) re-parses standalone
    to the same record — in both the plain and gzip-member layouts."""
    from xkit.warc import iter_warc_offsets

    records = _fixture_records()
    for compress in (False, True):
        data = build_warc(records, compress=compress)
        entries = list(iter_warc_offsets(data))
        assert len(entries) == len(records)
        for rec, off, length in entries:
            (reread,) = iter_warc(data[off : off + length])
            assert reread.headers == rec.headers
            assert reread.block == rec.block
        # spans tile the file (gzip members are contiguous)
        if compress:
            assert entries[0][1] == 0
            assert all(
                entries[i][1] + entries[i][2] == entries[i + 1][1]
                for i in range(len(entries) - 1)
            )


def test_warc_cdx_spark(spark, tmp_path):
    from xhtmlkit_spark.sources.io import warc_cdx

    d = tmp_path / "crawl"
    d.mkdir()
    (d / "seg0.warc.gz").write_bytes(build_warc(_fixture_records(), compress=True))
    idx = {r["url"]: r for r in warc_cdx(spark, str(d)).collect()}
    # all four responses indexed (CDX keeps 404s and images — it's a
    # capture index, not a content filter)
    assert set(idx) == {
        "http://a.example/", "http://b.example/latin",
        "http://c.example/miss", "http://d.example/logo",
    }
    a = idx["http://a.example/"]
    assert a["urlkey"] == "example,a)/"
    assert a["timestamp"] == "20260101000000"
    assert (a["mime"], a["status"], a["filename"]) == ("text/html", 200, "seg0.warc.gz")
    assert idx["http://c.example/miss"]["status"] == 404
    # digest matches the payload bytes; ranged read lands on the record
    import base64
    import hashlib

    assert a["digest"] == base64.b32encode(hashlib.sha1(b"<p>alpha page body</p>").digest()).decode()
    data = (d / "seg0.warc.gz").read_bytes()
    (rec,) = iter_warc(data[a["offset"] : a["offset"] + a["length"]])
    assert rec.target_uri == "http://a.example/"


def test_streaming_warc_extract_incremental(spark, tmp_path):
    """Archives land → drain → more land → drain: each drain parses
    only the NEW archives (file-tracking log), the sink stays
    exactly-once, and extracted spans match the batch path."""
    from xhtmlkit_spark.streaming.jobs import streaming_warc_extract

    land = tmp_path / "landing"
    land.mkdir()
    out, ck = str(tmp_path / "out"), str(tmp_path / "ck")
    (land / "seg0.warc.gz").write_bytes(build_warc(_fixture_records(), compress=True))

    streaming_warc_extract(spark, str(land), out, ck)
    first = spark.read.parquet(out).collect()
    assert {r["doc_id"] for r in first} == {"http://a.example/", "http://b.example/latin"}

    (land / "seg1.warc").write_bytes(
        build_warc([_html_response("http://e.example/new", b"<p>second wave page</p>")])
    )
    streaming_warc_extract(spark, str(land), out, ck)
    rows = spark.read.parquet(out).collect()
    assert len(rows) == 3  # seg0 NOT re-parsed: no duplicates
    texts = {s["text"] for r in rows for s in r["spans"] if s["kind"] == "text"}
    assert texts == {"alpha page body", "café page", "second wave page"}
    assert all(r["part"] is not None and r["url"] for r in rows)


def test_pagerank_links_from_harvest(spark, tmp_path):
    """The full graph story: WARC crawl → link harvest → URL
    canonicalization → PageRank; alias URLs collapse to one node and
    the result equals pagerank() on the hand-canonicalized edges."""
    from pyspark.sql import functions as F

    from xhtmlkit_spark.operators.graph import pagerank, pagerank_links
    from xhtmlkit_spark.operators.harvest_stage import doc_links
    from xhtmlkit_spark.sources.io import ingest_warc

    pages = {
        "http://x.example/a": b'<a href="http://x.example/b">b</a>'
        b'<a href="HTTP://WWW.X.example/c?utm_source=t">c alias</a>'
        b'<a href="mailto:someone@x.example">mail drop</a>',
        "http://x.example/b": b'<a href="http://x.example/c">c</a>'
        b'<a href="http://x.example/b">self drop</a>',
        "http://x.example/c": b'<a href="http://x.example/a">a</a>',
    }
    d = tmp_path / "crawl"
    d.mkdir()
    (d / "seg.warc.gz").write_bytes(
        build_warc([_html_response(u, body) for u, body in pages.items()], compress=True)
    )
    corpus = ingest_warc(spark, str(d))
    # in a WARC corpus doc_id IS the fetch URL — it becomes the edge src
    links = doc_links(corpus, passthrough=()).select(
        F.col("doc_id").alias("src_url"), F.col("url").alias("dst_url")
    )
    got = {r["url"]: r["rank"] for r in pagerank_links(links, n_iter=6).collect()}

    exp_edges = spark.createDataFrame(
        [
            ("http://x.example/a", "http://x.example/b"),
            ("http://x.example/a", "http://x.example/c"),
            ("http://x.example/b", "http://x.example/c"),
            ("http://x.example/c", "http://x.example/a"),
        ],
        "src string, dst string",
    )
    exp = {
        r["id"]: r["rank"]
        for r in pagerank(
            exp_edges.select(F.col("src").alias("id")), exp_edges, n_iter=6
        ).collect()
    }
    assert got == exp  # alias collapsed, mailto and self-link dropped
    assert got["http://x.example/c"] == max(got.values())  # 2 in-links


def test_write_wet_roundtrip_deterministic(spark, tmp_path):
    """Ingest → extract → WET export: conversion records carry the
    extracted text per URI, re-running the export is byte-identical,
    and the files re-parse with the same reader."""
    import glob as globmod

    from xhtmlkit_spark.operators.extract_stage import extract_spans
    from xhtmlkit_spark.sources.io import ingest_warc, write_wet

    d = tmp_path / "crawl"
    d.mkdir()
    (d / "seg0.warc.gz").write_bytes(build_warc(_fixture_records(), compress=True))
    extracted = extract_spans(
        ingest_warc(spark, str(d)), passthrough=("url", "fetched_at")
    ).repartition(2, "doc_id")

    out = tmp_path / "wet"
    manifest = write_wet(extracted, str(out))
    assert sum(m["n_records"] for m in manifest) == 2
    files = sorted(globmod.glob(str(out / "*.warc.wet.gz")))
    assert [m["path"] for m in sorted(manifest, key=lambda m: m["path"])] == files

    recs = [r for f in files for r in iter_warc(open(f, "rb").read())]
    assert [r.warc_type for r in recs].count("warcinfo") == len(files)
    conv = {r.target_uri: r.block.decode("utf-8") for r in recs if r.warc_type == "conversion"}
    assert conv == {
        "http://a.example/": "alpha page body",
        "http://b.example/latin": "café page",
    }
    assert all(r.get("WARC-Date") == "2026-01-01T00:00:00Z" for r in recs if r.warc_type == "conversion")

    before = [open(f, "rb").read() for f in files]
    write_wet(extracted, str(out))  # re-run: deterministic overwrite
    assert [open(f, "rb").read() for f in files] == before
