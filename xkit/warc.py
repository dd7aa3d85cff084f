"""Minimal WARC reader/writer (ISO 28500 / WARC 1.0-1.1), stdlib-only.

The Common Crawl container format: a WARC file is a concatenation of
records, each

    WARC/1.0 CRLF
    <header fields  Name: value CRLF ...>
    CRLF
    <Content-Length bytes of block>
    CRLF CRLF

and the usual on-disk form is per-record gzip members concatenated
(``.warc.gz``) so readers can seek to a record and decompress just it.
``zlib`` handles member-at-a-time decompression via ``unused_data``.

``response`` records carry the captured HTTP exchange verbatim in the
block (``Content-Type: application/http; msgtype=response``):
status line + headers, CRLF CRLF, then the body exactly as fetched —
which may be Transfer-Encoding: chunked and/or Content-Encoding:
gzip/deflate, so :func:`http_payload` undoes both before handing the
body to charset sniffing.

Writer: :func:`build_record` serializes one record deterministically
(the WET writer in xhtmlkit_spark.sources.io uses it).
"""

from __future__ import annotations

import zlib
from collections.abc import Iterator

__all__ = [
    "WarcRecord",
    "iter_warc",
    "iter_warc_offsets",
    "surt",
    "http_payload",
    "build_record",
]

_CRLF = b"\r\n"
_GZIP_MAGIC = b"\x1f\x8b"


class WarcRecord:
    """One parsed record: case-insensitive WARC headers + raw block."""

    __slots__ = ("headers", "block")

    def __init__(self, headers: dict[str, str], block: bytes):
        self.headers = headers
        self.block = block

    def get(self, name: str) -> str | None:
        return self.headers.get(name.lower())

    @property
    def warc_type(self) -> str:
        return (self.get("WARC-Type") or "").lower()

    @property
    def target_uri(self) -> str | None:
        uri = self.get("WARC-Target-URI")
        # WARC 1.1 wraps the URI in <>; 1.0 does not — accept both
        if uri and uri.startswith("<") and uri.endswith(">"):
            return uri[1:-1]
        return uri

    @property
    def date(self) -> str | None:
        return self.get("WARC-Date")

    @property
    def record_id(self) -> str | None:
        return self.get("WARC-Record-ID")

    @property
    def content_type(self) -> str:
        return (self.get("Content-Type") or "").lower()


# feed size for member-at-a-time decompression: big enough that a
# typical ~10 KB Common Crawl member needs ONE feed, small enough that
# the unused_data copy at each member boundary stays cheap
_GZ_CHUNK = 1 << 16


def _iter_gzip_members(data: bytes):
    """Yield ``(decompressed, offset, compressed_length)`` per gzip
    member. Feeds the decompressor bounded ZERO-COPY memoryview slices
    — the naive ``decompress(data[pos:])`` + ``unused_data`` loop
    copies the whole remaining archive twice per member, which is
    O(members × size): quadratic wall on a 1 GB / 100k-member
    Common Crawl segment. Truncated trailing member yields what
    decoded, then stops."""
    mv = memoryview(data)
    pos, n = 0, len(data)
    while pos < n and data[pos : pos + 2] == _GZIP_MAGIC:
        d = zlib.decompressobj(wbits=31)
        out = []
        fed = pos
        while fed < n and not d.eof:
            chunk = mv[fed : fed + _GZ_CHUNK]
            try:
                out.append(d.decompress(chunk))
            except zlib.error:
                if out:
                    yield b"".join(out), pos, n - pos
                return
            fed += len(chunk)
        if not d.eof:  # ran out of bytes mid-member
            if out:
                yield b"".join(out), pos, n - pos
            return
        member_len = (fed - pos) - len(d.unused_data)
        yield b"".join(out), pos, member_len
        pos += member_len


def _gunzip_members(data: bytes) -> bytes:
    """Decompress ALL concatenated gzip members (the .warc.gz layout)."""
    return b"".join(raw for raw, _, _ in _iter_gzip_members(data))


def _parse_headers(raw: bytes) -> dict[str, str]:
    """Header block → lowercase-keyed dict; supports obs-fold
    continuations (a line starting with SP/HT extends the prior value)."""
    headers: dict[str, str] = {}
    last: str | None = None
    for line in raw.split(_CRLF):
        if not line:
            continue
        if line[:1] in (b" ", b"\t") and last is not None:
            headers[last] += " " + line.strip().decode("latin-1")
            continue
        name, sep, value = line.partition(b":")
        if not sep:
            continue  # malformed line: skip, keep parsing
        last = name.strip().decode("latin-1").lower()
        headers[last] = value.strip().decode("latin-1")
    return headers


def _iter_records(data: bytes) -> Iterator[tuple[WarcRecord, int, int]]:
    """The framing loop over plain WARC bytes: ``(record, offset,
    length)`` with offset/length the record's own byte span, trailing
    CRLFCRLF included. A malformed record ends the iteration."""
    pos = 0
    n = len(data)
    while pos < n:
        # skip inter-record CRLFs
        while data[pos : pos + 2] == _CRLF:
            pos += 2
        start = pos
        if pos >= n or not data.startswith(b"WARC/", pos):
            return  # end of data, or lost sync: stop
        hdr_end = data.find(_CRLF + _CRLF, pos)
        if hdr_end < 0:
            return
        line_end = data.find(_CRLF, pos)
        headers = _parse_headers(data[line_end + 2 : hdr_end])
        try:
            length = int(headers.get("content-length", ""))
        except ValueError:
            return
        if length < 0:
            return  # hostile header: pos would move BACKWARDS (infinite loop)
        block_start = hdr_end + 4
        if block_start + length > n:
            length = n - block_start  # truncated final record
        end = min(block_start + length + 4, n)  # trailing CRLFCRLF
        yield WarcRecord(headers, data[block_start : block_start + length]), start, end - start
        pos = block_start + length


def iter_warc(data: bytes) -> Iterator[WarcRecord]:
    """Yield records from WARC bytes (plain or gzip-member-compressed).

    Defensive: a malformed record terminates iteration rather than
    raising — crawl archives get truncated, and at 100 TB one bad file
    must not kill the stage.
    """
    if data[:2] == _GZIP_MAGIC:
        data = _gunzip_members(data)
    for rec, _, _ in _iter_records(data):
        yield rec


def iter_warc_offsets(data: bytes) -> Iterator[tuple[WarcRecord, int, int]]:
    """Yield ``(record, offset, length)`` where offset/length address
    the record INSIDE THE FILE AS STORED — for ``.warc.gz`` that is the
    gzip member's compressed byte span (the record-per-member layout
    exists precisely so an index can point a ranged read at one
    record), for plain WARC the record's own byte span. This is what a
    CDX index needs; :func:`iter_warc` is the cheaper call when
    offsets don't matter.

    Gzip assumption: ONE record per member — the Common Crawl layout.
    A spec-legal archive that packs several records into one member
    still yields every record, but each carries the WHOLE member's
    (offset, length): a ranged read of that span returns the sibling
    records too (over-addressed, never truncated).
    """
    if data[:2] != _GZIP_MAGIC:
        yield from _iter_records(data)
        return
    # gzip: one member per record; member length = consumed input
    # (bounded-chunk streaming — see _iter_gzip_members for why)
    for raw, off, member_len in _iter_gzip_members(data):
        for rec in iter_warc(raw):
            yield rec, off, member_len


# SURT canonicalization (Sort-friendly URI Reordering Transform, the
# CDX urlkey convention): host lowercased, www. stripped, components
# REVERSED comma-joined, then ")/path?query" with query params sorted —
# so one host's captures sort adjacently and http/https collide.
def surt(url: str) -> str | None:
    """Minimal SURT urlkey for a CDX index; None for non-URLs."""
    import re as _re

    m = _re.match(r"^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]*)([^?#]*)(?:\?([^#]*))?", url)
    if not m or not m.group(1):
        return None
    host, path, query = m.group(1).lower(), m.group(2), m.group(3)
    # strip userinfo up to the FIRST '@' — the rule every JVM-side
    # chain in this repo uses (url_host/normalize_url/surt_key all
    # apply '^[^@]*@'); rpartition would take the LAST '@' and make a
    # warc_cdx index disagree with a surt_key corpus column on
    # multi-@ authorities
    if "@" in host:
        host = host.split("@", 1)[1]
    host = _re.sub(r":(80|443)$", "", host)
    if host.startswith("www."):
        host = host[4:]
    key = ",".join(reversed(host.split("."))) + ")" + (path or "/")
    if query:
        kept = sorted(p for p in query.split("&") if p)
        if kept:
            key += "?" + "&".join(kept)
    return key


def _dechunk(body: bytes) -> bytes:
    """Undo Transfer-Encoding: chunked; returns input on malformed."""
    out = []
    pos = 0
    while True:
        eol = body.find(_CRLF, pos)
        if eol < 0:
            # truncated exactly at a chunk boundary: return what was
            # de-chunked, NOT the raw chunk-framed bytes (size lines
            # would otherwise leak into the decoded text)
            return b"".join(out) if out else body
        size_token = body[pos:eol].split(b";", 1)[0].strip()
        try:
            size = int(size_token, 16)
        except ValueError:
            return b"".join(out) if out else body
        if size < 0:
            # int(b'-6', 16) parses; a negative size would slice with a
            # negative end and cycle pos BACKWARDS — same infinite-loop
            # class as the negative Content-Length guard in iter_warc
            return b"".join(out) if out else body
        if size == 0:
            return b"".join(out)
        chunk = body[eol + 2 : eol + 2 + size]
        out.append(chunk)
        pos = eol + 2 + size + 2  # skip chunk + trailing CRLF
        if pos > len(body):
            return b"".join(out)  # truncated capture


def http_payload(record: WarcRecord) -> tuple[int | None, dict[str, str], bytes]:
    """Split a response record's block into (status, headers, body).

    Undoes chunked transfer coding and gzip/deflate content coding so
    the returned body is the document bytes ready for charset sniff.
    A block that is not an HTTP message (resource records, or a
    content-type that lies) comes back as (None, {}, block).
    """
    block = record.block
    if "application/http" not in record.content_type:
        return None, {}, block
    split = block.find(_CRLF + _CRLF)
    if split < 0:
        return None, {}, block
    head, body = block[:split], block[split + 4 :]
    status_line, _, rest = head.partition(_CRLF)
    parts = status_line.split(None, 2)
    status: int | None = None
    if len(parts) >= 2 and parts[0][:5] == b"HTTP/":
        try:
            status = int(parts[1])
        except ValueError:
            status = None
    headers = _parse_headers(rest)
    if "chunked" in headers.get("transfer-encoding", "").lower():
        body = _dechunk(body)
    coding = headers.get("content-encoding", "").lower().strip()
    if coding in ("gzip", "x-gzip") and body[:2] == _GZIP_MAGIC:
        try:
            body = _gunzip_members(body)
        except Exception:
            pass
    elif coding == "deflate":
        for wbits in (zlib.MAX_WBITS, -zlib.MAX_WBITS):  # zlib- or raw-deflate
            try:
                body = zlib.decompress(body, wbits)
                break
            except zlib.error:
                continue
    return status, headers, body


def build_record(
    warc_type: str,
    block: bytes,
    target_uri: str | None = None,
    date: str = "2026-01-01T00:00:00Z",
    record_id: str = "<urn:uuid:00000000-0000-0000-0000-000000000000>",
    content_type: str | None = None,
) -> bytes:
    """Serialize one record (deterministic field order)."""
    fields = [("WARC-Type", warc_type), ("WARC-Record-ID", record_id), ("WARC-Date", date)]
    if target_uri is not None:
        fields.append(("WARC-Target-URI", target_uri))
    if content_type is not None:
        fields.append(("Content-Type", content_type))
    fields.append(("Content-Length", str(len(block))))
    head = b"WARC/1.0" + _CRLF
    head += b"".join(f"{k}: {v}".encode("latin-1") + _CRLF for k, v in fields)
    return head + _CRLF + block + _CRLF + _CRLF
