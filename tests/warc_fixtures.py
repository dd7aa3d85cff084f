"""WARC fixture writers for the tests.

Archives built here are byte-deterministic: gzip members are written
with ``mtime=0``, so the same records always give the same bytes. They
are test inputs only; :func:`xkit.warc.build_record` stays shipped
because the WET writer uses it.
"""

from __future__ import annotations

import gzip

__all__ = ["build_warc", "http_response_block"]

_CRLF = b"\r\n"


def build_warc(records: list[bytes], compress: bool = False) -> bytes:
    """Concatenate serialized records; ``compress=True`` gzips each as
    its own member (mtime=0: byte-deterministic), the .warc.gz layout."""
    if not compress:
        return b"".join(records)
    return b"".join(gzip.compress(rec, mtime=0) for rec in records)


def http_response_block(
    body: bytes,
    status: int = 200,
    content_type: str = "text/html",
    extra_headers: list[tuple[str, str]] | None = None,
) -> bytes:
    """Build the block of a response record: a captured HTTP message."""
    reason = {200: "OK", 301: "Moved Permanently", 404: "Not Found"}.get(status, "OK")
    head = f"HTTP/1.1 {status} {reason}".encode("latin-1") + _CRLF
    head += f"Content-Type: {content_type}".encode("latin-1") + _CRLF
    for k, v in extra_headers or []:
        head += f"{k}: {v}".encode("latin-1") + _CRLF
    head += f"Content-Length: {len(body)}".encode("latin-1") + _CRLF
    return head + _CRLF + body
