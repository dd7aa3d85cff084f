"""Minimal fixture-dialect PDF text extraction (SURVEY.md A26).

The north rule requires "PDF/layout parsing" in the pipeline
(BASELINE.json north_star); no PDF library exists in this sandbox
(SURVEY.md §0), so this module implements a from-scratch extractor
for a *documented dialect subset* co-designed with the fixture
generator (:func:`make_fixture_pdf`, FIXTURES.md §6):

* uncompressed streams, plus ``/Filter`` chains of **FlateDecode**
  (stdlib zlib — the filter covering the vast majority of real-world
  PDF content streams), **ASCIIHexDecode**, and **ASCII85Decode**
  (stdlib base64.a85decode; PDF framing: optional ``~>`` terminator,
  whitespace ignored, ``z`` zero-group shortcut) — applied in array
  order, e.g. ``[/ASCII85Decode /FlateDecode]``; a stream with any
  UNKNOWN filter in its chain is skipped, never mis-decoded,
* classic **xref tables** + trailer: pages are discovered by walking
  trailer ``/Root`` → catalog ``/Pages`` → ``/Kids`` → page
  ``/Contents`` (single ref OR array — multiple content streams per
  page concatenate into one stream, so a ``BT`` may open in one and
  close in the next), with incremental-update sections later in the
  file overriding earlier offsets. Streams not reachable from the page
  tree (fonts, images) are SKIPPED. When no usable xref/trailer exists
  the extractor falls back to scanning every stream in byte order.
* content streams using ``BT``/``ET`` text objects with ``Tf``, ``Td``
  and the ``Tj`` / ``TJ`` (array form) / ``'`` / ``"``
  (move-and-show) show-text operators,
* strings in parenthesis form, decoded in one left-to-right pass per
  ISO 32000-1 §7.3.4.2: ``\\n \\r \\t \\b \\f \\( \\) \\\\``, 1–3
  digit octal, backslash + EOL (LF, CR or CRLF) as a dropped line
  continuation, and any other ``\\x`` read as ``x``; plus ``<hex>``
  string form (whitespace-tolerant, odd digit padded), WinAnsi/latin-1
  bytes. Every string — show text and the /Encrypt ``/O`` ``/U``
  entries alike — is matched by the same lexer, a literal one decoded
  by the same decoder and a hex one by the same hex reader.

* **minimal /ToUnicode CMaps** for hex-string text: each page's
  ``/Resources /Font`` entries are followed to their ``/ToUnicode``
  streams; ``bfchar`` pairs and scalar + array-destination ``bfrange`` runs (UTF-16BE
  destinations) are parsed into one code→text map PER FONT NAME, with
  the code width taken from ``begincodespacerange``. The active font
  is tracked through ``Tf`` (round 4): each show-string decodes
  through the CURRENT font's map, so two fonts mapping the same code
  to different characters decode correctly; text before any ``Tf``
  (or under a name missing from the table) uses the page-union
  default, and ``q``/``Q`` save/restore of the text state is out of
  scope (documented — a ``Q`` never restores a previous ``Tf`` here).
  Hex strings on a CMapped page decode through the map (unmapped
  codes fall back to chr(code) below 256, U+FFFD above); pages
  without a CMap keep the latin-1 byte rule. Type0 COMPOSITE fonts
  (round 5): string codes are 2-byte CIDs — the width is forced to 2
  regardless of the ToUnicode codespacerange (real writers emit
  sloppy 1-byte ones), literal ``(…)`` strings pair their unescaped
  bytes into the same CID codes as hex strings, and a Type0 font with
  NO usable ToUnicode (Identity-keyed, predefined CMap, or indirect
  /Encoding) suppresses its strings entirely — bare glyph ids degrade
  to no text, never latin-1 mojibake. CID-keyed font PROGRAM tables
  (glyph data, CIDToGIDMap) remain out of scope: extraction needs
  code→text, not code→glyph.

* **xref STREAMS and object STREAMS** (PDF 1.5+): every object whose
  dict says ``/Type /XRef`` is decoded (its /Filter chain, then the
  ``/DecodeParms`` PNG predictor — None/Sub/Up/Average/Paeth — when
  present; a negative count or a row wider than the stream skips
  it), its ``/W``-field binary entries parsed per ``/Index``
  sections; type-1 entries are byte offsets, type-2 entries locate
  objects inside ``/Type /ObjStm`` containers (header of ``/N``
  "objnum offset" pairs after ``/First``). Classic tables and xref
  streams compose (hybrid files); xref-stream entries override
  classic ones of the same object. Files where none of this parses
  still take the byte-order fallback (which also never sees CMaps —
  page↔font association needs the tree walk).

* **Standard-security decryption** (encrypted PDFs), all four handler
  generations. Round 5: non-empty USER and OWNER passwords — a
  caller-supplied password is tried as the user password, then as the
  owner password (algorithm 7: /O unwraps the padded user password
  for R 2–4; /O + /OE validate and unwrap the file key for R 5–6),
  then the empty user password (the common
  owner-locked-but-readable case keeps opening with no password):

  - ``/V 1|2`` + ``/R 2|3`` (40/128-bit RC4): file key per spec
    algorithm 2 (padded password, /O, /P, first /ID element; 50 MD5
    rounds for /R 3), validated against /U (algorithms 4/5) before
    use; per-object keys MD5(key + objnum₃ + gen₂).
  - ``/V 4`` + ``/R 4`` crypt filters: ``/CFM /AESV2`` = AES-128-CBC
    (per-object MD5 key with the ``sAlT`` suffix, IV-prefixed body,
    PKCS#7 strip), ``/CFM /V2`` = RC4 as above, ``/CFM /Identity`` =
    pass-through; unknown methods skip streams.
  - ``/V 5`` + ``/R 5|6`` (AES-256): the file key is unwrapped from
    ``/UE`` with the intermediate key from the key salt (``/U`` bytes
    32-48); /R 6 uses the hardened ISO 32000-2 algorithm 2.B hash
    (SHA-256/384/512 over AES-128-CBC rounds), /R 5 the deprecated
    plain SHA-256. Password validation against ``/U[:32]`` happens
    before any stream is touched.

  Each encrypted stream decrypts exactly its declared ``/Length``
  bytes, a direct integer or an indirect ``N G R`` (also one stored in
  an encrypted ObjStm), never the EOL before ``endstream``.

  The AES core is xkit/aes.py — pure-Python FIPS-197 (T-table form),
  verified against the appendix C vectors. Failing every password
  attempt (/U, and /O when a password is supplied) or any unknown
  scheme degrades to skipped streams, never garbage output. Password
  strings are encoded UTF-8 (exact for /R 6; the spec's
  PDFDocEncoding for legacy revisions and SASLprep normalization are
  documented simplifications — pass bytes for exact control).

Out of scope, documented: full font CMaps (CID-keyed, embedded
program tables), the /Perms integrity check, sub-byte TIFF-predictor
layouts.
(``/EncryptMetadata false`` key derivation and byte-aligned TIFF
predictor 2 ARE handled.)

Layout rule (frozen by tests/golden/pdf_dialect.json): each ``BT…ET``
text object is one output block; ``Tj``/``TJ`` strings within it are
concatenated in stream order, separated by a single space per ``Td``
line move. Real-world PDFs outside this dialect yield no spans rather
than raising (A17 never-fail discipline); the limitation is
documented here and in FIXTURES.md.
"""

from __future__ import annotations

import functools
import hashlib
import re
import zlib

from xkit.aes import aes_cbc_decrypt, aes_cbc_encrypt

__all__ = ["extract_pdf_text", "make_fixture_pdf"]

# no EOL requirement before `endstream`: a compressed body whose final
# byte happens to be 0x0D/0x0A would lose it to `\r?\n` and fail to
# inflate (~1/128 of FlateDecode streams, silently). Trailing EOL is
# stripped per-filter below instead.
_STREAM_RE = re.compile(rb"stream\r?\n(.*?)endstream", re.DOTALL)
# A literal string's body: escapes, plain bytes and balanced unescaped
# parentheses (ISO 32000-1 §7.3.4.2), nested up to 8 deep — ``re`` has
# no recursion, so each level wraps the one inside it.
_LITERAL_BODY = rb"(?:\\.|[^\\()])*"
for _ in range(8):
    _LITERAL_BODY = rb"(?:\\.|[^\\()]|\(%s\))*" % _LITERAL_BODY
# The one PDF string lexer: a literal ``(body)`` or a hex ``<hexbody>``
# string. Content streams and dict string entries both match through it.
_STRING_TOKEN = rb"\((?P<body>%s)\)|<(?P<hexbody>[0-9A-Fa-f\s]*)>" % _LITERAL_BODY
# One combined token scan per content stream: strings are matched FIRST
# so an operator-looking substring INSIDE a string ('GET' contains
# 'ET') can never terminate a text object — the old split-on-BT..ET
# approach silently lost such blocks.
_CONTENT_RE = re.compile(
    _STRING_TOKEN
    + rb"""
      | \b(?P<bt>BT)\b
      | \b(?P<et>ET)\b
      | \b(?P<tj>Tj)\b
      | \b(?P<TJ>TJ)\b
      | (?P<quote>['"])
      | (?P<td>-?[0-9.]+\s+-?[0-9.]+\s+Td)\b
      | (?P<tf>/(?P<tfname>[^\s/<>\[\]()]+)\s+-?[0-9.]+\s+Tf)\b
    """,
    re.VERBOSE | re.DOTALL,
)
# single left-to-right pass (ISO 32000-1 §7.3.4.2): octal, named
# escapes, backslash + EOL as a dropped line continuation, unknown
# \x read as x, and an unescaped EOL (CR, LF or CRLF) read as one LF —
# sequential .replace() passes corrupted strings like (\\101),
# resolving the octal against an already-escaped backslash
_ESC_RE = re.compile(rb"\\(\r\n|[0-7]{1,3}|.)|\r\n?", re.DOTALL)
_NAMED_ESC = {
    b"n": b"\n", b"r": b"\r", b"t": b"\t", b"b": b"\b", b"f": b"\f",
    b"\r\n": b"", b"\r": b"", b"\n": b"",
}


def _unescape_pdf_bytes(body: bytes) -> bytes:
    def sub(m: re.Match) -> bytes:
        g = m.group(1)
        if g is None:  # unescaped CR or CRLF
            return b"\n"
        if b"0" <= g[:1] <= b"7":
            return bytes([int(g, 8) & 0xFF])
        return _NAMED_ESC.get(g, g)

    return _ESC_RE.sub(sub, body)


def _hex_bytes(h: bytes) -> bytes | None:
    """The bytes a PDF hex string spells: whitespace ignored, an odd
    final digit padded with 0; None when it is not hex."""
    h = b"".join(h.split())
    if len(h) % 2:
        h += b"0"
    try:
        return bytes.fromhex(h.decode("ascii"))
    except ValueError:
        return None


def _string_text(raw: bytes, cmap: dict | None, width: int) -> str:
    """Decode one shown string's raw bytes under the active font:
    ``width == 0`` is the CID-without-ToUnicode sentinel (the codes are
    glyph ids with no Unicode meaning — suppress rather than emit
    mojibake); no CMap keeps the latin-1 byte rule; otherwise width-byte
    codes map through the font's ToUnicode. Literal ``(...)`` and hex
    ``<...>`` strings share this rule — under a 2-byte (Identity-H)
    font a literal string's bytes pair into CIDs exactly like hex."""
    if width == 0:
        return ""
    if cmap is None:
        return raw.decode("latin-1", errors="replace")
    out = []
    # trailing partial code (len not a multiple of width) is dropped,
    # matching viewers' behavior on truncated CID strings
    for i in range(0, (len(raw) // width) * width, width):
        code = int.from_bytes(raw[i : i + width], "big")
        mapped = cmap.get(code)
        if mapped is None:
            mapped = chr(code) if code < 256 else "�"
        out.append(mapped)
    return "".join(out)


def _scan_content(
    body: bytes,
    blocks: list,
    cmap: dict | None = None,
    code_width: int = 2,
    fonts: dict | None = None,
) -> None:
    """Token-scan ONE (possibly concatenated) content stream, appending
    each non-empty BT…ET text object to ``blocks``. ``fonts`` maps
    normalized font names to per-font ``(cmap, width)``; a ``Tf``
    switches the active map (text-state is stream-global per the PDF
    graphics state — q/Q save/restore of the font is out of scope,
    documented). ``(cmap, code_width)`` is the page default, applied
    before any ``Tf`` and for names missing from the table."""
    in_bt = False
    parts: list[str] = []
    pending: list[str] = []  # strings seen since the last show op
    cur_cmap, cur_width = cmap, code_width
    for m in _CONTENT_RE.finditer(body):
        lit, hx = m.group("body", "hexbody")
        if lit is not None or hx is not None:
            if in_bt:
                raw = _pdf_string_bytes(lit, hx)
                pending.append(_string_text(raw, cur_cmap, cur_width))
        elif m.group("tf"):
            # font switch applies inside AND outside BT (text state
            # persists across text objects)
            cur_cmap, cur_width = (fonts or {}).get(
                _pdf_name_key(m.group("tfname")), (cmap, code_width)
            )
        elif m.group("bt"):
            in_bt, parts, pending = True, [], []
        elif m.group("et"):
            if in_bt:
                text = "".join(parts).strip()
                if text:
                    blocks.append(text)
            in_bt = False
        elif not in_bt:
            continue
        elif m.group("tj") or m.group("TJ"):
            if pending:
                parts.append("".join(pending))
                pending = []
        elif m.group("quote"):
            # ' and " show-text operators: move to next line, then show
            # (T* + Tj); the line move becomes a space separator
            if pending:
                if parts and not parts[-1].endswith(" "):
                    parts.append(" ")
                parts.append("".join(pending))
                pending = []
        elif m.group("td"):
            if parts and not parts[-1].endswith(" "):
                parts.append(" ")


_FILTER_RE = re.compile(rb"/Filter\s*(?:\[(?P<arr>[^\]]*)\]|/(?P<one>\w+))")
_FILTER_NAME_RE = re.compile(rb"/(\w+)")
_DECODEPARMS_RE = re.compile(rb"/(?:DecodeParms|DP)\s*<<([^>]*)>>")


def _apply_filters(head: bytes, body: bytes) -> bytes | None:
    """Run the object dict's /Filter chain (array order) over a stream
    body, then its ``/DecodeParms`` predictor. Supported filters:
    FlateDecode, ASCIIHexDecode, ASCII85Decode; predictors: PNG
    (10-15) and byte-aligned TIFF 2. Any unknown filter or predictor
    (or corrupt data) → None: the stream is skipped, never
    mis-decoded."""
    m = _FILTER_RE.search(head)
    if m is None:
        names = []
    elif m.group("arr") is not None:
        names = [f.group(1) for f in _FILTER_NAME_RE.finditer(m.group("arr"))]
    else:
        names = [m.group("one")]
    for name in names:
        if name == b"FlateDecode":
            try:
                # decompressobj tolerates the trailing EOL before
                # `endstream` as unused data (plain decompress raises)
                body = zlib.decompressobj().decompress(body)
            except zlib.error:
                return None
        elif name == b"ASCIIHexDecode":
            body = _hex_bytes(body.split(b">", 1)[0])
            if body is None:
                return None
        elif name == b"ASCII85Decode":
            import base64

            # PDF framing: optional ~> terminator, whitespace ignored
            try:
                body = base64.a85decode(
                    body.split(b"~>", 1)[0], ignorechars=b" \t\n\r\v\f"
                )
            except ValueError:
                return None
        else:
            return None
    dp = _DECODEPARMS_RE.search(head)
    if dp is None:
        return body
    parms = dp.group(1)
    pred = _int_entry(parms, b"Predictor") or 1
    if pred == 1:
        return body
    if pred != 2 and pred < 10:
        return None  # unknown predictor: skip, not corrupt
    cols, colors, bits = (
        _int_entry(parms, k) or default
        for k, default in ((b"Columns", 1), (b"Colors", 1), (b"BitsPerComponent", 8))
    )
    # a negative count, or one row wider than the whole body, is
    # corrupt: skip the stream rather than size a row buffer from it
    if min(cols, colors, bits) < 1 or cols * colors * bits > 8 * len(body):
        return None
    undo = _tiff_predictor_undo if pred == 2 else _png_predictor_undo
    return undo(body, cols, colors, bits)


@functools.cache
def _entry_re(key: bytes) -> re.Pattern:
    """``/key`` followed by an integer, with the ``G R`` tail that makes
    it an indirect reference when present — compiled once per key. The
    optional tail never backtracks into the number: ``/Length 12 0 R``
    is the reference 12, never the integer 1."""
    return re.compile(rb"/%s\s+(-?\d+)(?:\s+\d+\s+(R))?" % key)


def _int_entry(
    d: bytes, key: bytes, data=b"", offsets: dict | None = None, depth=0, dec=None
) -> int | None:
    """The integer value of dict entry ``/key`` (first occurrence in
    ``d``). An indirect ``N G R`` value resolves through
    :func:`_object_at` (decrypting an ObjStm container with ``dec``)
    when ``offsets`` is given, else reads None."""
    m = _entry_re(key).search(d)
    if m is None:
        return None
    if m.group(2) is None:
        return int(m.group(1))
    n = int(m.group(1))
    obj = _object_at(data, n, offsets, depth + 1, dec) if offsets else None
    v = re.match(rb"\s*(-?\d+)", obj or b"")
    return int(v.group(1)) if v else None


def _ref_entry(d: bytes, key: bytes, last: bool = False) -> int | None:
    """Object number of the first ``/key N G R`` in ``d`` (one object's
    own entry), or with ``last`` of the last one: scanned over a whole
    file, the last trailer wins."""
    refs = [num for num, r in _entry_re(key).findall(d) if r]
    return int(refs[-1 if last else 0]) if refs else None


@functools.cache
def _str_entry_re(key: bytes) -> re.Pattern:
    """``/key`` followed by a string (the one lexer), compiled once per key."""
    return re.compile(rb"/%s\s*(?:%s)" % (key, _STRING_TOKEN), re.DOTALL)


def _str_entry(d: bytes, key: bytes) -> bytes | None:
    """Raw bytes of dict entry ``/key``'s string value (first occurrence
    in ``d``), or None when absent."""
    m = _str_entry_re(key).search(d)
    return _pdf_string_bytes(*m.group("body", "hexbody")) if m else None


def _png_predictor_undo(body: bytes, columns: int, colors: int, bits: int) -> bytes:
    """Undo PNG row filters (predictors 10-15): every row is one filter
    type byte + the filtered bytes; None/Sub/Up/Average/Paeth."""
    bpp = max(1, (colors * bits + 7) // 8)
    rowlen = (columns * colors * bits + 7) // 8
    out = bytearray()
    prev = bytearray(rowlen)
    i = 0
    n = len(body)
    while i < n:
        ft = body[i]
        i += 1
        row = bytearray(body[i : i + rowlen])
        i += rowlen
        if len(row) < rowlen:
            row.extend(bytes(rowlen - len(row)))
        if ft == 1:  # Sub
            for j in range(bpp, rowlen):
                row[j] = (row[j] + row[j - bpp]) & 0xFF
        elif ft == 2:  # Up
            for j in range(rowlen):
                row[j] = (row[j] + prev[j]) & 0xFF
        elif ft == 3:  # Average
            for j in range(rowlen):
                left = row[j - bpp] if j >= bpp else 0
                row[j] = (row[j] + ((left + prev[j]) >> 1)) & 0xFF
        elif ft == 4:  # Paeth
            for j in range(rowlen):
                a = row[j - bpp] if j >= bpp else 0
                b = prev[j]
                c = prev[j - bpp] if j >= bpp else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pr = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                row[j] = (row[j] + pr) & 0xFF
        # ft == 0: None; unknown types pass through unfiltered
        out += row
        prev = row
    return bytes(out)


def _decode_stream(obj: bytes) -> bytes | None:
    """The stream body of one object slice, run through its /Filter
    chain and /DecodeParms predictor; None when absent, corrupt, or
    using an unknown filter."""
    m = _STREAM_RE.search(obj)
    if m is None:
        return None
    return _apply_filters(obj[: m.start()], m.group(1))


def _tiff_predictor_undo(body: bytes, columns: int, colors: int, bits: int) -> bytes:
    """Undo TIFF predictor 2 (horizontal differencing): each sample is
    stored as the difference from the same-channel sample to its left,
    per row. Only the byte-aligned ``bits == 8`` layout is handled
    (the form real PDFs use); sub-byte layouts pass through."""
    if bits != 8:
        return body
    rowlen = columns * colors
    out = bytearray(body)
    for r0 in range(0, len(out) - rowlen + 1, rowlen):
        for j in range(colors, rowlen):
            out[r0 + j] = (out[r0 + j] + out[r0 + j - colors]) & 0xFF
    return bytes(out)


# Standard-security-handler decryption (scope and algorithms: module
# doc). Per spec the xref stream and the /Encrypt dict itself are NOT
# encrypted; ObjStm members inherit their container's decryption.
_PDF_PAD = bytes(
    (
        0x28, 0xBF, 0x4E, 0x5E, 0x4E, 0x75, 0x8A, 0x41,
        0x64, 0x00, 0x4E, 0x56, 0xFF, 0xFA, 0x01, 0x08,
        0x2E, 0x2E, 0x00, 0xB6, 0xD0, 0x68, 0x3E, 0x80,
        0x2F, 0x0C, 0xA9, 0xFE, 0x64, 0x53, 0x69, 0x7A,
    )
)
_ID_RE = re.compile(rb"/ID\s*\[\s*<([0-9A-Fa-f]*)>")
_CFM_RE = re.compile(rb"/CFM\s*/(\w+)")


def _rc4(key: bytes, data: bytes) -> bytes:
    """Plain RC4 (KSA + PRGA). Pure Python — fine at dialect-fixture
    sizes; a corpus-scale encrypted-PDF path would want a C cipher."""
    S = list(range(256))
    j = 0
    for i in range(256):
        j = (j + S[i] + key[i % len(key)]) & 0xFF
        S[i], S[j] = S[j], S[i]
    out = bytearray(len(data))
    i = j = 0
    for n, b in enumerate(data):
        i = (i + 1) & 0xFF
        j = (j + S[i]) & 0xFF
        S[i], S[j] = S[j], S[i]
        out[n] = b ^ S[(S[i] + S[j]) & 0xFF]
    return bytes(out)


def _pdf_string_bytes(lit: bytes | None, hx: bytes | None) -> bytes | None:
    """Raw bytes of a PDF string: literal form (the one escape decoder)
    or hex form (the one hex reader)."""
    if hx is not None:
        return _hex_bytes(hx)
    return None if lit is None else _unescape_pdf_bytes(lit)


def _std_file_key(
    o: bytes,
    p: int,
    id0: bytes,
    r: int,
    length_bits: int,
    user_pwd: bytes = b"",
    encrypt_metadata: bool = True,
) -> bytes:
    """Standard-handler algorithm 2: the file encryption key.
    ``/EncryptMetadata false`` (R ≥ 4) appends ffffffff to the hash
    input per spec step f."""
    pad_pwd = (user_pwd + _PDF_PAD)[:32]
    h = hashlib.md5(
        pad_pwd
        + o[:32]
        + (p & 0xFFFFFFFF).to_bytes(4, "little")
        + id0
        + (b"\xff\xff\xff\xff" if r >= 4 and not encrypt_metadata else b"")
    ).digest()
    n = max(5, min(16, length_bits // 8)) if r >= 3 else 5
    if r >= 3:
        for _ in range(50):
            h = hashlib.md5(h[:n]).digest()
    return h[:n]


def _std_user_check(key: bytes, id0: bytes, r: int) -> bytes:
    """Expected /U prefix for ``key`` (algorithms 4/5)."""
    if r == 2:
        return _rc4(key, _PDF_PAD)
    x = hashlib.md5(_PDF_PAD + id0).digest()
    x = _rc4(key, x)
    for i in range(1, 20):
        x = _rc4(bytes(b ^ i for b in key), x)
    return x  # 16 bytes; the other 16 of /U are arbitrary padding


def _aes_cbc_strip(key: bytes, body: bytes) -> bytes:
    """PDF AES stream layout: 16-byte IV prefix + CBC blocks + PKCS#7
    padding. Misaligned/truncated ciphertext (corrupt file) decrypts
    to b'' — skipped stream, never an exception."""
    if len(key) not in (16, 32) or len(body) < 32 or (len(body) - 16) % 16:
        return b""
    plain = aes_cbc_decrypt(key, body[:16], body[16:])
    pad = plain[-1]
    return plain[:-pad] if 1 <= pad <= 16 else b""


def _hash_2b(pwd: bytes, salt: bytes, udata: bytes = b"") -> bytes:
    """ISO 32000-2 algorithm 2.B (the /R 6 hardened password hash):
    iterate SHA-256/384/512 over AES-128-CBC encryptions of the
    password block until the 64-round floor and the data-dependent
    stop condition are both met."""
    k = hashlib.sha256(pwd + salt + udata).digest()
    rnd = 0
    while True:
        k1 = (pwd + k + udata) * 64
        e = aes_cbc_encrypt(k[:16], k[16:32], k1)
        k = (hashlib.sha256, hashlib.sha384, hashlib.sha512)[sum(e[:16]) % 3](
            e
        ).digest()
        rnd += 1
        if rnd >= 64 and e[-1] <= rnd - 32:
            return k[:32]


class _StdDecryptor:
    """Per-object decryption from a validated file key.

    ``mode``: 'rc4' (V1/V2, and V4 /CFM /V2), 'aesv2' (V4 /CFM /AESV2
    — per-object MD5 key with the sAlT suffix, AES-128-CBC), 'aesv3'
    (V5 — the 256-bit file key used directly, no per-object
    derivation)."""

    def __init__(self, key: bytes, mode: str = "rc4"):
        self._key = key
        self._mode = mode

    def decrypt(self, num: int, gen: int, body: bytes) -> bytes:
        if self._mode == "aesv3":
            return _aes_cbc_strip(self._key, body)
        h = hashlib.md5(
            self._key
            + (num & 0xFFFFFF).to_bytes(3, "little")
            + (gen & 0xFFFF).to_bytes(2, "little")
            + (b"sAlT" if self._mode == "aesv2" else b"")
        ).digest()
        k = h[: min(len(self._key) + 5, 16)]
        if self._mode == "aesv2":
            return _aes_cbc_strip(k, body)
        return _rc4(k, body)


def _find_encryption(data: bytes, offsets: dict, password: bytes = b""):
    """_StdDecryptor for an encrypted document, or None (unencrypted,
    or an unsupported/locked scheme — extraction then degrades to
    skipping the undecodable streams). A non-empty ``password`` is
    tried as the USER password, then as the OWNER password (algorithm
    7: unwrap the user password from /O, R 2–4; validate against
    /O + /OE, R 5–6), and finally the empty user password — the order
    real readers use, so a document with an empty user password still
    opens when the caller supplies an unrelated password."""
    ref = _ref_entry(data, b"Encrypt", last=True)
    if ref is None:
        return None
    enc = _object_at(data, ref, offsets)  # never encrypted itself
    if enc is None or re.search(rb"/Filter\s*/Standard\b", enc) is None:
        return None
    v, r, p = (_int_entry(enc, k, data, offsets) for k in (b"V", b"R", b"P"))
    u = _str_entry(enc, b"U")

    if v == 5 and r in (5, 6):
        # AES-256: recover the file key from /UE (user path) or /OE
        # (owner path) per algorithm 2.A; R5 is the deprecated
        # plain-SHA-256 variant, R6 the hardened 2.B hash
        ue = _str_entry(enc, b"UE")
        if u is None or len(u) < 48 or ue is None or len(ue) < 32:
            return None
        vsalt, ksalt = u[32:40], u[40:48]

        def h5(pwd: bytes, salt: bytes, udata: bytes = b"") -> bytes:
            pwd = pwd[:127]  # ISO 32000-2: at most 127 password bytes
            if r == 6:
                return _hash_2b(pwd, salt, udata)
            return hashlib.sha256(pwd + salt + udata).digest()

        for pwd in dict.fromkeys((password, b"")):  # user attempts
            if h5(pwd, vsalt) == u[:32]:
                key = aes_cbc_decrypt(h5(pwd, ksalt), bytes(16), ue[:32])
                return _StdDecryptor(key, "aesv3")
        if password:
            # owner attempt: the owner hash covers the 48 /U bytes
            o5, oe = _str_entry(enc, b"O"), _str_entry(enc, b"OE")
            if o5 is not None and len(o5) >= 48 and oe is not None and len(oe) >= 32:
                ovsalt, oksalt = o5[32:40], o5[40:48]
                if h5(password, ovsalt, u[:48]) == o5[:32]:
                    ik = h5(password, oksalt, u[:48])
                    key = aes_cbc_decrypt(ik, bytes(16), oe[:32])
                    return _StdDecryptor(key, "aesv3")
        return None  # wrong password — cannot decrypt

    if v not in (1, 2, 4) or r not in (2, 3, 4) or p is None:
        return None
    mode = "rc4"
    if v == 4:
        # crypt filters: the default /StdCF names the method; only
        # AESV2 / V2 / Identity are meaningful for the standard handler
        cfm = _CFM_RE.search(enc)
        name = cfm.group(1) if cfm else b"V2"
        if name == b"AESV2":
            mode = "aesv2"
        elif name == b"Identity":
            return None  # pass-through: document effectively unencrypted
        elif name != b"V2":
            return None  # unknown method — skip streams, never garbage
    o = _str_entry(enc, b"O")
    if o is None or len(o) < 32:
        return None
    ids = _ID_RE.findall(data)  # last trailer wins
    id0 = _hex_bytes(ids[-1]) if ids else b""  # pure hex: never None
    em = re.search(rb"/EncryptMetadata\s+false", enc) is None
    length = _int_entry(enc, b"Length", data, offsets) or (128 if v == 4 else 40)

    candidates = list(dict.fromkeys((password, b"")))
    if password:
        # owner attempt (algorithm 7): the owner-derived RC4 key chain
        # unwraps the PADDED user password from /O; feeding that pad
        # back through the user path validates it against /U
        h = hashlib.md5((password + _PDF_PAD)[:32]).digest()
        if r >= 3:
            for _ in range(50):
                h = hashlib.md5(h).digest()
        okey = h[: max(5, min(16, length // 8)) if r >= 3 else 5]
        user_pad = o[:32]
        if r == 2:
            user_pad = _rc4(okey, user_pad)
        else:
            for i in range(19, -1, -1):
                user_pad = _rc4(bytes(b ^ i for b in okey), user_pad)
        candidates.insert(1, user_pad)  # after the user attempt

    for pwd in candidates:
        key = _std_file_key(
            o, p, id0, r, length, user_pwd=pwd, encrypt_metadata=em
        )
        if u is not None:
            expect = _std_user_check(key, id0, r)
            if u[: len(expect)] != expect:
                continue  # this candidate fails /U validation
        return _StdDecryptor(key, mode)
    return None  # wrong password — cannot decrypt


# classic xref-table machinery
_XREF_SUB_RE = re.compile(rb"[ \t\r\n]*(\d+)[ \t]+(\d+)[ \t]*[\r\n]+")
_XREF_ENT_RE = re.compile(rb"(\d{10})\s(\d{5})\s([nf])")
_REF_RE = re.compile(rb"(\d+)\s+\d+\s+R")
_KIDS_RE = re.compile(rb"/Kids\s*\[((?:[^\[\]])*)\]")
_CONTENTS_ARR_RE = re.compile(rb"/Contents\s*\[((?:[^\[\]])*)\]")
_OBJ_AT_RE = re.compile(rb"\s*(\d+)\s+(\d+)\s+obj\b")


def _parse_xref_tables(data: bytes) -> dict:
    """objnum → byte offset from every classic ``xref`` table section,
    in file order (incremental updates later in the file override)."""
    offsets: dict = {}
    for m in re.finditer(rb"\bxref\b", data):
        i = m.end()
        while True:
            sub = _XREF_SUB_RE.match(data, i)
            if sub is None:
                break
            start, count = int(sub.group(1)), int(sub.group(2))
            if count > 1_000_000:  # corrupt header; don't loop forever
                break
            i = sub.end()
            for k in range(count):
                ent = _XREF_ENT_RE.match(data, i)
                if ent is None:
                    break
                if ent.group(3) == b"n":
                    offsets[start + k] = int(ent.group(1))
                i = ent.end()
                # entries are nominally 20 bytes; tolerate 19/20 by
                # matching each, not striding
                while i < len(data) and data[i : i + 1] in b" \r\n":
                    i += 1
    return offsets


def _object_at(
    data: bytes, objnum: int, offsets: dict, _depth: int = 0, dec=None
) -> bytes | None:
    """Resolve one object: int entries are byte offsets (classic xref /
    xref-stream type 1), tuple entries are ("container", idx) locations
    inside a /Type /ObjStm (xref-stream type 2). With ``dec`` set, the
    object's stream body is decrypted in place (before any /Filter
    decode) using its (objnum, gen) key."""
    loc = offsets.get(objnum)
    if loc is None or _depth > 4:  # corrupt self-referential chains
        return None
    if isinstance(loc, tuple):
        return _objstm_object(data, loc[0], loc[1], offsets, _depth + 1, dec)
    if loc >= len(data):
        return None
    m = _OBJ_AT_RE.match(data, loc)
    if m is None or int(m.group(1)) != objnum:
        return None
    end = data.find(b"endobj", m.end())
    # an object whose STREAM contains the bytes "endobj" would truncate
    # here; dialect streams never do, and truncation only loses text,
    # never raises
    obj = data[m.end() : end if end >= 0 else len(data)]
    if dec is not None:
        sm = _STREAM_RE.search(obj)
        if sm is not None:
            body = sm.group(1)
            # _STREAM_RE's capture keeps the EOL that separates the body
            # from `endstream`; RC4 is positional and AES needs whole
            # blocks, so decrypt only the declared /Length bytes (direct
            # or an indirect N G R) and leave the framing bytes alone
            n = _int_entry(obj[: sm.start()], b"Length", data, offsets, _depth, dec)
            n = len(body) if n is None or n < 0 else min(n, len(body))
            plain = dec.decrypt(objnum, int(m.group(2)), body[:n]) + body[n:]
            obj = obj[: sm.start(1)] + plain + obj[sm.end(1) :]
    return obj


def _objstm_object(
    data: bytes, container: int, idx: int, offsets: dict, depth: int, dec=None
) -> bytes | None:
    """Object #idx inside a /Type /ObjStm container: decode the
    container's stream, read its "objnum offset" header pairs, return
    the object body slice (ObjStm members carry no streams)."""
    obj = _object_at(data, container, offsets, depth, dec)
    if obj is None:
        return None
    n = _int_entry(obj, b"N", data, offsets, depth, dec)
    first = _int_entry(obj, b"First", data, offsets, depth, dec)
    body = _decode_stream(obj) if n is not None and first is not None else None
    if body is None:
        return None
    header = body[:first].split()
    if idx < 0 or idx >= n or 2 * idx + 1 >= len(header):
        return None
    try:
        start = int(header[2 * idx + 1])
        end = int(header[2 * idx + 3]) if 2 * idx + 3 < 2 * n else len(body) - first
    except ValueError:
        return None
    return body[first + start : first + end]


_OBJ_HEADER_RE = re.compile(rb"(\d+)\s+\d+\s+obj\b")
_W_RE = re.compile(rb"/W\s*\[\s*(\d+)\s+(\d+)\s+(\d+)\s*\]")
_INDEX_RE = re.compile(rb"/Index\s*\[((?:\s*\d+)+)\s*\]")


def _balanced_dict(data: bytes, i: int) -> bytes | None:
    """The << ... >> dict slice starting at ``data[i]`` (balanced over
    nested dicts), or None when unbalanced/absent."""
    if data[i : i + 2] != b"<<":
        return None
    depth = 0
    j = i
    n = min(len(data), i + 65536)  # xref/objstm dicts are small; bound the scan
    while j < n - 1:
        two = data[j : j + 2]
        if two == b"<<":
            depth += 1
            j += 2
        elif two == b">>":
            depth -= 1
            j += 2
            if depth == 0:
                return data[i:j]
        else:
            j += 1
    return None


def _parse_xref_streams(data: bytes) -> dict:
    """objnum → location from every /Type /XRef stream object, in file
    order (later sections override): type-1 entries become int byte
    offsets, type-2 entries become ("container_objnum", idx) tuples."""
    locs: dict = {}
    for m in _OBJ_HEADER_RE.finditer(data):
        i = m.end()
        while i < len(data) and data[i : i + 1] in b" \t\r\n":
            i += 1
        d = _balanced_dict(data, i)
        if d is None or b"/XRef" not in d:
            continue
        w = _W_RE.search(d)
        size = _int_entry(d, b"Size")
        if w is None or size is None:
            continue
        w1, w2, w3 = (int(w.group(k)) for k in (1, 2, 3))
        width = w1 + w2 + w3
        if width == 0 or width > 32:
            continue
        idx_m = _INDEX_RE.search(d)
        if idx_m is not None:
            nums = [int(x) for x in idx_m.group(1).split()]
            sections = list(zip(nums[0::2], nums[1::2]))
        else:
            sections = [(0, size)]
        obj_end = data.find(b"endobj", i)
        body = _decode_stream(data[i : obj_end if obj_end >= 0 else len(data)])
        if body is None:
            continue
        pos = 0
        for start, count in sections:
            if count > 1_000_000:  # corrupt header bomb guard
                break
            for k in range(count):
                if pos + width > len(body):
                    break
                row = body[pos : pos + width]
                pos += width
                # a zero-width type field defaults to type 1 (spec)
                t = int.from_bytes(row[:w1], "big") if w1 else 1
                f2 = int.from_bytes(row[w1 : w1 + w2], "big")
                f3 = int.from_bytes(row[w1 + w2 :], "big")
                if t == 1:
                    locs[start + k] = f2
                elif t == 2:
                    locs[start + k] = (f2, f3)
                # t == 0: free entry
    return locs


_TYPE0_RE = re.compile(rb"/Subtype\s*/Type0\b")
_FONTDICT_RE = re.compile(rb"/Font\s*<<(.*?)>>", re.DOTALL)
_HEXVAL_RE = re.compile(rb"<([0-9A-Fa-f]+)>")
_BFTOK_RE = re.compile(rb"<([0-9A-Fa-f]+)>|(\[)|(\])")
_BFCHAR_SEC_RE = re.compile(rb"beginbfchar(.*?)endbfchar", re.DOTALL)
_BFRANGE_SEC_RE = re.compile(rb"beginbfrange(.*?)endbfrange", re.DOTALL)
_CODESPACE_RE = re.compile(rb"begincodespacerange\s*<([0-9A-Fa-f]+)>")


def _parse_tounicode(body: bytes) -> tuple[dict, int]:
    """bfchar pairs + scalar bfrange runs of one ToUnicode CMap →
    ({code: text}, code byte width). Destinations are UTF-16BE hex."""
    cmap: dict = {}
    m = _CODESPACE_RE.search(body)
    width = max(1, len(m.group(1)) // 2) if m else 2

    def _dst_text(dst_hex: bytes) -> str | None:
        raw = _hex_bytes(dst_hex)  # pure hex by the token regex
        try:  # a 1-byte destination is the UTF-16 unit 00xx
            return (b"\0" * (len(raw) % 2) + raw).decode("utf-16-be")
        except UnicodeDecodeError:
            return None

    for sec in _BFCHAR_SEC_RE.finditer(body):
        vals = _HEXVAL_RE.findall(sec.group(1))
        for src, dst in zip(vals[0::2], vals[1::2]):
            text = _dst_text(dst)
            if text is not None:
                cmap[int(src, 16)] = text
    for sec in _BFRANGE_SEC_RE.finditer(body):
        # token scan, not a flat triple-zip: the ARRAY destination form
        # `<lo> <hi> [<d0> <d1> …]` would otherwise feed its members in
        # as the lo/hi of later entries and mis-map the whole section
        toks = list(_BFTOK_RE.finditer(sec.group(1)))
        i = 0
        nt = len(toks)
        while i < nt:
            if (
                toks[i].group(1) is None
                or i + 1 >= nt
                or toks[i + 1].group(1) is None
            ):
                i += 1  # stray bracket / malformed entry: resync
                continue
            lo_i = int(toks[i].group(1), 16)
            hi_i = int(toks[i + 1].group(1), 16)
            i += 2
            bad = hi_i < lo_i or hi_i - lo_i > 65535  # corrupt/bomb range
            if i < nt and toks[i].group(2):  # [ array of destinations ]
                i += 1
                c = lo_i
                while i < nt and not toks[i].group(3):
                    if toks[i].group(1) is not None:
                        text = _dst_text(toks[i].group(1))
                        if text is not None and not bad and c <= hi_i:
                            cmap[c] = text
                        c += 1
                    i += 1
                i += 1  # the closing ]
            elif i < nt and toks[i].group(1) is not None:
                text = None if bad else _dst_text(toks[i].group(1))
                i += 1
                if text is None:
                    continue
                if len(text) == 1:
                    base = ord(text)
                    for c in range(lo_i, hi_i + 1):
                        cp = base + (c - lo_i)
                        if cp <= 0x10FFFF:  # never-raise: clamp off-plane runs
                            cmap[c] = chr(cp)
                else:  # multi-char destination only valid for the start code
                    cmap[lo_i] = text
    return cmap, width


_FONT_ENTRY_RE = re.compile(rb"/([^\s/<>\[\]()]+)\s+(\d+)\s+\d+\s+R")
_NAME_HEX_RE = re.compile(rb"#([0-9A-Fa-f]{2})")


def _pdf_name_key(raw: bytes) -> bytes:
    """Normalize a PDF name's ``#xx`` hex escapes so the /Font dict key
    and the ``Tf`` operand compare equal however the writer escaped
    them."""
    return _NAME_HEX_RE.sub(lambda m: bytes([int(m.group(1), 16)]), raw)


def _page_fonts(
    data: bytes, node: bytes, offsets: dict, dec=None
) -> tuple[dict, tuple[dict | None, int]]:
    """The page's font table (via /Resources — inline dict or indirect
    ref): ``{name: (cmap, width)}`` per ToUnicode-carrying font, plus
    the DEFAULT ``(cmap|None, width)`` — the union of the page's maps —
    used for text shown before any ``Tf`` and for ``Tf`` names missing
    from the table. Pages without any ToUnicode get ``({}, (None, 2))``
    and keep the latin-1 hex rule."""
    scopes = [node]
    res_ref = _ref_entry(node, b"Resources")
    if res_ref is not None:
        res = _object_at(data, res_ref, offsets, dec=dec)
        if res is not None:
            scopes.append(res)
    fonts: dict = {}
    union: dict = {}
    width = 2
    found = False
    for scope in scopes:
        fd = _FONTDICT_RE.search(scope)
        if fd is None:
            continue
        for entry in _FONT_ENTRY_RE.finditer(fd.group(1)):
            font = _object_at(data, int(entry.group(2)), offsets, dec=dec)
            if font is None:
                continue
            # Type0 (composite/CID) fonts: the string codes ARE 2-byte
            # CIDs under Identity-H/V and the common 2-byte predefined
            # CMaps — force width 2 rather than trusting the ToUnicode
            # codespace (real writers emit sloppy 1-byte codespaces).
            # CIDToGIDMap never matters for text extraction (it maps
            # CID→glyph for RENDERING; ToUnicode maps code→text).
            is_type0 = _TYPE0_RE.search(font) is not None
            tu = _ref_entry(font, b"ToUnicode")
            body = None
            if tu is not None:
                tu_obj = _object_at(data, tu, offsets, dec=dec)
                if tu_obj is not None:
                    body = _decode_stream(tu_obj)
            m = {}
            if body is not None:
                m, w = _parse_tounicode(body)
            if not m:
                if is_type0:
                    # ANY composite font with no usable ToUnicode —
                    # Identity-keyed, predefined CMap (/UniGB-UCS2-H),
                    # or an indirect /Encoding ref — shows CID codes
                    # this reader cannot map to text: width-0 sentinel
                    # SUPPRESSES its strings (correct degradation, not
                    # latin-1 mojibake from CID byte pairs)
                    fonts[_pdf_name_key(entry.group(1))] = (None, 0)
                continue
            if is_type0:
                w = 2
            fonts[_pdf_name_key(entry.group(1))] = (m, w)
            union.update(m)
            # page-default width = the FIRST ToUnicode-carrying
            # font's, deterministically (not dict-iteration luck);
            # a page mixing 1- and 2-byte fonts decodes pre-Tf text
            # best-effort with that width — per-Tf tracking is the
            # accurate path once the content names a font
            if not found:
                width = w
            found = True
    return fonts, ((union, width) if found else (None, 2))


def _page_content_objs(data: bytes, offsets: dict, dec=None) -> list | None:
    """Walk trailer /Root → /Pages → /Kids → /Contents; returns
    ``(content_obj_nums, page_node_bytes)`` per page (document order) —
    the node feeds :func:`_page_cmap` — or None when the walk cannot
    complete (→ caller falls back)."""
    root = _ref_entry(data, b"Root", last=True)
    if root is None:
        return None
    catalog = _object_at(data, root, offsets, dec=dec)
    if catalog is None:
        return None
    pages_ref = _ref_entry(catalog, b"Pages")
    if pages_ref is None:
        return None
    pages: list = []
    seen: set = set()

    def walk(objnum: int, depth: int) -> None:
        if depth > 64 or objnum in seen:  # cycle/bomb guard
            return
        seen.add(objnum)
        node = _object_at(data, objnum, offsets, dec=dec)
        if node is None:
            return
        kids = _KIDS_RE.search(node)
        if kids is not None:
            for ref in _REF_RE.finditer(kids.group(1)):
                walk(int(ref.group(1)), depth + 1)
            return
        arr = _CONTENTS_ARR_RE.search(node)
        if arr is not None:
            pages.append(
                ([int(r.group(1)) for r in _REF_RE.finditer(arr.group(1))], node)
            )
            return
        one = _ref_entry(node, b"Contents")
        if one is not None:
            pages.append(([one], node))

    walk(pages_ref, 0)
    return pages if pages else None


def extract_pdf_text(data: bytes | str, password: bytes | str = b"") -> list[str]:
    """Extract ordered text blocks (one per BT…ET object) from PDF bytes.

    Pages come from the xref-table + page-tree walk when possible
    (document order, multi-stream pages concatenated, non-content
    streams skipped); otherwise every stream is scanned in byte order.
    Accepts ``str`` too (the pipeline's ``text`` column is string; the
    fixture dialect is latin-1-safe).

    ``password`` opens standard-security documents with a non-empty
    user or owner password (tried in that order, then the empty user
    password). A str password is encoded UTF-8 — exact for /R 6 and
    for the ASCII passwords that dominate /R ≤ 4 practice (the spec's
    PDFDocEncoding for legacy revisions and SASLprep normalization are
    simplifications documented here; pass bytes to control encoding
    precisely). The wrong password degrades to no spans, never raises.
    """
    if isinstance(data, str):
        data = data.encode("latin-1", errors="replace")
    if isinstance(password, str):
        password = password.encode("utf-8", errors="replace")
    # bounded copy: lstrip() on the full payload would duplicate a
    # multi-MB document to check a 5-byte magic
    if not data[:1024].lstrip()[:5].startswith(b"%PDF-"):
        return []
    blocks: list[str] = []
    offsets = _parse_xref_tables(data)
    # PDF 1.5+ xref streams compose with (and, in hybrid files,
    # override) classic tables; type-2 entries resolve through ObjStm
    offsets.update(_parse_xref_streams(data))
    dec = _find_encryption(data, offsets, password) if offsets else None
    pages = _page_content_objs(data, offsets, dec) if offsets else None
    if pages is not None:
        unresolved = False
        for content_objs, page_node in pages:
            bodies = []
            for objnum in content_objs:
                obj = _object_at(data, objnum, offsets, dec=dec)
                if obj is None:
                    # a REFERENCED content object with a stale/corrupt
                    # xref offset: the walk would silently drop that
                    # page's text — recovery (A17) prefers the whole-doc
                    # byte-order fallback. (A corrupt deflate BODY is a
                    # different class: those bytes are gone either way
                    # and are skipped exactly as the fallback would.)
                    unresolved = True
                    break
                body = _decode_stream(obj)
                if body is not None:
                    bodies.append(body)
            if unresolved:
                break
            if bodies:
                fonts, (cmap, width) = _page_fonts(data, page_node, offsets, dec)
                # PDF semantics: a page's content streams form ONE
                # stream when concatenated (operators may span the
                # boundary); the joining byte keeps tokens separated
                _scan_content(b"\n".join(bodies), blocks, cmap, width, fonts)
        if not unresolved:
            return blocks
        blocks = []
    # fallback: no usable xref/trailer (or xref-stream file) — scan
    # every stream in byte order, classifying /Filter per object by
    # clipping the lookback at the previous object boundary
    for stream in _STREAM_RE.finditer(data):
        head = data[max(0, stream.start() - 512) : stream.start()]
        boundary = max(head.rfind(b"endstream"), head.rfind(b"obj"))
        if boundary >= 0:
            head = head[boundary:]
        body = _apply_filters(head, stream.group(1))
        if body is None:
            continue
        # no page↔font association without a tree walk: hex strings
        # take the latin-1 byte rule in the fallback (module doc)
        _scan_content(body, blocks)
    return blocks


def make_fixture_pdf(
    blocks: list[list[str]] | None = None,
    compress: bool = False,
    pages: list[list[list[str]]] | None = None,
    streams_per_page: int = 1,
    reverse_content: bool = False,
    extra_stream: str | None = None,
    ascii_wrap: str | None = None,
    hex_text: bool = False,
    tounicode: bool = False,
    tounicode_ranges: bool | str = False,
) -> str:
    """Build a dialect PDF: one BT…ET object per block, one Td+Tj per line.

    Deterministic; used by the test goldens and the corpus generator
    (FIXTURES.md §6). Returns latin-1-safe ``str`` suitable for the
    ``spans.text`` column (latin-1 maps bytes 1:1, so a compressed
    stream round-trips through the string column losslessly).

    * ``blocks`` — single-page shorthand (the original surface; default
      arguments produce byte-identical output to the original
      generator, which the frozen goldens embed verbatim).
    * ``pages`` — multi-page form: list of per-page block lists.
    * ``streams_per_page`` > 1 splits each page's content stream into
      that many /Contents array members at LINE granularity — which
      deliberately splits mid-text-object, exercising the concatenation
      rule (a BT in one stream, its ET in the next).
    * ``reverse_content=True`` writes the content objects in reverse
      BYTE order (xref offsets stay correct) — only a page-tree walk
      can then produce document order.
    * ``extra_stream`` adds an unreferenced stream object (fake font
      file) containing text-operator-looking bytes — reachable-only
      extraction must skip it.
    * ``compress=True`` emits every content stream as /FlateDecode.
    * ``ascii_wrap`` ∈ {"hex", "a85"} additionally wraps each stream
      body as ASCIIHexDecode / ASCII85Decode (OUTERMOST filter, so
      combined with ``compress`` the dict reads
      ``[/ASCII85Decode /FlateDecode]`` — decode order).
    * ``hex_text=True`` emits show-text strings in ``<hex>`` form
      (latin-1 bytes, 1-byte codes).
    * ``tounicode=True`` emits hex show strings of 2-byte codes with a
      /Font + /ToUnicode CMap object per document mapping each distinct
      character to a code ≥ 0x0100 (codes deliberately NOT latin-1, so
      only a CMap-aware reader decodes them); ``tounicode_ranges=True``
      writes the map as scalar ``bfrange`` runs instead of ``bfchar``
      pairs, and ``tounicode_ranges="array"`` as the array-destination
      bfrange form ``<lo> <hi> [<d0> <d1> …]``.
    """

    def esc(s: str) -> str:
        return s.replace("\\", r"\\").replace("(", r"\(").replace(")", r"\)")

    if pages is None:
        pages = [blocks or []]
    n_pages = len(pages)
    page_nums = list(range(3, 3 + n_pages))
    content_base = 3 + n_pages

    char_code: dict = {}
    if tounicode:
        all_chars = sorted({c for pg in pages for bl in pg for ln in bl for c in ln})
        char_code = {c: 0x0100 + i for i, c in enumerate(all_chars)}

    def show_string(line: str) -> str:
        if tounicode:
            return "<%s> Tj" % "".join("%04X" % char_code[c] for c in line)
        if hex_text:
            return "<%s> Tj" % line.encode("latin-1").hex().upper()
        return "(%s) Tj" % esc(line)

    def page_content(page_blocks: list) -> str:
        body_parts = []
        y = 700
        for block in page_blocks:
            lines = ["BT", "/F1 12 Tf"]
            for line in block:
                lines.append("0 %d Td" % (-14 if len(lines) > 2 else y))
                lines.append(show_string(line))
            lines.append("ET")
            body_parts.append("\n".join(lines))
            y -= 100
        return "\n".join(body_parts)

    def stream_obj(num: int, content: str) -> str:
        body = content.encode("latin-1")
        filters: list = []
        if compress:
            # level fixed for determinism; latin-1 keeps the bytes intact
            body = zlib.compress(body, 6)
            filters.append("/FlateDecode")
        if ascii_wrap == "hex":
            body = body.hex().upper().encode("ascii") + b">"
            filters.insert(0, "/ASCIIHexDecode")
        elif ascii_wrap == "a85":
            import base64

            body = base64.a85encode(body) + b"~>"
            filters.insert(0, "/ASCII85Decode")
        elif ascii_wrap is not None:
            raise ValueError(f"ascii_wrap must be 'hex' or 'a85', got {ascii_wrap!r}")
        if not filters:
            fspec = ""
        elif len(filters) == 1:
            fspec = " /Filter %s" % filters[0]
        else:
            fspec = " /Filter [%s]" % " ".join(filters)
        s = body.decode("latin-1")
        return "%d 0 obj\n<< /Length %d%s >>\nstream\n%s\nendstream\nendobj" % (
            num,
            len(s),
            fspec,
            s,
        )

    page_refs: list = []  # per page: the /Contents refs string
    content_objs: list = []  # (objnum, text)
    next_content = content_base
    for page_blocks in pages:
        content = page_content(page_blocks)
        if streams_per_page <= 1:
            nums = [next_content]
            chunks = [content]
        else:
            lines = content.split("\n")
            k = max(1, -(-len(lines) // streams_per_page))  # ceil
            chunks = [
                "\n".join(lines[i : i + k]) for i in range(0, len(lines), k)
            ] or [""]
            nums = list(range(next_content, next_content + len(chunks)))
        next_content += len(nums)
        for num, chunk in zip(nums, chunks):
            content_objs.append((num, stream_obj(num, chunk)))
        page_refs.append(
            "%d 0 R" % nums[0]
            if len(nums) == 1
            else "[%s]" % " ".join("%d 0 R" % n for n in nums)
        )
    if extra_stream is not None:
        content_objs.append((next_content, stream_obj(next_content, extra_stream)))
        next_content += 1

    resources = ""
    if tounicode:
        font_num, cmap_num = next_content, next_content + 1
        next_content += 2
        if tounicode_ranges:
            # scalar bfrange runs over consecutive (code, char) pairs
            runs: list = []  # (start_code, chars)
            for c, code in sorted(char_code.items(), key=lambda kv: kv[1]):
                if (
                    runs
                    and runs[-1][0] + len(runs[-1][1]) == code
                    and ord(runs[-1][1][-1]) + 1 == ord(c)
                ):
                    runs[-1] = (runs[-1][0], runs[-1][1] + c)
                else:
                    runs.append((code, c))
            if tounicode_ranges == "array":
                # array-destination form: <lo> <hi> [<d0> <d1> …]
                entries = "\n".join(
                    "<%04X> <%04X> [%s]"
                    % (
                        code,
                        code + len(chars) - 1,
                        " ".join(
                            "<%s>" % ch.encode("utf-16-be").hex().upper()
                            for ch in chars
                        ),
                    )
                    for code, chars in runs
                )
            else:
                entries = "\n".join(
                    "<%04X> <%04X> <%04X>"
                    % (code, code + len(chars) - 1, ord(chars[0]))
                    for code, chars in runs
                )
            section = "%d beginbfrange\n%s\nendbfrange" % (len(runs), entries)
        else:
            entries = "\n".join(
                "<%04X> <%s>" % (code, c.encode("utf-16-be").hex().upper())
                for c, code in sorted(char_code.items(), key=lambda kv: kv[1])
            )
            section = "%d beginbfchar\n%s\nendbfchar" % (len(char_code), entries)
        cmap_body = (
            "1 begincodespacerange\n<0000> <FFFF>\nendcodespacerange\n%s" % section
        )
        content_objs.append((cmap_num, stream_obj(cmap_num, cmap_body)))
        content_objs.append(
            (
                font_num,
                "%d 0 obj\n<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica "
                "/ToUnicode %d 0 R >>\nendobj" % (font_num, cmap_num),
            )
        )
        resources = " /Resources << /Font << /F1 %d 0 R >> >>" % font_num

    page_objs = [
        (
            page_nums[pi],
            "%d 0 obj\n<< /Type /Page /Parent 2 0 R /Contents %s "
            "/MediaBox [0 0 612 792]%s >>\nendobj"
            % (page_nums[pi], page_refs[pi], resources),
        )
        for pi in range(n_pages)
    ]
    kids = " ".join("%d 0 R" % n for n in page_nums)
    numbered = [
        (1, "1 0 obj\n<< /Type /Catalog /Pages 2 0 R >>\nendobj"),
        (2, "2 0 obj\n<< /Type /Pages /Kids [%s] /Count %d >>\nendobj" % (kids, n_pages)),
        *page_objs,
        *(reversed(content_objs) if reverse_content else content_objs),
    ]
    out = ["%PDF-1.4"]
    offsets: dict = {}
    pos = len("%PDF-1.4\n")
    for num, o in numbered:
        offsets[num] = pos
        out.append(o)
        pos += len(o) + 1
    size = next_content  # objects 0..size-1; 0 is the free head
    xref = ["xref", "0 %d" % size, "0000000000 65535 f "]
    xref += ["%010d 00000 n " % offsets[n] for n in range(1, size)]
    out.append("\n".join(xref))
    out.append(
        "trailer\n<< /Size %d /Root 1 0 R >>\nstartxref\n%d\n%%%%EOF" % (size, pos)
    )
    return "\n".join(out)
