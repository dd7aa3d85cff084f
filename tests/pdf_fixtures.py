"""PDF fixture builders for the tests.

The PDF 1.5 (cross-reference stream / object stream), two-font,
composite-font and encrypted layouts exercise corners of
:mod:`xkit.pdfmini`'s dialect. They are test inputs only, so they live
here rather than in the shipped module; :func:`xkit.pdfmini.make_fixture_pdf`
stays shipped because corpus generation uses it. The ``note`` of each
``pdf_dialect`` golden case names the builder call that made its PDF.
"""

from __future__ import annotations

import hashlib
import zlib

from xkit.aes import aes_cbc_encrypt
from xkit.pdfmini import (
    _PDF_PAD,
    _StdDecryptor,
    _hash_2b,
    _rc4,
    _std_file_key,
    _std_user_check,
    make_fixture_pdf,
)

__all__ = [
    "make_fixture_pdf_15",
    "make_fixture_pdf_cid",
    "make_fixture_pdf_encrypted",
    "make_fixture_pdf_two_fonts",
]


def make_fixture_pdf_15(
    blocks: list[list[str]] | None = None,
    pages: list[list[list[str]]] | None = None,
    use_objstm: bool = True,
    predictor: int = 12,
    compress: bool = True,
) -> str:
    """Build a PDF 1.5-layout fixture: cross-reference STREAM instead
    of a classic table, with the catalog / pages node / page dicts
    optionally packed into a /Type /ObjStm container (type-2 entries).

    * ``predictor`` ≥ 10 applies the PNG Up row filter to the xref
      stream entries (the layout virtually every real writer emits),
      declared via /DecodeParms; < 10 writes raw rows.
    * ``compress`` FlateDecodes the xref/ObjStm streams (content
      streams stay uncompressed — their filters are covered elsewhere).

    Deterministic; latin-1-safe string like :func:`make_fixture_pdf`.
    """

    def esc(s: str) -> str:
        return s.replace("\\", r"\\").replace("(", r"\(").replace(")", r"\)")

    if pages is None:
        pages = [blocks or []]
    n_pages = len(pages)
    page_nums = list(range(3, 3 + n_pages))
    content_base = 3 + n_pages

    def page_content(page_blocks: list) -> str:
        parts = []
        y = 700
        for block in page_blocks:
            lines = ["BT", "/F1 12 Tf"]
            for line in block:
                lines.append("0 %d Td" % (-14 if len(lines) > 2 else y))
                lines.append("(%s) Tj" % esc(line))
            lines.append("ET")
            parts.append("\n".join(lines))
            y -= 100
        return "\n".join(parts)

    def raw_stream_obj(num: int, body: bytes, dict_extra: str) -> str:
        s = body.decode("latin-1")
        return "%d 0 obj\n<< /Length %d%s >>\nstream\n%s\nendstream\nendobj" % (
            num, len(s), dict_extra, s,
        )

    content_texts = [page_content(pb) for pb in pages]
    content_nums = list(range(content_base, content_base + n_pages))
    catalog = "<< /Type /Catalog /Pages 2 0 R >>"
    pages_node = "<< /Type /Pages /Kids [%s] /Count %d >>" % (
        " ".join("%d 0 R" % n for n in page_nums), n_pages,
    )
    page_dicts = [
        "<< /Type /Page /Parent 2 0 R /Contents %d 0 R /MediaBox [0 0 612 792] >>"
        % content_nums[i]
        for i in range(n_pages)
    ]
    tree = [(1, catalog), (2, pages_node)] + list(zip(page_nums, page_dicts))

    emit: list = []  # (objnum, full object text) in byte order
    for num, text in zip(content_nums, content_texts):
        emit.append((num, raw_stream_obj(num, text.encode("latin-1"), "")))
    objstm_num = content_base + n_pages
    entry_loc: dict = {n: "T1" for n, _ in emit}
    if use_objstm:
        bodies = [t.encode("latin-1") + b"\n" for _, t in tree]
        offs, pos = [], 0
        for b in bodies:
            offs.append(pos)
            pos += len(b)
        header = " ".join(
            "%d %d" % (num, off) for (num, _), off in zip(tree, offs)
        ).encode("ascii") + b"\n"
        stm = header + b"".join(bodies)
        extra = " /Type /ObjStm /N %d /First %d" % (len(tree), len(header))
        if compress:
            stm = zlib.compress(stm, 6)
            extra += " /Filter /FlateDecode"
        emit.append((objstm_num, raw_stream_obj(objstm_num, stm, extra)))
        entry_loc[objstm_num] = "T1"
        for idx, (num, _) in enumerate(tree):
            entry_loc[num] = ("T2", idx)
        xref_num = objstm_num + 1
    else:
        for num, text in tree:
            emit.append((num, "%d 0 obj\n%s\nendobj" % (num, text)))
            entry_loc[num] = "T1"
        xref_num = objstm_num
    entry_loc[xref_num] = "T1"
    size = xref_num + 1

    out = ["%PDF-1.5"]
    offsets: dict = {}
    pos = len("%PDF-1.5\n")
    for num, text in sorted(emit):
        offsets[num] = pos
        out.append(text)
        pos += len(text) + 1
    offsets[xref_num] = pos

    w1, w2, w3 = 1, 2, 1
    rows = []
    for num in range(size):
        loc = entry_loc.get(num)
        if loc == "T1":
            rows.append(bytes([1]) + offsets[num].to_bytes(w2, "big") + bytes([0]))
        elif isinstance(loc, tuple):
            rows.append(bytes([2]) + objstm_num.to_bytes(w2, "big") + bytes([loc[1]]))
        else:  # object 0 / gaps: free
            rows.append(bytes([0]) + (0).to_bytes(w2, "big") + bytes([255 if num == 0 else 0]))
    width = w1 + w2 + w3
    parms = ""
    if predictor >= 10:
        # PNG Up forward filter: row_out = row - prev, filter byte 2
        filtered, prev = bytearray(), bytes(width)
        for r in rows:
            filtered.append(2)
            filtered.extend((r[j] - prev[j]) & 0xFF for j in range(width))
            prev = r
        body = bytes(filtered)
        parms = " /DecodeParms << /Predictor %d /Columns %d >>" % (predictor, width)
    else:
        body = b"".join(rows)
    extra = " /Type /XRef /Size %d /W [%d %d %d] /Root 1 0 R%s" % (
        size, w1, w2, w3, parms,
    )
    if compress:
        body = zlib.compress(body, 6)
        extra += " /Filter /FlateDecode"
    out.append(raw_stream_obj(xref_num, body, extra))
    out.append("startxref\n%d\n%%%%EOF" % offsets[xref_num])
    return "\n".join(out)


def make_fixture_pdf_two_fonts(
    f1_text: str = "AB",
    f2_text: str = "xy",
    mixed: bool = True,
    pre_tf: bool = False,
) -> str:
    """Build a two-font fixture whose /F1 and /F2 ToUnicode maps assign
    the SAME code points to DIFFERENT characters (code 0x0100+i means
    ``f1_text[i]`` under F1 but ``f2_text[i]`` under F2) — decodable
    correctly only by a reader that tracks the active font through
    ``Tf``. Emits one block per font, plus (``mixed``) a block that
    switches fonts mid-BT, plus (``pre_tf``) a leading block with NO
    ``Tf`` at all (exercises the page-union default). Deterministic,
    latin-1-safe string like :func:`make_fixture_pdf`."""

    def codes(text: str) -> str:
        return "<%s> Tj" % "".join("%04X" % (0x0100 + i) for i in range(len(text)))

    def cmap_body(text: str) -> str:
        entries = "\n".join(
            "<%04X> <%s>" % (0x0100 + i, c.encode("utf-16-be").hex().upper())
            for i, c in enumerate(text)
        )
        return (
            "1 begincodespacerange\n<0000> <FFFF>\nendcodespacerange\n"
            "%d beginbfchar\n%s\nendbfchar" % (len(text), entries)
        )

    parts = []
    if pre_tf:
        parts.append("BT\n0 700 Td\n%s\nET" % codes(f1_text))
    parts.append("BT\n/F1 12 Tf\n0 600 Td\n%s\nET" % codes(f1_text))
    parts.append("BT\n/F2 12 Tf\n0 500 Td\n%s\nET" % codes(f2_text))
    if mixed:
        parts.append(
            "BT\n/F1 12 Tf\n0 400 Td\n%s\n0 -14 Td\n/F2 12 Tf\n%s\nET"
            % (codes(f1_text), codes(f2_text))
        )
    content = "\n".join(parts)

    objs = [
        (1, "1 0 obj\n<< /Type /Catalog /Pages 2 0 R >>\nendobj"),
        (2, "2 0 obj\n<< /Type /Pages /Kids [3 0 R] /Count 1 >>\nendobj"),
        (
            3,
            "3 0 obj\n<< /Type /Page /Parent 2 0 R /Contents 4 0 R "
            "/MediaBox [0 0 612 792] /Resources << /Font "
            "<< /F1 5 0 R /F2 7 0 R >> >> >>\nendobj",
        ),
        (
            4,
            "4 0 obj\n<< /Length %d >>\nstream\n%s\nendstream\nendobj"
            % (len(content), content),
        ),
        (
            5,
            "5 0 obj\n<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica "
            "/ToUnicode 6 0 R >>\nendobj",
        ),
        (
            6,
            "6 0 obj\n<< /Length %d >>\nstream\n%s\nendstream\nendobj"
            % (len(cmap_body(f1_text)), cmap_body(f1_text)),
        ),
        (
            7,
            "7 0 obj\n<< /Type /Font /Subtype /Type1 /BaseFont /Courier "
            "/ToUnicode 8 0 R >>\nendobj",
        ),
        (
            8,
            "8 0 obj\n<< /Length %d >>\nstream\n%s\nendstream\nendobj"
            % (len(cmap_body(f2_text)), cmap_body(f2_text)),
        ),
    ]
    out = ["%PDF-1.4"]
    offsets: dict = {}
    pos = len("%PDF-1.4\n")
    for num, o in objs:
        offsets[num] = pos
        out.append(o)
        pos += len(o) + 1
    xref = ["xref", "0 9", "0000000000 65535 f "]
    xref += ["%010d 00000 n " % offsets[n] for n in range(1, 9)]
    out.append("\n".join(xref))
    out.append(
        "trailer\n<< /Size 9 /Root 1 0 R >>\nstartxref\n%d\n%%%%EOF" % pos
    )
    return "\n".join(out)


def make_fixture_pdf_cid(
    text: str = "नमस्ते",
    tounicode: bool = True,
    sloppy_codespace: bool = True,
    literal: bool = False,
    cid_base: int = 0x0C15,
) -> str:
    """Build a Type0 / Identity-H composite-font fixture — the dominant
    real-crawl PDF shape (CID-keyed TrueType, text shown as 2-byte CID
    strings). ``text[i]`` is assigned CID ``cid_base + i``; the
    descendant CIDFontType2 carries NO /CIDToGIDMap entry (extraction
    never needs it — that map is for rendering).

    * ``tounicode=True`` attaches a CID→Unicode CMap; with
      ``sloppy_codespace`` its codespacerange lies (``<00> <FF>``,
      1-byte) the way real writers often do — a reader trusting it
      would split the 2-byte CIDs into garbage bytes; Type0 forces
      width 2.
    * ``tounicode=False`` drops the CMap: the strings are bare glyph
      ids and the page must degrade to NO text (never latin-1 mojibake).
    * ``literal=True`` shows the second half of the text as a LITERAL
      ``(...)`` string whose bytes are the same 2-byte CIDs — literal
      and hex strings share the CID decode rule.

    Deterministic, latin-1-safe string like :func:`make_fixture_pdf`.
    """
    cids = [cid_base + i for i in range(len(text))]
    half = (len(cids) + 1) // 2 if literal else len(cids)
    hex_codes = "".join("%04X" % c for c in cids[:half])
    content_lines = ["BT", "/F1 12 Tf", "0 700 Td", "<%s> Tj" % hex_codes]
    if literal and cids[half:]:
        raw = b"".join(c.to_bytes(2, "big") for c in cids[half:])
        lit = (
            raw.replace(b"\\", rb"\\").replace(b"(", rb"\(").replace(b")", rb"\)")
        ).decode("latin-1")
        content_lines += ["0 -14 Td", "(%s) Tj" % lit]
    content_lines.append("ET")
    content = "\n".join(content_lines)

    codespace = "<00> <FF>" if sloppy_codespace else "<0000> <FFFF>"
    entries = "\n".join(
        "<%04X> <%s>" % (c, ch.encode("utf-16-be").hex().upper())
        for c, ch in zip(cids, text)
    )
    cmap_body = (
        "1 begincodespacerange\n%s\nendcodespacerange\n"
        "%d beginbfchar\n%s\nendbfchar" % (codespace, len(cids), entries)
    )

    f1 = (
        "5 0 obj\n<< /Type /Font /Subtype /Type0 /BaseFont /NotoSans "
        "/Encoding /Identity-H /DescendantFonts [6 0 R]"
        + (" /ToUnicode 7 0 R" if tounicode else "")
        + " >>\nendobj"
    )
    objs = [
        (1, "1 0 obj\n<< /Type /Catalog /Pages 2 0 R >>\nendobj"),
        (2, "2 0 obj\n<< /Type /Pages /Kids [3 0 R] /Count 1 >>\nendobj"),
        (
            3,
            "3 0 obj\n<< /Type /Page /Parent 2 0 R /Contents 4 0 R "
            "/MediaBox [0 0 612 792] /Resources << /Font "
            "<< /F1 5 0 R >> >> >>\nendobj",
        ),
        (
            4,
            "4 0 obj\n<< /Length %d >>\nstream\n%s\nendstream\nendobj"
            % (len(content), content),
        ),
        (5, f1),
        (
            6,
            "6 0 obj\n<< /Type /Font /Subtype /CIDFontType2 /BaseFont "
            "/NotoSans /CIDSystemInfo << /Registry (Adobe) /Ordering "
            "(Identity) /Supplement 0 >> >>\nendobj",
        ),
    ]
    if tounicode:
        objs.append(
            (
                7,
                "7 0 obj\n<< /Length %d >>\nstream\n%s\nendstream\nendobj"
                % (len(cmap_body), cmap_body),
            )
        )
    out = ["%PDF-1.4"]
    offsets: dict = {}
    pos = len("%PDF-1.4\n")
    for num, o in objs:
        offsets[num] = pos
        out.append(o)
        pos += len(o) + 1
    size = len(objs) + 1
    xref = ["xref", "0 %d" % size, "0000000000 65535 f "]
    xref += ["%010d 00000 n " % offsets[n] for n in range(1, size)]
    out.append("\n".join(xref))
    out.append(
        "trailer\n<< /Size %d /Root 1 0 R >>\nstartxref\n%d\n%%%%EOF"
        % (size, pos)
    )
    return "\n".join(out)


def _encrypt_dict_obj(
    r: int,
    length_bits: int,
    p: int,
    o: bytes,
    u: bytes,
    oe: bytes | None,
    ue: bytes | None,
    encrypt_metadata: bool = True,
) -> str:
    """The /Encrypt dictionary for each handler generation."""
    v = {2: 1, 3: 2, 4: 4, 5: 5, 6: 5}[r]
    head = "5 0 obj\n<< /Filter /Standard /V %d /R %d /Length %d /P %d" % (
        v, r, length_bits, p,
    )
    if v >= 4:
        cfm = "AESV2" if v == 4 else "AESV3"
        head += (
            " /CF << /StdCF << /CFM /%s /AuthEvent /DocOpen /Length %d >> >>"
            " /StmF /StdCF /StrF /StdCF" % (cfm, length_bits // 8)
        )
    if not encrypt_metadata:
        head += " /EncryptMetadata false"
    head += " /O <%s> /U <%s>" % (o.hex().upper(), u.hex().upper())
    if oe is not None and ue is not None:
        head += " /OE <%s> /UE <%s>" % (oe.hex().upper(), ue.hex().upper())
    return head + " >>\nendobj"


def make_fixture_pdf_encrypted(
    blocks: list[list[str]] | None = None,
    r: int = 3,
    owner_pwd: bytes = b"owner",
    user_pwd: bytes = b"",
    compress: bool = False,
    corrupt_u: bool = False,
    encrypt_metadata: bool = True,
) -> str:
    """Single-page encrypted fixture (standard security handler):
    /R 2 = 40-bit RC4 /V 1, /R 3 = 128-bit RC4 /V 2, /R 4 = /V 4 crypt
    filter /CFM /AESV2 (AES-128-CBC), /R 5|6 = /V 5 AES-256
    (/UE-wrapped file key; R6 uses the hardened 2.B hash).
    /O, /U (and /OE, /UE for V5 — real owner entries, so the owner-
    password path is exercised for every generation) are computed
    exactly per the spec's algorithms, so the extractor's key
    derivation and validation are exercised for real, not against
    hand-picked constants. A non-empty ``user_pwd`` makes the document
    require a password (the extractor must degrade to [] without one
    and open with either ``user_pwd`` or ``owner_pwd``).
    ``corrupt_u`` flips the /U entry — the document then reads as
    user-password-locked and extraction must degrade to [] without
    raising. Deterministic, latin-1-safe string like
    :func:`make_fixture_pdf`.
    """
    if r not in (2, 3, 4, 5, 6):
        raise ValueError(f"r must be in 2..6, got {r}")
    length_bits = {2: 40, 3: 128, 4: 128, 5: 256, 6: 256}[r]
    n = length_bits // 8
    user_pwd, owner_pwd = user_pwd[:127], owner_pwd[:127]  # ISO 32000-2 cap
    id0 = bytes(range(0xA0, 0xB0))  # fixed 16-byte file ID

    def esc(s: str) -> str:
        return s.replace("\\", r"\\").replace("(", r"\(").replace(")", r"\)")

    # content stream (same layout rule as make_fixture_pdf)
    body_parts = []
    y = 700
    for block in blocks or []:
        lines = ["BT", "/F1 12 Tf"]
        for line in block:
            lines.append("0 %d Td" % (-14 if len(lines) > 2 else y))
            lines.append("(%s) Tj" % esc(line))
        lines.append("ET")
        body_parts.append("\n".join(lines))
        y -= 100
    content = "\n".join(body_parts).encode("latin-1")
    filt = ""
    if compress:
        content = zlib.compress(content, 6)
        filt = " /Filter /FlateDecode"

    p = -44  # print allowed, modify denied — a typical owner-locked doc

    def aes_stream(k: bytes, plain: bytes) -> bytes:
        iv = bytes(range(0x30, 0x40))  # fixed IV: fixture determinism
        padlen = 16 - len(plain) % 16
        return iv + aes_cbc_encrypt(k, iv, plain + bytes([padlen]) * padlen)

    oe = ue = None
    if r >= 5:
        # AES-256 (V5): /U = 2.A hash + validation/key salts; /UE wraps
        # the file key; /O and /OE are the REAL owner twins (hashes
        # cover the 48 /U bytes per spec)
        vsalt, ksalt = bytes(range(0x10, 0x18)), bytes(range(0x18, 0x20))
        ovsalt, oksalt = bytes(range(0x20, 0x28)), bytes(range(0x28, 0x30))
        key = bytes((i * 7 + 3) & 0xFF for i in range(32))
        if r == 6:
            hsh, ik = _hash_2b(user_pwd, vsalt), _hash_2b(user_pwd, ksalt)
        else:
            hsh = hashlib.sha256(user_pwd + vsalt).digest()
            ik = hashlib.sha256(user_pwd + ksalt).digest()
        u = hsh + vsalt + ksalt
        ue = aes_cbc_encrypt(ik, bytes(16), key)
        if r == 6:
            ohsh = _hash_2b(owner_pwd, ovsalt, u[:48])
            oik = _hash_2b(owner_pwd, oksalt, u[:48])
        else:
            ohsh = hashlib.sha256(owner_pwd + ovsalt + u[:48]).digest()
            oik = hashlib.sha256(owner_pwd + oksalt + u[:48]).digest()
        o = ohsh + ovsalt + oksalt
        oe = aes_cbc_encrypt(oik, bytes(16), key)
        if corrupt_u:
            u = bytes(b ^ 0xFF for b in u)
        enc_body = aes_stream(key, content)
    else:
        # /O (algorithm 3): RC4 of the padded USER password under a key
        # derived from the owner password
        h = hashlib.md5((owner_pwd + _PDF_PAD)[:32]).digest()
        if r >= 3:
            for _ in range(50):
                h = hashlib.md5(h).digest()
        okey = h[:n]
        o = _rc4(okey, (user_pwd + _PDF_PAD)[:32])
        if r >= 3:
            for i in range(1, 20):
                o = _rc4(bytes(b ^ i for b in okey), o)

        key = _std_file_key(
            o, p, id0, r, length_bits, user_pwd=user_pwd,
            encrypt_metadata=encrypt_metadata,
        )
        u = _std_user_check(key, id0, r)
        if r >= 3:
            u += bytes(16)  # /U is 32 bytes; tail is arbitrary padding
        if corrupt_u:
            u = bytes(b ^ 0xFF for b in u)
        if r == 4:
            h4 = hashlib.md5(
                key + (4).to_bytes(3, "little") + (0).to_bytes(2, "little") + b"sAlT"
            ).digest()
            enc_body = aes_stream(h4[:16], content)
        else:
            enc_body = _StdDecryptor(key).decrypt(4, 0, content)  # RC4: enc == dec

    objs = [
        (1, "1 0 obj\n<< /Type /Catalog /Pages 2 0 R >>\nendobj"),
        (
            2,
            "2 0 obj\n<< /Type /Pages /Kids [3 0 R] /Count 1 >>\nendobj",
        ),
        (
            3,
            "3 0 obj\n<< /Type /Page /Parent 2 0 R /Contents 4 0 R "
            "/MediaBox [0 0 612 792] >>\nendobj",
        ),
        (
            4,
            "4 0 obj\n<< /Length %d%s >>\nstream\n%s\nendstream\nendobj"
            % (len(enc_body), filt, enc_body.decode("latin-1")),
        ),
        (5, _encrypt_dict_obj(r, length_bits, p, o, u, oe, ue, encrypt_metadata)),
    ]
    out = ["%PDF-1.4"]
    offsets: dict = {}
    pos = len("%PDF-1.4\n")
    for num, ob in objs:
        offsets[num] = pos
        out.append(ob)
        pos += len(ob) + 1
    xref = ["xref", "0 6", "0000000000 65535 f "]
    xref += ["%010d 00000 n " % offsets[num] for num in range(1, 6)]
    out.append("\n".join(xref))
    out.append(
        "trailer\n<< /Size 6 /Root 1 0 R /Encrypt 5 0 R /ID [<%s> <%s>] >>\n"
        "startxref\n%d\n%%%%EOF" % (id0.hex().upper(), id0.hex().upper(), pos)
    )
    return "\n".join(out)
