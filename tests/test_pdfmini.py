"""PDF fixture-dialect tests (SURVEY.md A26, FIXTURES.md §6)."""
import re

import pytest

from tests.pdf_fixtures import (
    make_fixture_pdf_15,
    make_fixture_pdf_cid,
    make_fixture_pdf_encrypted,
    make_fixture_pdf_two_fonts,
)
from xkit.pdfmini import extract_pdf_text, make_fixture_pdf


def test_single_block_lines_joined():
    pdf = make_fixture_pdf([["line one", "line two"]])
    assert extract_pdf_text(pdf) == ["line one line two"]


def test_blocks_are_separate_spans():
    pdf = make_fixture_pdf([["block a"], ["block b"]])
    assert extract_pdf_text(pdf) == ["block a", "block b"]


def test_escapes():
    pdf = make_fixture_pdf([["parens (x) back\\slash"]])
    assert extract_pdf_text(pdf) == ["parens (x) back\\slash"]


def test_octal_escape():
    raw = (
        "%PDF-1.4\nstream\nBT (caf\\351) Tj ET\nendstream"
    )
    assert extract_pdf_text(raw) == ["café"]


def test_tj_array():
    raw = "%PDF-1.4\nstream\nBT [ (a ) -120 (b) ] TJ ET\nendstream"
    assert extract_pdf_text(raw) == ["a b"]


def test_non_pdf_returns_nothing():
    assert extract_pdf_text("hello") == []
    assert extract_pdf_text(b"") == []
    assert extract_pdf_text("%PDF-1.4 but no streams") == []


def test_bytes_and_str_agree():
    pdf = make_fixture_pdf([["same either way"]])
    assert extract_pdf_text(pdf) == extract_pdf_text(pdf.encode("latin-1"))


def test_flate_compressed_stream():
    blocks = [["compressed block one"], ["and block two"]]
    plain = make_fixture_pdf(blocks)
    packed = make_fixture_pdf(blocks, compress=True)
    assert packed != plain
    assert extract_pdf_text(packed) == extract_pdf_text(plain)
    # survives the string column round trip (latin-1 is byte-preserving)
    assert extract_pdf_text(packed.encode("latin-1")) == extract_pdf_text(plain)


def test_flate_corrupt_skips_never_raises():
    packed = make_fixture_pdf([["will be corrupted"]], compress=True)
    i = packed.index("stream\n") + 10
    corrupt = packed[:i] + "XX" + packed[i + 2 :]
    assert extract_pdf_text(corrupt) == []


def test_flate_stream_ending_in_eol_byte():
    # the stream-body regex must not eat a compressed tail byte that
    # happens to be \r or \n (~1/128 of flate streams)
    import zlib
    for i in range(60000):
        content = f"BT\n/F1 12 Tf\n0 700 Td\n(line {i} payload) Tj\nET"
        if zlib.compress(content.encode("latin-1"), 6)[-1:] in (b"\r", b"\n"):
            packed = make_fixture_pdf([[f"line {i} payload"]], compress=True)
            assert extract_pdf_text(packed) == [f"line {i} payload"]
            return
    raise AssertionError("no EOL-tail sample found in 60k tries")


def test_filter_lookback_stops_at_object_boundary():
    # an uncompressed stream right after a compressed object must not
    # inherit the earlier object's /FlateDecode
    import zlib
    pdf = (
        "%PDF-1.4\n1 0 obj\n<< /Filter /FlateDecode /Length 5 >>\nstream\n"
        + zlib.compress(b"BT (secret-A) Tj ET").decode("latin-1")
        + "\nendstream\nendobj\n2 0 obj\n<< /Length 20 >>\nstream\nBT (plain-B) Tj ET\nendstream\nendobj"
    )
    assert extract_pdf_text(pdf) == ["secret-A", "plain-B"]


def test_whitespace_anchor_block_min_chars_zero():
    from xkit.extract import extract_html
    from xkit.options import ExtractOptions

    assert extract_html("<p><a href=x>   </a></p>", ExtractOptions(min_block_chars=0)) == []


def test_operator_substring_inside_string_not_terminator():
    # 'ET' inside (GET STARTED) must not end the text object
    pdf = make_fixture_pdf([["GET STARTED today"], ["normal line"]])
    assert extract_pdf_text(pdf) == ["GET STARTED today", "normal line"]
    packed = make_fixture_pdf([["GET STARTED today"]], compress=True)
    assert extract_pdf_text(packed) == ["GET STARTED today"]


def test_escaped_backslash_before_digits_or_letters():
    # (a\\101b) is backslash + '101', NOT octal \101; escapes resolve
    # left-to-right in one pass
    assert extract_pdf_text(make_fixture_pdf([["a\\101b"]])) == ["a\\101b"]
    assert extract_pdf_text(make_fixture_pdf([["a\\nb"]])) == ["a\\nb"]


def test_incremental_update_overrides_offset():
    """A later xref section re-pointing an object wins (classic
    incremental-update semantics)."""
    from xkit.pdfmini import extract_pdf_text, make_fixture_pdf

    base = make_fixture_pdf([["original text here"]])
    # append a replacement content object + an update xref section
    replacement = (
        "4 0 obj\n<< /Length 44 >>\nstream\n"
        "BT\n/F1 12 Tf\n0 700 Td\n(updated text) Tj\nET\nendstream\nendobj"
    )
    off = len(base) + 1
    updated = (
        base
        + "\n"
        + replacement
        + "\nxref\n4 1\n%010d 00000 n \ntrailer\n<< /Size 5 /Root 1 0 R >>\n%%%%EOF"
        % off
    )
    assert extract_pdf_text(updated) == ["updated text"]


def test_corrupt_xref_falls_back_to_byte_scan():
    from xkit.pdfmini import extract_pdf_text, make_fixture_pdf

    pdf = make_fixture_pdf([["survives corruption"]])
    # wreck every xref offset; the page walk fails, byte-order scan runs
    import re

    broken = re.sub(r"\d{10} 00000 n", "9999999999 00000 n", pdf)
    assert extract_pdf_text(broken) == ["survives corruption"]


def test_multi_stream_bt_et_across_boundary():
    from xkit.pdfmini import extract_pdf_text, make_fixture_pdf

    pdf = make_fixture_pdf(
        [["alpha line", "beta line", "gamma line"]], streams_per_page=2
    )
    assert extract_pdf_text(pdf) == ["alpha line beta line gamma line"]


def test_single_stale_content_offset_falls_back():
    """One corrupt content-object offset (incremental-update damage)
    must not silently drop that page — the whole doc takes the
    byte-order fallback instead (review finding)."""
    from xkit.pdfmini import extract_pdf_text, make_fixture_pdf

    pdf = make_fixture_pdf(pages=[[["page one text"]], [["page two text"]]])
    # object 7 (page two's content) is at some offset NNN; corrupt just
    # that xref entry by pointing it at the trailer
    import re

    offs = re.findall(r"(\d{10}) 00000 n", pdf)
    broken = pdf.replace(offs[-1] + " 00000 n", "0000000001 00000 n")
    got = extract_pdf_text(broken)
    assert "page one text" in got and "page two text" in got


def test_hex_string_form():
    from xkit.pdfmini import extract_pdf_text

    pdf = (
        "%PDF-1.4\n4 0 obj\n<< /Length 70 >>\nstream\n"
        "BT\n/F1 12 Tf\n0 700 Td\n<48656C6C 6F20> Tj\n(world) Tj\nET\n"
        "endstream\nendobj\n%%EOF"
    )
    assert extract_pdf_text(pdf) == ["Hello world"]
    # odd digit count pads with 0: <5> -> 0x50 = 'P'
    pdf2 = pdf.replace("<48656C6C 6F20>", "<5>")
    assert extract_pdf_text(pdf2) == ["Pworld"]


def test_quote_show_operators():
    from xkit.pdfmini import extract_pdf_text

    pdf = (
        "%PDF-1.4\n4 0 obj\n<< /Length 80 >>\nstream\n"
        "BT\n/F1 12 Tf\n0 700 Td\n(line one) Tj\n(line two) '\n(line three) '\nET\n"
        "endstream\nendobj\n%%EOF"
    )
    assert extract_pdf_text(pdf) == ["line one line two line three"]


def test_ascii_filters_and_chains():
    for wrap in ("hex", "a85"):
        for comp in (False, True):
            p = make_fixture_pdf(
                [["Filter body line one", "and two"]], compress=comp, ascii_wrap=wrap
            )
            assert extract_pdf_text(p) == ["Filter body line one and two"], (wrap, comp)


def test_unknown_filter_skips_stream_never_raises():
    p = make_fixture_pdf([["secret"]]).replace(
        "<< /Length", "<< /Filter /JBIG2Decode /Length"
    )
    assert extract_pdf_text(p) == []


def test_corrupt_ascii85_skips_stream():
    p = make_fixture_pdf([["ok text"]], ascii_wrap="a85").replace("~>", "\x01\x02~>")
    assert extract_pdf_text(p) == []


def test_tounicode_bfchar_non_latin():
    p = make_fixture_pdf([["Ωμέγα δproof", "ascii too"]], tounicode=True)
    assert extract_pdf_text(p) == ["Ωμέγα δproof ascii too"]


def test_tounicode_bfrange_scalar_runs():
    p = make_fixture_pdf([["abcdef ghij"]], tounicode=True, tounicode_ranges=True)
    assert extract_pdf_text(p) == ["abcdef ghij"]


def test_tounicode_bfrange_array_destinations():
    p = make_fixture_pdf(
        [["Ωμ mixed αβγ run", "ascii too"]], tounicode=True, tounicode_ranges="array"
    )
    assert extract_pdf_text(p) == ["Ωμ mixed αβγ run ascii too"]
    # mixed scalar + array entries in ONE section must not mis-zip
    from xkit.pdfmini import _parse_tounicode

    cmap, _ = _parse_tounicode(
        b"3 beginbfrange\n<0100> <0102> [<0041> <0042> <0043>]\n"
        b"<0110> <0111> <0061>\n<0120> <0120> [<00E9>]\nendbfrange"
    )
    assert cmap == {
        0x100: "A", 0x101: "B", 0x102: "C",
        0x110: "a", 0x111: "b", 0x120: "é",
    }
    # surplus array members beyond hi and stray brackets degrade quietly
    cmap2, _ = _parse_tounicode(
        b"2 beginbfrange\n<0100> <0100> [<0041> <0042>]\n] [\n<0200> <01FF> <0043>\nendbfrange"
    )
    assert cmap2 == {0x100: "A"}


def test_tounicode_through_compressed_cmap_and_chained_content():
    p = make_fixture_pdf(
        [["混合 mixed 页"]], tounicode=True, compress=True, ascii_wrap="a85"
    )
    assert extract_pdf_text(p) == ["混合 mixed 页"]


def test_tounicode_unmapped_code_fallback():
    # patch one show-string code to an unmapped value: < 256 falls back
    # to chr(code), >= 256 to U+FFFD
    p = make_fixture_pdf([["ab"]], tounicode=True)
    import re

    hexes = re.findall(r"<([0-9A-F]{8})> Tj", p)
    assert hexes
    patched = p.replace(hexes[0], "0041" + "9999")  # 'A' direct + unmapped high
    assert extract_pdf_text(patched) == ["A�"]


def test_tounicode_bfrange_bomb_guarded():
    # a corrupt 2^31-wide range must be skipped, not expanded
    p = make_fixture_pdf([["xy"]], tounicode=True, tounicode_ranges=True)
    bomb = p.replace("beginbfrange", "beginbfrange\n<0000> <7FFFFFFF> <0041>")
    out = extract_pdf_text(bomb)  # must return promptly, never OOM
    assert isinstance(out, list)


def test_fallback_scan_ignores_cmap_keeps_latin1_hex():
    # cutting the xref forces the byte-order fallback, which has no
    # page<->font association: 2-byte codes then decode per the latin-1
    # byte rule (documented), so the CMapped text is NOT reproduced
    p = make_fixture_pdf([["Ωz"]], tounicode=True)
    cut = p[: p.find("xref")]
    assert extract_pdf_text(cut) != extract_pdf_text(p)


def test_xref_stream_objstm_roundtrip():
    p = make_fixture_pdf_15(
        [["XRef stream line one", "and line two"], ["second block"]]
    )
    assert extract_pdf_text(p) == [
        "XRef stream line one and line two",
        "second block",
    ]


def test_xref_stream_variants():
    for use_objstm in (False, True):
        for predictor in (1, 12):
            for compress in (False, True):
                p = make_fixture_pdf_15(
                    [["variant body text"]],
                    use_objstm=use_objstm,
                    predictor=predictor,
                    compress=compress,
                )
                assert extract_pdf_text(p) == ["variant body text"], (
                    use_objstm, predictor, compress,
                )


def test_xref_stream_multipage_document_order():
    p = make_fixture_pdf_15(pages=[[["page one txt"]], [["page two txt"]]])
    assert extract_pdf_text(p) == ["page one txt", "page two txt"]


def test_corrupt_xref_stream_falls_back():
    import re


    p = make_fixture_pdf_15([["fallback body text"]], compress=False, predictor=1)
    broken = re.sub(r"/Type /XRef", "/Type /Junk", p)
    assert extract_pdf_text(broken) == ["fallback body text"]


def test_png_predictor_undo_all_filter_types():
    """Forward-apply each PNG filter type to known rows, assert the
    decoder inverts it exactly (the fixture only exercises Up)."""
    from xkit.pdfmini import _png_predictor_undo

    rows = [bytes([10, 20, 30, 40]), bytes([15, 25, 200, 5]), bytes([0, 255, 7, 9])]
    width = 4

    def fwd(ft):
        out, prev = bytearray(), bytes(width)
        for r in rows:
            out.append(ft)
            if ft == 0:
                out.extend(r)
            elif ft == 1:  # Sub (bpp=1)
                out.extend((r[j] - (r[j - 1] if j else 0)) & 0xFF for j in range(width))
            elif ft == 2:  # Up
                out.extend((r[j] - prev[j]) & 0xFF for j in range(width))
            elif ft == 3:  # Average
                out.extend(
                    (r[j] - (((r[j - 1] if j else 0) + prev[j]) >> 1)) & 0xFF
                    for j in range(width)
                )
            elif ft == 4:  # Paeth
                enc = bytearray()
                for j in range(width):
                    a = r[j - 1] if j else 0
                    b = prev[j]
                    c = prev[j - 1] if j else 0
                    pp = a + b - c
                    pa, pb, pc = abs(pp - a), abs(pp - b), abs(pp - c)
                    pr = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                    enc.append((r[j] - pr) & 0xFF)
                out.extend(enc)
            prev = r
        return bytes(out)

    expect = b"".join(rows)
    for ft in range(5):
        assert _png_predictor_undo(fwd(ft), width, 1, 8) == expect, ft


def test_objstm_depth_guard_never_loops():
    # a type-2 entry whose container is itself type-2 (corrupt) must
    # resolve to None, not recurse forever
    from xkit.pdfmini import _object_at

    offsets = {1: (2, 0), 2: (1, 0)}
    assert _object_at(b"%PDF-1.5", 1, offsets) is None


class TestEncryption:
    def test_rc4_known_vector(self):
        from xkit.pdfmini import _rc4

        # classic RC4 test vector (key "Key", plaintext "Plaintext")
        out = _rc4(b"Key", b"Plaintext")
        assert out.hex() == "bbf316e8d940af0ad3"
        assert _rc4(b"Key", out) == b"Plaintext"  # symmetric

    def test_r2_and_r3_roundtrip(self):
        for r in (2, 3):
            pdf = make_fixture_pdf_encrypted(
                [["Alpha secret line", "beta line"], ["gamma block"]], r=r
            )
            assert extract_pdf_text(pdf) == [
                "Alpha secret line beta line",
                "gamma block",
            ]
            # ciphertext really is opaque: plaintext absent from the bytes
            assert "Alpha secret" not in pdf

    def test_flate_under_rc4(self):
        pdf = make_fixture_pdf_encrypted([["compressed secret words"]], compress=True)
        assert extract_pdf_text(pdf) == ["compressed secret words"]

    def test_user_locked_degrades_empty(self):
        pdf = make_fixture_pdf_encrypted([["hidden"]], corrupt_u=True, compress=True)
        assert extract_pdf_text(pdf) == []

    def test_corrupt_encrypt_dict_never_raises(self):
        pdf = make_fixture_pdf_encrypted([["x y z words"]], r=3)
        # truncate /O, strip /ID, nonsense /V — each must degrade, not raise
        for mangled in (
            pdf.replace("/O <", "/O <00", 1),
            pdf.replace("/ID", "/XD"),
            pdf.replace("/V 2", "/V 9"),
            pdf[: pdf.find("/U")] + ">>\nendobj\n%%EOF",
        ):
            assert isinstance(extract_pdf_text(mangled), list)

    def test_owner_password_variation_changes_o_not_text(self):
        a = make_fixture_pdf_encrypted([["same text"]], owner_pwd=b"one")
        b = make_fixture_pdf_encrypted([["same text"]], owner_pwd=b"two")
        assert a != b  # /O differs -> file key differs -> ciphertext differs
        assert extract_pdf_text(a) == extract_pdf_text(b) == ["same text"]

    def test_aes_fips_197_vectors(self):
        from xkit.aes import _expand_key, decrypt_block, encrypt_block

        pt = bytes.fromhex("00112233445566778899aabbccddeeff")
        ct128 = encrypt_block(_expand_key(bytes(range(16))), pt)
        ct256 = encrypt_block(_expand_key(bytes(range(32))), pt)
        assert ct128.hex() == "69c4e0d86a7b0430d8cdb78070b4c55a"  # C.1
        assert ct256.hex() == "8ea2b7ca516745bfeafc49904b496089"  # C.3
        assert decrypt_block(_expand_key(bytes(range(16))), ct128) == pt
        assert decrypt_block(_expand_key(bytes(range(32))), ct256) == pt

    def test_aesv2_v4_roundtrip(self):
        pdf = make_fixture_pdf_encrypted(
            [["Aes one twenty eight", "cbc line"], ["second block"]], r=4
        )
        assert extract_pdf_text(pdf) == [
            "Aes one twenty eight cbc line",
            "second block",
        ]
        assert "Aes one" not in pdf  # really encrypted
        flate = make_fixture_pdf_encrypted([["deflate under aes"]], r=4, compress=True)
        assert extract_pdf_text(flate) == ["deflate under aes"]
        locked = make_fixture_pdf_encrypted([["hidden"]], r=4, corrupt_u=True)
        assert extract_pdf_text(locked) == []

    def test_aes256_r5_r6_roundtrip(self):
        for r in (5, 6):
            pdf = make_fixture_pdf_encrypted([["Aes two fifty six text"]], r=r)
            assert extract_pdf_text(pdf) == ["Aes two fifty six text"]
            assert "fifty six" not in pdf
            flate = make_fixture_pdf_encrypted([["squeezed"]], r=r, compress=True)
            assert extract_pdf_text(flate) == ["squeezed"]
            locked = make_fixture_pdf_encrypted([["no"]], r=r, corrupt_u=True)
            assert extract_pdf_text(locked) == []

    def test_hash_2b_shape_and_determinism(self):
        from xkit.pdfmini import _hash_2b

        a = _hash_2b(b"", bytes(8))
        assert len(a) == 32 and a == _hash_2b(b"", bytes(8))
        assert a != _hash_2b(b"", bytes([1] * 8))  # salt-sensitive
        assert a != _hash_2b(b"pw", bytes(8))  # password-sensitive

    def test_encrypt_metadata_false_key_variant(self):
        pdf = make_fixture_pdf_encrypted(
            [["metadata not encrypted here"]], r=4, encrypt_metadata=False
        )
        assert "/EncryptMetadata false" in pdf
        assert extract_pdf_text(pdf) == ["metadata not encrypted here"]
        # the flag really changes the key: same doc minus the flag in the
        # dict (key derived WITH it) must fail /U validation → no spans
        assert extract_pdf_text(pdf.replace(" /EncryptMetadata false", "")) == []

    def test_tiff_predictor_2_roundtrip(self):
        import zlib

        from xkit.pdfmini import _decode_stream

        plain = bytes(range(16)) * 3  # 3 rows of 16 columns, 1 color
        rows = []
        for r0 in range(0, len(plain), 16):
            row = bytearray(plain[r0 : r0 + 16])
            for j in range(15, 0, -1):  # forward-difference = encode
                row[j] = (row[j] - row[j - 1]) & 0xFF
            rows.append(bytes(row))
        comp = zlib.compress(b"".join(rows))
        obj = (
            b"<< /Length %d /Filter /FlateDecode /DecodeParms "
            b"<< /Predictor 2 /Columns 16 /Colors 1 /BitsPerComponent 8 >> >>\n"
            b"stream\n%s\nendstream" % (len(comp), comp)
        )
        assert _decode_stream(obj) == plain

    def test_aes_corrupt_ciphertext_degrades(self):
        pdf = make_fixture_pdf_encrypted([["will be mangled"]], r=4)
        # shrink the stream body by one byte: CBC misalignment must skip
        # the stream (possibly salvaging nothing), never raise
        i = pdf.find("stream\n") + len("stream\n")
        mangled = pdf[:i] + pdf[i + 1 :]
        assert isinstance(extract_pdf_text(mangled), list)
        # /UE truncated to 1 byte: unusable key material degrades to []
        pdf6 = make_fixture_pdf_encrypted([["locked out"]], r=6)
        j = pdf6.find("/UE <")
        mangled6 = pdf6[: j + 5] + "00" + pdf6[pdf6.find(">", j + 5) :]
        assert extract_pdf_text(mangled6) == []


def test_two_fonts_per_tf_tracking():
    """Per-Tf font tracking (round 4): /F1 and /F2 map the SAME codes
    to different characters — each block decodes through the ACTIVE
    font's map, including a mid-BT switch."""

    pdf = make_fixture_pdf_two_fonts(f1_text="Alpha", f2_text="Omega")
    assert extract_pdf_text(pdf) == ["Alpha", "Omega", "Alpha Omega"]


def test_two_fonts_pre_tf_uses_union_default():
    """Text shown before any Tf decodes through the page-union default
    (later fonts win conflicting codes — frozen dialect)."""

    pdf = make_fixture_pdf_two_fonts(f1_text="AB", f2_text="xy",
                                     mixed=False, pre_tf=True)
    # the leading no-Tf block shows F1's codes but decodes via the
    # union, where F2 clobbered the shared codes
    assert extract_pdf_text(pdf) == ["xy", "AB", "xy"]


def test_two_fonts_unknown_tf_name_falls_back_to_union():
    pdf = make_fixture_pdf_two_fonts(f1_text="AB", f2_text="xy", mixed=False)
    patched = pdf.replace("/F1 12 Tf", "/F9 12 Tf")
    # /F9 is not in the font table: its block takes the union default
    assert extract_pdf_text(patched) == ["xy", "xy"]


def test_two_fonts_hex_escaped_name_matches():
    """#xx hex escapes in the Tf operand normalize against the /Font
    dict key (PDF name rule)."""

    pdf = make_fixture_pdf_two_fonts(f1_text="AB", f2_text="xy", mixed=False)
    # escape the '1' (0x31): /F#31 == /F1. The two edits are
    # length-neutral IN TOTAL so the xref offsets of the font objects
    # behind the content stream stay valid
    patched = pdf.replace("/F1 12 Tf\n0 600 Td", "/F#31 12 Tf\n0 6 Td")
    assert len(patched) == len(pdf)
    assert extract_pdf_text(patched) == ["AB", "xy"]


# ------------------------------------------------------- round 5: CID fonts


def test_cid_identity_h_sloppy_codespace_forces_two_bytes():
    """Type0/Identity-H codes are 2-byte CIDs even when the ToUnicode
    codespacerange lies (1-byte <00> <FF> — the real-writer sloppiness);
    the honest codespace must decode identically."""

    sloppy = make_fixture_pdf_cid("नमस्ते", sloppy_codespace=True)
    honest = make_fixture_pdf_cid("नमस्ते", sloppy_codespace=False)
    assert extract_pdf_text(sloppy) == ["नमस्ते"]
    assert extract_pdf_text(honest) == ["नमस्ते"]


def test_cid_literal_and_hex_strings_share_decode():
    """A literal (…) string under an Identity-H font carries the same
    2-byte CID codes as a hex string — including codes whose bytes are
    the string delimiters ( ) \\ (escape round-trip)."""

    pdf = make_fixture_pdf_cid("mixed forms", literal=True, cid_base=0x0200)
    assert extract_pdf_text(pdf) == ["mixed forms"]
    # cid_base 0x0225: codes run 0x0225..: low bytes hit 0x28 '(' /
    # 0x29 ')' / 0x5C '\' for some positions of a longer text
    tricky = make_fixture_pdf_cid(
        "abcdefghij" * 12, literal=True, cid_base=0x0225
    )
    out = extract_pdf_text(tricky)
    assert len(out) == 1 and out[0].replace(" ", "") == "abcdefghij" * 12


def test_cid_without_tounicode_degrades_to_no_text():
    """Identity-H with no usable ToUnicode: the codes are glyph ids —
    the page yields NO text (never latin-1 mojibake from CID bytes)."""

    assert extract_pdf_text(make_fixture_pdf_cid("नमस्ते", tounicode=False)) == []
    # corrupting the ToUnicode stream away degrades the same way
    pdf = make_fixture_pdf_cid("ab", tounicode=True)
    broken = pdf.replace("beginbfchar", "beginnothing")
    assert extract_pdf_text(broken) == []


def test_cid_descendant_font_has_no_cidtogidmap():
    """The fixture's CIDFontType2 carries no /CIDToGIDMap — extraction
    never needs it (it maps CID→glyph for rendering)."""

    assert "/CIDToGIDMap" not in make_fixture_pdf_cid("ab")


def test_cid_predefined_cmap_without_tounicode_suppresses():
    """A Type0 font with a PREDEFINED CMap (/UniGB-UCS2-H) and no
    ToUnicode must suppress like the Identity case — any composite
    font this reader cannot map yields no text, never mojibake
    (review finding r05)."""

    pdf = make_fixture_pdf_cid("нет карты", tounicode=False)
    patched = pdf.replace("/Encoding /Identity-H", "/Encoding /UniGB-UCS2-H")
    assert extract_pdf_text(patched) == []
    # indirect /Encoding reference: same degradation
    patched2 = pdf.replace("/Encoding /Identity-H", "/Encoding 99 0 R    ")
    assert extract_pdf_text(patched2) == []


# ------------------------------------------------- password-protected (round 5)


@pytest.mark.parametrize("r", [2, 3, 4, 5, 6])
def test_user_password_matrix(r):
    """Non-empty USER password across all five standard-security
    generations: no password and a wrong password degrade to no spans;
    the user password and the OWNER password both open the document
    (user path: direct key derivation; owner path: algorithm 7 /O
    unwrap for R 2-4, /O + /OE validation for R 5-6)."""

    pdf = make_fixture_pdf_encrypted(
        [["protected text"]], r=r, user_pwd=b"s3cret", owner_pwd=b"boss"
    )
    assert extract_pdf_text(pdf) == []
    assert extract_pdf_text(pdf, "wrong") == []
    assert extract_pdf_text(pdf, "s3cret") == ["protected text"]
    assert extract_pdf_text(pdf, b"s3cret") == ["protected text"]
    assert extract_pdf_text(pdf, "boss") == ["protected text"]


@pytest.mark.parametrize("r", [3, 6])
def test_empty_user_password_still_opens_with_any_password(r):
    """A document with an EMPTY user password must open regardless of
    what password the caller supplies (the reader falls through
    user -> owner -> empty, like real viewers), and the owner password
    opens it through the owner path too."""

    pdf = make_fixture_pdf_encrypted([["open text"]], r=r, owner_pwd=b"boss")
    assert extract_pdf_text(pdf) == ["open text"]
    assert extract_pdf_text(pdf, "unrelated") == ["open text"]
    assert extract_pdf_text(pdf, "boss") == ["open text"]


def test_password_with_flate_and_encrypt_metadata_false():
    """Password-derived keys compose with the other /Encrypt knobs:
    Flate-under-RC4 (decrypt before inflate) and /EncryptMetadata
    false (key derivation step f)."""

    pdf = make_fixture_pdf_encrypted(
        [["zipped"]], r=3, user_pwd=b"pw", compress=True
    )
    assert extract_pdf_text(pdf, "pw") == ["zipped"]
    pdf2 = make_fixture_pdf_encrypted(
        [["nometa"]], r=4, user_pwd=b"pw", encrypt_metadata=False
    )
    assert extract_pdf_text(pdf2, "pw") == ["nometa"]
    assert extract_pdf_text(pdf2, "other") == []


def test_corrupt_u_locked_even_with_owner_password():
    """corrupt_u flips /U AFTER the owner hash was computed over the
    original bytes — R6 owner validation covers /U, so the document is
    unopenable by design (degrades, never raises)."""

    pdf = make_fixture_pdf_encrypted([["x"]], r=6, corrupt_u=True)
    assert extract_pdf_text(pdf) == []
    assert extract_pdf_text(pdf, "owner") == []


def test_pdf_password_threads_through_extract_doc():
    """The pipeline surface: ExtractOptions.pdf_password reaches the
    PDF branch of extract_doc — one corpus-wide setting opens
    protected documents next to plain HTML rows."""
    from xkit.doc import extract_doc
    from xkit.options import ExtractOptions

    pdf = make_fixture_pdf_encrypted([["inside pdf"]], r=3, user_pwd=b"kw")
    kinds, texts, media = ["html", "pdf"], ["<p>plain</p>", pdf], [None, None]
    k, t, m, o = extract_doc(kinds, texts, media, list(range(2)),
                             ExtractOptions(pdf_password="kw"))
    assert t == ["plain", "inside pdf"]
    # without the password the pdf row contributes nothing
    k2, t2, m2, o2 = extract_doc(kinds, texts, media, list(range(2)))
    assert t2 == ["plain"]


def test_password_length_caps_match_spec():
    """R<=4 passwords act through the 32-byte pad window (two
    passwords sharing their first 32 bytes are equivalent); R6 caps at
    127 bytes (ISO 32000-2) — the extractor and the fixture generator
    truncate identically."""

    long_pwd = b"A" * 40
    pdf = make_fixture_pdf_encrypted([["padded"]], r=3, user_pwd=long_pwd)
    assert extract_pdf_text(pdf, long_pwd) == ["padded"]
    # same first 32 bytes, different tail: equivalent under the pad rule
    assert extract_pdf_text(pdf, b"A" * 32 + b"B" * 8) == ["padded"]
    assert extract_pdf_text(pdf, b"A" * 31 + b"C") == []

    huge = bytes(range(200)) * 1  # 200 bytes, truncates at 127
    pdf6 = make_fixture_pdf_encrypted([["capped"]], r=6, user_pwd=huge)
    assert extract_pdf_text(pdf6, huge) == ["capped"]
    assert extract_pdf_text(pdf6, huge[:127]) == ["capped"]
    assert extract_pdf_text(pdf6, huge[:126]) == []


def test_password_fuzz_random_bytes():
    """Random password BYTES (including pad-collision-prone and
    high-bit bytes) across the fast generations: the exact password
    and the exact owner password open; a one-byte perturbation within
    the effective window fails. Guards the algorithm-7 unwrap against
    password-byte edge cases."""
    import random


    rnd = random.Random(420)
    for trial in range(12):
        r = rnd.choice([2, 3, 4, 5])
        upw = bytes(rnd.randrange(256) for _ in range(rnd.randrange(1, 24)))
        opw = bytes(rnd.randrange(256) for _ in range(rnd.randrange(1, 24)))
        pdf = make_fixture_pdf_encrypted(
            [["fz"]], r=r, user_pwd=upw, owner_pwd=opw
        )
        assert extract_pdf_text(pdf, upw) == ["fz"], (r, upw)
        assert extract_pdf_text(pdf, opw) == ["fz"], (r, opw)
        flip = bytearray(upw)
        flip[rnd.randrange(len(flip))] ^= 0x01
        if bytes(flip) not in (upw, opw):
            assert extract_pdf_text(pdf, bytes(flip)) == [], (r, upw, flip)
        assert extract_pdf_text(pdf) == []


def _rebuild(pdf: str, objs: dict) -> str:
    """``pdf`` (a classic-xref fixture) with the objects in ``objs``
    (objnum → full ``N 0 obj … endobj`` text) replaced or added, and a
    fresh xref table; the trailer keeps its entries with a new /Size."""
    xref = pdf.rindex("\nxref\n")
    table = re.findall(r"(\d{10}) \d{5} n", pdf[xref:])
    starts = sorted((int(off), n + 1) for n, off in enumerate(table))
    ends = [s for s, _ in starts[1:]] + [xref + 1]
    body = {n: pdf[s : e - 1] for (s, n), e in zip(starts, ends)}
    body.update(objs)
    out, offsets = "%PDF-1.4\n", {}
    for n in sorted(body):
        offsets[n] = len(out)
        out += body[n] + "\n"
    size = max(body) + 1
    rows = ["%010d 00000 n " % offsets[n] if n in offsets else "0000000000 65535 f "
            for n in range(size)]
    trailer = pdf[pdf.index("trailer", xref) : pdf.index("startxref", xref)]
    trailer = re.sub(r"/Size \d+", "/Size %d" % size, trailer)
    return out + "xref\n0 %d\n%s\n%sstartxref\n%d\n%%%%EOF" % (
        size, "\n".join(rows), trailer, len(out)
    )


@pytest.mark.parametrize("r", [2, 3, 4, 5, 6])
def test_encrypted_stream_with_indirect_length(r):
    """``/Length K 0 R`` on an encrypted content stream: the length is
    read through the reference, so exactly the declared bytes are
    decrypted — a 2-digit K once read as the integer 1, and a 1-digit
    K fell back to the whole capture (trailing EOL included), which
    breaks AES block alignment."""
    for compress in (False, True):
        pdf = make_fixture_pdf_encrypted(
            [["Hello world", "second line"]], r=r, compress=compress
        )
        obj4 = re.search(r"4 0 obj\n<< /Length (\d+)(.*?)endobj", pdf, re.DOTALL)
        for k in (7, 12):
            edited = _rebuild(
                pdf,
                {
                    4: obj4.group(0).replace(
                        "/Length %s" % obj4.group(1), "/Length %d 0 R" % k, 1
                    ),
                    k: "%d 0 obj %s endobj" % (k, obj4.group(1)),
                },
            )
            assert "/Length %d 0 R" % k in edited
            got = extract_pdf_text(edited)
            assert got == ["Hello world second line"], (compress, k, got)


def _pdf_literal(raw: bytes) -> str:
    """``raw`` as a PDF literal string: ``\\ ( )``, CR and LF escaped,
    every other byte verbatim (latin-1)."""
    esc = {0x5C: "\\\\", 0x28: "\\(", 0x29: "\\)", 0x0D: "\\r", 0x0A: "\\n"}
    return "(%s)" % "".join(esc.get(b, chr(b)) for b in raw)


@pytest.mark.parametrize("owner", [b"owner1065", b"owner1186", b"owner1293"])
def test_encrypt_literal_o_and_u_entries(owner):
    """/O and /U written as escaped literal strings decode through the
    same escape decoder as show text. These owner passwords give /O or
    /U bytes whose escapes the old sequential .replace() decoder
    mis-read (an escaped backslash before ``n``/``r``/a digit)."""
    pdf = make_fixture_pdf_encrypted([["Hello world"]], r=3, owner_pwd=owner)
    enc = re.search(r"5 0 obj\n.*?endobj", pdf, re.DOTALL).group(0)
    for key in ("O", "U"):
        hx = re.search(r"/%s <([0-9A-F]+)>" % key, enc)
        lit = _pdf_literal(bytes.fromhex(hx.group(1)))
        enc = enc.replace(hx.group(0), "/%s %s" % (key, lit), 1)
    edited = _rebuild(pdf, {5: enc})
    assert "/O <" not in edited and "/U <" not in edited
    assert extract_pdf_text(edited) == ["Hello world"]


# (literal string body, decoded bytes) — ISO 32000-1 §7.3.4.2
_ESCAPE_TABLE = [
    (rb"\\101", b"\\101"),  # escaped backslash, then plain digits
    (rb"\1", b"\x01"),  # 1-digit octal
    (rb"a\bc", b"a\x08c"),
    (rb"\f", b"\x0c"),
    (rb"\\n", b"\\n"),  # escaped backslash, then a plain n
    (rb"\q", b"q"),  # unknown escape: the backslash is dropped
    (rb"\(", b"("),
    (b"a\\\nb", b"ab"),  # backslash + EOL: line continuation
    (b"a\r\nb", b"a\nb"),  # unescaped EOL (CRLF, CR or LF): one LF
    (b"a\rb", b"a\nb"),
    (b"a\nb", b"a\nb"),
    (b"a\r\rb", b"a\n\nb"),
]


def test_literal_string_escape_table():
    from xkit.pdfmini import _pdf_string_bytes, _unescape_pdf_bytes

    for body, want in _ESCAPE_TABLE:
        assert _unescape_pdf_bytes(body) == want, body
        assert _pdf_string_bytes(body, None) == want, body
        pdf = b"%PDF-1.4\nstream\nBT (<" + body + b">) Tj ET\nendstream"
        got = extract_pdf_text(pdf)
        assert got == ["<%s>" % want.decode("latin-1")], (body, got)


def test_literal_string_nests_balanced_parentheses():
    """Balanced unescaped parentheses belong to a literal string (ISO
    32000-1 §7.3.4.2), in show text and in dict string entries alike;
    an escaped one does not count towards the balance."""
    from xkit.pdfmini import _str_entry

    pdf = b"%PDF-1.4\nstream\nBT (a(b)c) Tj ET\nendstream"
    assert extract_pdf_text(pdf) == ["a(b)c"]
    pdf = b"%PDF-1.4\nstream\nBT (x(y\\)(z))w) Tj ET\nendstream"
    assert extract_pdf_text(pdf) == ["x(y)(z))w"]
    assert _str_entry(b"<< /T (a(b(c))d) /U (e) >>", b"T") == b"a(b(c))d"


def test_fallback_applies_decode_parms_predictor():
    """The byte-order fallback (no xref) decodes a stream exactly like
    the page walk: /Filter chain, then the /DecodeParms PNG predictor."""
    import zlib

    columns = 8
    content = b"BT /F1 12 Tf 0 700 Td (predicted text) Tj ET"
    content += b" " * (-len(content) % columns)  # whole rows
    rows, prev = [], bytes(columns)
    for i in range(0, len(content), columns):
        row = content[i : i + columns]
        rows.append(b"\x02" + bytes((a - b) & 0xFF for a, b in zip(row, prev)))  # Up
        prev = row
    comp = zlib.compress(b"".join(rows))
    pdf = (
        b"%%PDF-1.4\n1 0 obj\n<< /Length %d /Filter /FlateDecode "
        b"/DecodeParms << /Predictor 12 /Columns %d >> >>\nstream\n%s\n"
        b"endstream\nendobj\n%%%%EOF" % (len(comp), columns, comp)
    )
    assert extract_pdf_text(pdf) == ["predicted text"]


def _aes_encrypt_stream(dec, num: int, plain: bytes) -> bytes:
    """The inverse of ``dec.decrypt(num, 0, ·)`` for the AES modes
    (aesv2: per-object MD5 key with the sAlT suffix; aesv3: the file
    key itself), with a zero IV."""
    import hashlib

    from xkit.aes import aes_cbc_encrypt

    key = dec._key
    if dec._mode == "aesv2":
        salt = num.to_bytes(3, "little") + bytes(2) + b"sAlT"
        key = hashlib.md5(key + salt).digest()[:16]
    pad = 16 - len(plain) % 16
    return bytes(16) + aes_cbc_encrypt(key, bytes(16), plain + bytes([pad]) * pad)


@pytest.mark.parametrize("r", [4, 5])  # R6 decrypts streams like R5
def test_encrypted_stream_with_length_in_object_stream(r):
    """``/Length 12 0 R`` whose object 12 lives in an encrypted ObjStm
    (a type-2 xref-stream entry): the container is decrypted before
    its members are read, so the length resolves and exactly the
    declared AES bytes are decrypted."""
    from xkit.pdfmini import _find_encryption, _parse_xref_tables

    for compress in (False, True):
        pdf = make_fixture_pdf_encrypted([["Hello world"]], r=r, compress=compress)
        raw = pdf.encode("latin-1")
        dec = _find_encryption(raw, _parse_xref_tables(raw))
        assert dec is not None and dec._mode in ("aesv2", "aesv3")
        obj4 = re.search(r"4 0 obj\n<< /Length (\d+)(.*?)endobj", pdf, re.DOTALL)
        header = b"12 0\n"
        stm = _aes_encrypt_stream(dec, 20, header + obj4.group(1).encode())
        container = (
            "20 0 obj\n<< /Type /ObjStm /N 1 /First %d /Length %d >>\n"
            "stream\n%s\nendstream\nendobj"
            % (len(header), len(stm), stm.decode("latin-1"))
        )
        row = bytes([2]) + (20).to_bytes(2, "big") + bytes([0])  # 12 → (20, 0)
        xref_stm = (
            "21 0 obj\n<< /Type /XRef /Size 22 /W [1 2 1] /Index [12 1] "
            "/Length 4 >>\nstream\n%s\nendstream\nendobj" % row.decode("latin-1")
        )
        edited = _rebuild(
            pdf,
            {
                4: obj4.group(0).replace(
                    "/Length %s" % obj4.group(1), "/Length 12 0 R", 1
                ),
                20: container,
                21: xref_stm,
            },
        )
        assert "12 0 obj" not in edited
        got = extract_pdf_text(edited)
        assert got == ["Hello world"], (compress, got)


@pytest.mark.parametrize(
    "key,value",
    [
        ("Columns", -1),
        ("Colors", -1),
        ("BitsPerComponent", -1),
        ("Columns", 10**6),  # one row wider than the whole body
    ],
)
def test_corrupt_predictor_parms_skip_the_stream(key, value):
    """A negative /DecodeParms count, or a row wider than the body, is
    corrupt: the stream is skipped, never raised on — on a content
    stream (no text) and on an xref stream (the byte-order fallback
    still finds the text)."""
    import zlib

    parms = {"Predictor": 12, "Columns": 4}
    parms[key] = value
    dp = "/DecodeParms << %s >>" % " ".join("/%s %d" % kv for kv in parms.items())
    comp = zlib.compress(b"BT (Hello world) Tj ET").decode("latin-1")
    pdf = make_fixture_pdf([["unused"]])

    def with_content(dp: str) -> str:
        return _rebuild(
            pdf,
            {
                4: "4 0 obj\n<< /Length %d /Filter /FlateDecode %s >>\n"
                "stream\n%s\nendstream\nendobj" % (len(comp), dp, comp)
            },
        )

    assert extract_pdf_text(with_content("")) == ["Hello world"]  # control
    assert extract_pdf_text(with_content(dp)) == []

    pdf15 = make_fixture_pdf_15([["Hello world"]], use_objstm=False)
    assert pdf15.count("/DecodeParms << /Predictor 12 /Columns 4 >>") == 1
    bad_xref = pdf15.replace("/DecodeParms << /Predictor 12 /Columns 4 >>", dp)
    assert extract_pdf_text(bad_xref) == ["Hello world"]


def test_one_object_reference_reads_its_first_entry():
    """Inside one object the first ``/Contents N G R`` is the page's
    own: an inline annotation's later ``/Contents`` reference does not
    replace it (the last-match rule is for whole-file trailer keys)."""
    pdf = make_fixture_pdf([["Hello world"]])
    page = re.search(r"3 0 obj\n.*?endobj", pdf, re.DOTALL).group(0)
    annot = page.replace(
        "/Contents 4 0 R", "/Contents 4 0 R /Annots [<< /Subtype /Text /Contents 9 0 R >>]"
    )
    note = "BT (annotation) Tj ET"
    edited = _rebuild(
        pdf,
        {
            3: annot,
            9: "9 0 obj\n<< /Length %d >>\nstream\n%s\nendstream\nendobj" % (len(note), note),
        },
    )
    assert "/Contents 9 0 R" in edited
    assert extract_pdf_text(edited) == ["Hello world"]
