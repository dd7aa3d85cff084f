"""Author the pytest golden files (tests/golden/*.json).

The golden files are the FROZEN SPEC of extraction semantics
(SURVEY.md §0/§5: /root/reference is empty, so the goldens are
authored from the documented reference semantics and then pinned).
This script exists to (re)author them deliberately: each case lists
its inputs; expected spans are computed by the current implementation,
printed for human review, and written out. It is NOT run by CI — the
committed JSON is authoritative; tests compare against it. If
semantics must change, rerun this script, re-review the diff, and
commit the new goldens as a deliberate spec change.

Run: python scripts/gen_goldens.py
"""

from __future__ import annotations

import base64
import json
import os
import sys

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))

from xkit.doc import extract_doc  # noqa: E402
from xkit.options import ExtractOptions  # noqa: E402
from tests.pdf_fixtures import make_fixture_pdf_two_fonts  # noqa: E402
from xkit.pdfmini import make_fixture_pdf  # noqa: E402

GOLDEN_DIR = os.path.join(os.path.dirname(__file__), "..", "tests", "golden")

PDF1 = make_fixture_pdf([["Hello PDF line one", "and line two"]])
PDF2 = make_fixture_pdf([["First block text"], ["Second block text"]])
PDF_ESC = make_fixture_pdf([["Parens (kept) and back\\slash", "caf\xe9 via latin-1"]])
PDF_TJ = (
    "%PDF-1.4\n4 0 obj\n<< /Length 60 >>\nstream\n"
    "BT\n/F1 12 Tf\n0 700 Td\n[ (Hello ) -250 (world via TJ) ] TJ\nET\n"
    "endstream\nendobj\n%%EOF"
)
# /Contents array: the page's 3 streams concatenate into ONE content
# stream (the line-granular split puts a BT and its ET in different
# streams — the concatenation rule is what keeps the block whole)
PDF_MULTI_STREAM = make_fixture_pdf(
    [["stream split alpha", "stream split beta", "stream split gamma"]],
    streams_per_page=3,
)
# content objects written in REVERSE byte order: only the xref-table +
# page-tree walk yields document order (a byte-order scan reverses it)
PDF_PAGE_ORDER = make_fixture_pdf(
    pages=[[["page one text"]], [["page two text"]], [["page three text"]]],
    reverse_content=True,
)
# an unreferenced stream (fake font file) containing text-operator
# bytes: reachable-only extraction must skip it
PDF_UNREFERENCED = make_fixture_pdf(
    [["only real content"]], extra_stream="BT (FONT JUNK) Tj ET"
)
# same document with the xref table and trailer cut off: the fallback
# byte-order scan still extracts (and DOES see the junk stream — the
# price of having no page tree, frozen here as documented behavior)
PDF_NO_XREF = PDF_UNREFERENCED[: PDF_UNREFERENCED.find("xref")]
# octal escapes IN the source string (the generator's esc() writes
# literal backslashes, so hand-patch a raw \101\040 sequence in)
PDF_OCTAL = make_fixture_pdf([["OCTMARKER"]]).replace(
    "(OCTMARKER)", r"(\101\040via\040octal \7)"
)
# <hex> string form (whitespace inside, odd digit pads 0) and the
# '/" move-and-show operators
PDF_HEX = (
    "%PDF-1.4\n4 0 obj\n<< /Length 70 >>\nstream\n"
    "BT\n/F1 12 Tf\n0 700 Td\n<48656C6C 6F20> Tj\n(world) Tj\nET\n"
    "endstream\nendobj\n%%EOF"
)
PDF_QUOTE_OPS = (
    "%PDF-1.4\n4 0 obj\n<< /Length 80 >>\nstream\n"
    "BT\n/F1 12 Tf\n0 700 Td\n(line one) Tj\n(line two) '\n(line three) '\nET\n"
    "endstream\nendobj\n%%EOF"
)
# round-3 filter additions: ASCIIHexDecode / ASCII85Decode stream
# filters (alone, and as the [/ASCII85Decode /FlateDecode] chain)
PDF_ASCIIHEX = make_fixture_pdf([["Hex filter body text"]], ascii_wrap="hex")
PDF_A85 = make_fixture_pdf([["Ascii85 filter body text"]], ascii_wrap="a85")
PDF_A85_FLATE = make_fixture_pdf(
    [["Chained a85 over flate text"]], compress=True, ascii_wrap="a85"
)
# minimal ToUnicode CMaps: hex show-strings of 2-byte codes that only a
# CMap-aware reader decodes (chars beyond latin-1 prove the map is used)
PDF_TOUNICODE_BFCHAR = make_fixture_pdf(
    [["Ωμέγα and ascii", "τέλος line"]], tounicode=True
)
PDF_TOUNICODE_BFRANGE = make_fixture_pdf(
    [["abcdef range run", "ghij tail"]], tounicode=True, tounicode_ranges=True
)
# compressed CMap stream + filter-chained content in one document
PDF_TOUNICODE_CHAINED = make_fixture_pdf(
    [["混合 mixed 页"]], tounicode=True, compress=True, ascii_wrap="a85"
)
# PDF 1.5 layouts: xref STREAM (PNG-Up predictor + flate) with the
# page tree packed in an ObjStm (type-2 entries); and the bare
# variants (no container, raw rows)
from tests.pdf_fixtures import make_fixture_pdf_15  # noqa: E402

PDF15_OBJSTM = make_fixture_pdf_15(
    [["XRef stream line one", "and line two"], ["second block"]]
)
PDF15_PLAIN = make_fixture_pdf_15(
    [["raw xref rows text"]], use_objstm=False, predictor=1, compress=False
)
PDF15_MULTIPAGE = make_fixture_pdf_15(
    pages=[[["page one txt"]], [["page two txt"]]]
)

# case = (name, spans | html | raw_b64 [, base_url])
# RC4 standard-security encryption (empty user password): /R 2 40-bit
# and /R 3 128-bit, plus Flate-under-RC4 (decrypt BEFORE inflate) and
# the locked (/U mismatch) document degrading to no spans
from tests.pdf_fixtures import make_fixture_pdf_encrypted  # noqa: E402

PDF_ENC_R2 = make_fixture_pdf_encrypted(
    [["Forty bit rc4 secret", "second line"]], r=2
)
PDF_ENC_R3 = make_fixture_pdf_encrypted(
    [["One two eight bit secret"], ["owner locked block"]], r=3
)
PDF_ENC_R3_FLATE = make_fixture_pdf_encrypted(
    [["Encrypted then deflated text"]], r=3, compress=True
)
PDF_ENC_LOCKED = make_fixture_pdf_encrypted(
    [["never readable"]], r=3, corrupt_u=True
)
# round 5: a REAL non-empty user password — the golden path opens the
# document without a password, so it must degrade to no spans (the
# password-supplied open is unit-matrix territory, test_pdfmini)
PDF_ENC_USER_PWD = make_fixture_pdf_encrypted(
    [["password gated"]], r=3, user_pwd=b"hunter2"
)
# AES generations (V4 AESV2 crypt filter, V5 AES-256 R5/R6): decrypt
# is AES-CBC with IV prefix + PKCS#7 strip; R6 exercises the hardened
# 2.B password hash; the locked AES doc degrades like the RC4 one
PDF_TOUNICODE_ARRAY = make_fixture_pdf(
    [["Ωμέγα array form", "δend"]], tounicode=True, tounicode_ranges="array"
)
# round 4: per-Tf font tracking — /F1 and /F2 map the SAME codes to
# DIFFERENT characters; only an active-font-aware reader decodes both
# blocks (and the mid-BT switch) correctly. The pre_tf variant also
# shows text before any Tf taking the page-union default.
PDF_TWO_FONTS = make_fixture_pdf_two_fonts(f1_text="Alpha", f2_text="Omega")
PDF_TWO_FONTS_PRE_TF = make_fixture_pdf_two_fonts(
    f1_text="AB", f2_text="xy", mixed=False, pre_tf=True
)
PDF_TWO_FONTS_UNICODE = make_fixture_pdf_two_fonts(
    f1_text="héllo", f2_text="混合页"
)
PDF_ENC_AESV2 = make_fixture_pdf_encrypted(
    [["Aes v4 crypt filter secret", "second line"]], r=4
)
PDF_ENC_AESV2_FLATE = make_fixture_pdf_encrypted(
    [["Aes then deflate text"]], r=4, compress=True
)
PDF_ENC_AES256_R5 = make_fixture_pdf_encrypted([["Aes256 r5 legacy text"]], r=5)
PDF_ENC_AES256_R6 = make_fixture_pdf_encrypted(
    [["Aes256 hardened hash text"], ["second block"]], r=6
)
PDF_ENC_AES_LOCKED = make_fixture_pdf_encrypted(
    [["never readable"]], r=6, corrupt_u=True
)
# round 5: Type0/Identity-H CID fonts (the dominant real-crawl shape).
# The sloppy 1-byte codespacerange is what real writers emit — Type0
# must force 2-byte CID codes regardless; literal (…) strings carry
# the same CID pairs as hex strings; a CID font with NO ToUnicode must
# degrade to no text (glyph ids, never latin-1 mojibake).
from tests.pdf_fixtures import make_fixture_pdf_cid  # noqa: E402

PDF_CID_TOUNICODE = make_fixture_pdf_cid(
    "नमस्ते दुनिया", tounicode=True, sloppy_codespace=True
)
PDF_CID_LITERAL = make_fixture_pdf_cid(
    "mixed forms", tounicode=True, sloppy_codespace=False, literal=True,
    cid_base=0x0200,
)
PDF_CID_NO_TOUNICODE = make_fixture_pdf_cid("नमस्ते", tounicode=False)

CASES = {
    "malformed_markup": [
        ("p_implicit_close", "<p>paragraph one text<p>paragraph two text"),
        ("li_implicit_close", "<ul><li>item alpha beta<li>item gamma delta</ul>"),
        (
            "table_soup",
            "<table><tr><td>cell one text<td>cell two text<tr><td>cell three text</table>",
        ),
        ("stray_close_dropped", "before stray </div> after stray"),
        (
            "stray_close_pops_ancestors",
            "<div><p>inner paragraph text</div>text after div close",
        ),
        ("unclosed_at_eof", "<p>text with <b>bold running to eof"),
        ("br_void_splits_block", "<p>first line text<br>second line text</p>"),
        ("xml_self_close", "<div/>text after self closed div"),
        ("content_before_html", "leading text outside<html><body><p>paragraph in body</p></body></html>"),
        (
            "mis_nested_inline",
            "<div>alpha <b>beta gamma</div></b> trailing tail text",
        ),
        ("close_void_ignored", "<p>line one</br> continues same block</p>"),
        ("head_implicit_close", "<head><meta charset=utf-8><p>body starts here implicitly"),
        ("lone_lt_literal", "<p>math: a < b and c<3 stays literal</p>"),
        (
            "dt_dd_implicit_close",
            "<dl><dt>term alpha word<dd>definition beta gamma text<dt>term two word"
            "<dd>second definition text here</dl>",
        ),
        (
            "th_td_cell_close",
            "<table><tr><th>head col one<th>head col two<tr><td>data cell one"
            "<td>data cell two</table>",
        ),
        (
            "tr_closes_tr",
            "<table><tr><td>row one cell data<tr><td>row two cell data</table>",
        ),
        (
            "option_select_recovery",
            "<select><option>never shown</select><p>after select content paragraph here",
        ),
        (
            "div_after_open_p",
            "<p>first paragraph content here<div>nested div content paragraph text</div>"
            "trailing text after div block",
        ),
    ],
    "entities": [
        ("named", "<p>fish &amp; chips caf&eacute; &lt;tag&gt;</p>"),
        ("nbsp_collapses", "<p>one&nbsp;&nbsp;two words</p>"),
        ("numeric_dec_hex", "<p>&#120;yz and &#x41;BC letters</p>"),
        ("unknown_literal", "<p>keep &foo; literally here</p>"),
        ("legacy_no_semicolon", "<p>a & b &notanentity word</p>"),
        ("entity_in_attr", '<p>image next</p><img src="a&amp;b.png">'),
        (
            "script_not_decoded",
            '<script>var x = "&amp;";</script><p>visible &amp; decoded text</p>',
        ),
        ("supplementary_plane", "<p>emoji &#x1F600; end of line</p>"),
        ("c1_windows_remap", "<p>dash &#151; remapped here</p>"),
        ("numeric_out_of_range", "<p>big &#x7FFFFFFF; and &#xFFFFFF; refs</p>"),
        (
            "uppercase_entity_names",
            "x &AMP; y &LT; z &GT; w &QUOT; and enough words to keep this block",
        ),
        (
            "entity_nul_and_overrange",
            "null &#0; and over &#x110000; surrounded by enough words to keep the block here",
        ),
        (
            "noncharacter_dropped",
            "max plane char &#x10FFFF; dropped per WHATWG but block text stays intact here",
        ),
    ],
    "rcdata": [
        (
            "script_raw_lt",
            '<script>if(a<b){document.write("</p>")}</script><p>after script text</p>',
        ),
        ("style_raw", "<style>p>a{color:red}</style><p>styled paragraph text</p>"),
        ("title_dropped", "<title>x &amp; y</title><p>body paragraph text</p>"),
        (
            "textarea_dropped",
            "<textarea><p>not parsed &amp; dropped</p></textarea><p>real paragraph text</p>",
        ),
        ("script_unterminated", "<p>before script</p><script>var x = 1; // never closed"),
        ("script_case_insensitive_close", "<script>x=1</SCRIPT><p>after mixed case</p>"),
        (
            "script_close_prefix_not_terminator",
            "<script>a</scriptx>b</script><p>after prefix case</p>",
        ),
        ("script_close_with_space", "<script>x=1</script ><p>close with space text</p>"),
        (
            "entity_lt_never_reparsed",
            "<p>&lt;script&gt;not code&lt;/script&gt; stays visible text</p>",
        ),
    ],
    "comments": [
        ("comment_dropped", "<p>first paragraph</p><!-- hidden comment --><p>second paragraph</p>"),
        ("comment_unterminated", "<p>seen text</p><!-- runs to eof <p>never seen"),
        ("doctype_consumed", "<!DOCTYPE html><p>content after doctype</p>"),
        ("cdata_dropped", "<p>alpha one</p><![CDATA[never shown]]><p>beta two</p>"),
        (
            "conditional_comment",
            "<!--[if IE]><p>ie only</p><![endif]--><p>normal visible text</p>",
        ),
        ("processing_instruction", "<?php echo 1; ?><p>after the pi</p>"),
        ("bogus_bang", "<!weird decl><p>after bogus markup</p>"),
    ],
    "attributes_media": [
        ("img_media_span", "<p>intro paragraph text</p><img src=photo.png><p>outro paragraph text</p>"),
        ("attr_quoting_forms", "<img src='single.png' alt=unquoted width=100>"),
        ("duplicate_attr_first_wins", '<img src="first.png" src="second.png">'),
        (
            "relative_src_base_url",
            '<img src="../img/x.png">',
            "http://example.com/a/b/",
        ),
        ("empty_src_no_media", "<img src><p>text beside empty src</p>"),
        ("video_with_fallback", '<video src="v.mp4">fallback text stays visible</video>'),
        (
            "iframe_fallback_dropped",
            '<iframe src="frame.html">fallback never rendered</iframe><p>after the frame</p>',
        ),
        ("source_in_video", '<video><source src="v.webm"><source src="v.mp4"></video>'),
        ("hidden_img_dropped", '<img src="h.png" hidden><p>visible paragraph text</p>'),
        ("unquoted_slash_value", "<img src=x.png/>"),
        ("source_in_audio", '<audio><source src="a.mp3"></audio><p>after audio block</p>'),
        (
            "nested_table_soup",
            "<table><tr><td>outer first cell<table><tr><td>inner cell text</table>"
            "outer continues<tr><td>outer second row</table>",
        ),
        (
            "attr_missing_name",
            "<p =broken >paragraph with degenerate attribute still works fine",
        ),
        (
            "attr_gt_in_quoted_value",
            '<p title="a>b">quoted greater than inside attr value paragraph</p>',
        ),
        (
            "nested_anchor_density",
            "<div><a href=/a>one <a href=/b>two</a> three</a> only links here</div>",
        ),
    ],
    "boilerplate_density": [
        (
            "nav_dropped",
            '<nav><a href="/">Home</a><a href="/a">About</a></nav>'
            "<p>The main article text, long and meaty enough to score well.</p>",
        ),
        (
            "footer_dropped",
            "<p>Real content paragraph with enough substance here.</p>"
            "<footer>Copyright 2026 Example Corp</footer>",
        ),
        (
            "aside_dropped",
            "<aside>related links sidebar stuff</aside><p>primary content sentence goes here.</p>",
        ),
        (
            "linkfarm_dropped",
            '<div><a href="1">one link</a> <a href="2">two link</a> <a href="3">three link</a></div>'
            "<p>Genuine paragraph content that should survive filtering.</p>",
        ),
        (
            "long_para_with_link_kept",
            '<p>This sentence has a single <a href="x">inline link</a> but plenty of '
            "surrounding prose so link density stays low.</p>",
        ),
        ("whitespace_collapsed", "<p>  lots   of\n\t   spaces   here  </p>"),
        (
            "hidden_attr_dropped",
            '<p hidden>invisible text one</p><p aria-hidden="true">invisible text two</p>'
            "<p>shown paragraph text</p>",
        ),
        ("tiny_tag_heavy_dropped", "<div><b>x</b></div><p>normal length content kept here</p>"),
        (
            "noscript_template_dropped",
            "<noscript>enable js please</noscript><template><p>tpl</p></template>"
            "<p>actual page content text</p>",
        ),
    ],
    "interleaved": [
        (
            "html_media_html",
            [
                ("html", "<p>first part text</p>", None),
                ("media", None, "m1.png"),
                ("html", "<p>second part text</p>", None),
            ],
        ),
        (
            "empty_html_span_keeps_order",
            [
                ("html", "<div></div>", None),
                ("media", None, "m2.png"),
                ("html", "<p>tail content text</p>", None),
            ],
        ),
        (
            "pdf_between_html_and_media",
            [
                ("html", "<p>html head text</p>", None),
                ("pdf", PDF2, None),
                ("media", None, "vid.mp4"),
            ],
        ),
        (
            "offsets_define_order",
            [
                ("html", "<p>came last in array</p>", None, 2),
                ("media", None, "first.png", 0),
                ("html", "<p>middle html text</p>", None, 1),
            ],
        ),
        (
            "html_with_inline_media",
            [
                ("html", '<p>before image</p><img src="inline.png"><p>after image</p>', None),
                ("media", None, "native.mp4"),
            ],
        ),
    ],
    "pdf_dialect": [
        ("pdf_multiline_block", [("pdf", PDF1, None)]),
        ("pdf_two_blocks", [("pdf", PDF2, None)]),
        ("pdf_escapes_octal", [("pdf", PDF_ESC, None)]),
        ("pdf_tj_array_form", [("pdf", PDF_TJ, None)]),
        ("pdf_multi_content_streams", [("pdf", PDF_MULTI_STREAM, None)]),
        ("pdf_pages_out_of_byte_order", [("pdf", PDF_PAGE_ORDER, None)]),
        ("pdf_unreferenced_stream_skipped", [("pdf", PDF_UNREFERENCED, None)]),
        ("pdf_no_xref_fallback_scans_all", [("pdf", PDF_NO_XREF, None)]),
        ("pdf_octal_escapes_in_stream", [("pdf", PDF_OCTAL, None)]),
        ("pdf_hex_string_form", [("pdf", PDF_HEX, None)]),
        ("pdf_quote_show_operators", [("pdf", PDF_QUOTE_OPS, None)]),
        ("pdf_asciihex_filter", [("pdf", PDF_ASCIIHEX, None)]),
        ("pdf_ascii85_filter", [("pdf", PDF_A85, None)]),
        ("pdf_ascii85_flate_chain", [("pdf", PDF_A85_FLATE, None)]),
        ("pdf_tounicode_bfchar", [("pdf", PDF_TOUNICODE_BFCHAR, None)]),
        ("pdf_tounicode_bfrange", [("pdf", PDF_TOUNICODE_BFRANGE, None)]),
        ("pdf_tounicode_chained_filters", [("pdf", PDF_TOUNICODE_CHAINED, None)]),
        ("pdf_tounicode_bfrange_array_dst", [("pdf", PDF_TOUNICODE_ARRAY, None)]),
        ("pdf_two_fonts_conflicting_codes", [("pdf", PDF_TWO_FONTS, None)]),
        ("pdf_two_fonts_pre_tf_union_default", [("pdf", PDF_TWO_FONTS_PRE_TF, None)]),
        ("pdf_two_fonts_unicode_texts", [("pdf", PDF_TWO_FONTS_UNICODE, None)]),
        ("pdf15_xrefstream_objstm_predictor", [("pdf", PDF15_OBJSTM, None)]),
        ("pdf15_xrefstream_plain_rows", [("pdf", PDF15_PLAIN, None)]),
        ("pdf15_xrefstream_multipage", [("pdf", PDF15_MULTIPAGE, None)]),
        ("pdf_rc4_r2_encrypted", [("pdf", PDF_ENC_R2, None)]),
        ("pdf_rc4_r3_encrypted", [("pdf", PDF_ENC_R3, None)]),
        ("pdf_rc4_flate_under_encryption", [("pdf", PDF_ENC_R3_FLATE, None)]),
        ("pdf_user_locked_degrades_empty", [("pdf", PDF_ENC_LOCKED, None)]),
        ("pdf_user_password_without_password_degrades", [("pdf", PDF_ENC_USER_PWD, None)]),
        ("pdf_aesv2_r4_encrypted", [("pdf", PDF_ENC_AESV2, None)]),
        ("pdf_aesv2_flate_under_encryption", [("pdf", PDF_ENC_AESV2_FLATE, None)]),
        ("pdf_aes256_r5_encrypted", [("pdf", PDF_ENC_AES256_R5, None)]),
        ("pdf_aes256_r6_encrypted", [("pdf", PDF_ENC_AES256_R6, None)]),
        ("pdf_aes_user_locked_degrades_empty", [("pdf", PDF_ENC_AES_LOCKED, None)]),
        ("pdf_cid_identity_h_tounicode", [("pdf", PDF_CID_TOUNICODE, None)]),
        ("pdf_cid_literal_string_codes", [("pdf", PDF_CID_LITERAL, None)]),
        ("pdf_cid_no_tounicode_degrades_empty", [("pdf", PDF_CID_NO_TOUNICODE, None)]),
        ("not_a_pdf_yields_nothing", [("pdf", "hello plain text", None)]),
    ],
    # A18/§3.3 fragment mode: snippets keep head/title content and the
    # head auto-close rule is off; boilerplate heuristics still apply
    "fragment_mode": [
        (
            "fragment_keeps_title_text",
            "<title>Snippet title words</title><p>fragment body paragraph text</p>",
            None,
            {"fragment": True},
        ),
        (
            "fragment_head_not_autoclosed",
            "<head><p>content inside literal head stays visible</p></head>",
            None,
            {"fragment": True},
        ),
        (
            "fragment_boilerplate_still_dropped",
            "<nav><a href=/x>nav link</a></nav><p>real fragment content here</p>"
            "<script>var x;</script>",
            None,
            {"fragment": True},
        ),
        (
            "full_page_same_input_drops_head",
            "<title>Snippet title words</title><p>fragment body paragraph text</p>",
            None,
        ),
    ],
}

ENCODING_CASES = [
    ("utf8_bom", "﻿".encode("utf-8")[0:3] + "<p>bom stripped body text</p>".encode("utf-8"), None),
    ("utf16le_bom", b"\xff\xfe" + "<p>utf sixteen le text</p>".encode("utf-16-le"), None),
    ("utf16be_bom", b"\xfe\xff" + "<p>utf sixteen be text</p>".encode("utf-16-be"), None),
    (
        "meta_charset_1252",
        "<meta charset=windows-1252><p>caf\xe9 cr\xe8me body</p>".encode("cp1252"),
        None,
    ),
    (
        "meta_content_type_latin1",
        '<meta http-equiv="Content-Type" content="text/html; charset=iso-8859-1">'
        "<p>d\xe9j\xe0 vu paragraph</p>".encode("latin-1"),
        None,
    ),
    ("no_meta_utf8_fallback", "<p>fallback caf\xe9 utf8</p>".encode("utf-8"), None),
    (
        "bom_beats_meta",
        b"\xef\xbb\xbf" + "<meta charset=windows-1252><p>bom wins caf\xe9</p>".encode("utf-8"),
        None,
    ),
]




# Markdown-projection goldens (tests/golden/markdown/markdown.json):
# freeze the HTML→markdown dialect documented in xkit/markdown.py.
# (name, html, base_url)
MARKDOWN_CASES = [
    ('heading_para_inline',
     '<h1>Title</h1><h3>Sub</h3><p>Hello <b>world</b> and <i>italics</i>.</p>',
     None),
    ('nested_lists_tag_soup',
     '<ul><li>a<li>b<ul><li>b1</ul><li>c</ul>',
     None),
    ('ordered_list',
     '<ol><li>one</li><li>two</li><li>three</li></ol>',
     None),
    ('blockquote_nested',
     '<blockquote><p>quoted</p><blockquote><p>deep</p></blockquote></blockquote>',
     None),
    ('pre_fence_preserves_ws',
     '<p>before</p><pre>  x = 1\n  y = 2</pre><p>after</p>',
     None),
    ('pre_inside_blockquote',
     '<blockquote><pre>code\nhere</pre></blockquote>',
     None),
    ('link_inline',
     "<p>see <a href='/doc'>the doc</a> now</p>",
     None),
    ('link_base_url_resolved',
     "<p><a href='p/q.html'>rel</a> and <img src='../i.png' alt='pic'></p>",
     'http://ex.com/a/b.html'),
    ('image_alt_collapsed',
     "<p><img src='a.png' alt='pic  here'> tail</p>",
     None),
    ('image_inside_link',
     "<p><a href='x.html'><img src='i.png' alt='a'></a></p>",
     None),
    ('table_with_header',
     '<table><tr><th>k</th><th>v</th></tr><tr><td>a|b</td><td>1</td></tr>'
     '<tr><td>c</td><td>2</td></tr></table>',
     None),
    ('table_headerless_ragged',
     '<table><tr><td>no header</td><td>row</td></tr><tr><td>short</td></tr></table>',
     None),
    ('table_nested_flattens',
     '<table><tr><td><b>bold</b> cell<br>two</td>'
     '<td><table><tr><td>inner</td></tr></table> outer</td></tr></table>',
     None),
    ('hard_break_backslash',
     '<p>line one<br>line two</p>',
     None),
    ('hr_rule',
     '<p>before</p><hr><p>after</p>',
     None),
    ('eof_recovery_unclosed_bold',
     '<div>unclosed <b>bold',
     None),
    ('head_title_dropped',
     '<head><title>T</title></head><body><p>body text</p></body>',
     None),
    ('script_style_dropped',
     '<div>keep <script>var x=1;</script><style>p{}</style>kept</div>',
     None),
    ('stray_li_outside_list',
     '<li>stray item',
     None),
    ('inline_code_entities',
     '<p>inline <code>x&lt;y</code> code</p>',
     None),
    ('li_multi_block_continuation',
     '<ul><li><p>para in li</p><p>second</p></li></ul>',
     None),
    ('empty_blocks_emit_nothing',
     '<p></p><p>  </p><table></table><p>end</p>',
     None),
    ('comments_doctype_dropped',
     '<!DOCTYPE html><!-- c --><p>text<!-- inner --> more</p>',
     None),
    ('transparent_inline_spans',
     '<p><span>span</span> <u>u</u> <small>small</small></p>',
     None),
    ('base_tag_composes_with_caller_base',
     "<head><base href='/sub/'></head><p><a href='p.html'>x</a> "
     "<img src='i.png' alt='a'></p>",
     'http://ex.com/a/b.html'),
    # round-4 additions (ADVICE): markup inside pre renders as text
    # only — <br> is a literal newline (never the \x00 sentinel),
    # <img> contributes nothing
    ('pre_with_br_and_img',
     "<pre>a<br>b<img src='i.png' alt='pic'>c</pre>",
     None),
    # pre/hr inside an open table cell flatten into the cell; no
    # fence or rule block may be emitted ahead of the table
    ('pre_and_hr_inside_table_cell',
     '<table><tr><td>a<pre>x  y</pre>b</td><td>c<hr>d</td></tr></table>',
     None),
]

# Selector-lite goldens (tests/golden/selector/selectors.json): every
# case lives HERE (round-2 lesson: the generator must enumerate every
# golden case or a regenerate silently drops the hand-added ones).
# (name, html, selector, base_url)
SELECTOR_CASES = [
    ('tag_simple',
     '<div><p>one</p><p>two <b>bold</b></p><span>not p</span></div>',
     'p',
     None),
    ('tag_class',
     '<p class="a">x</p><p class="a b">y</p><p class="ab">z</p>',
     'p.a',
     None),
    ('two_classes',
     '<div class="x y"><p>in</p></div><div class="x"><p>out</p></div>',
     'div.x.y p',
     None),
    ('id_select',
     '<p id="k">keep</p><p id="o">other</p>',
     'p#k',
     None),
    ('attr_presence',
     '<a href="/x">with</a><a name="n">without</a>',
     'a[href]',
     None),
    ('attr_equals',
     '<meta property="og:title" content="The Title"><meta property="og:type" content="site">',
     'meta[property=og:title] @content',
     None),
    ('attr_quoted',
     '<div data-x="a b">hit</div><div data-x="ab">miss</div>',
     'div[data-x="a b"]',
     None),
    ('descendant_deep',
     '<article><div><section><p>deep</p></section></div></article><p>shallow</p>',
     'article p',
     None),
    ('group_comma',
     '<h1>title</h1><h2>sub</h2><p>para</p>',
     'h1, h2',
     None),
    ('star_any',
     '<div class="m"><p>a</p><span>b</span></div>',
     '.m *',
     None),
    ('media_src',
     '<figure><img src="pic.png"><img data-src="lazy.png"></figure>',
     'img',
     'https://ex.com/base/'),
    ('media_ref_projection',
     '<img src="pic.png" alt="A pic">',
     'img @alt',
     None),
    ('nested_matches_overlap',
     '<div><div><p>inner</p></div></div>',
     'div',
     None),
    ('tag_soup_implicit_close',
     '<table><tr><td>c1<td>c2<tr><td>c3</table>',
     'td',
     None),
    ('rawtext_selectable',
     '<script>if (a<b) x();</script><style>p{}</style>',
     'script, style',
     None),
    ('empty_element_match',
     '<p class="m"></p><p class="m">text</p>',
     'p.m',
     None),
    ('entity_decode',
     '<p>fish &amp; chips &#x41;</p>',
     'p',
     None),
    ('stray_close_repair',
     '</p><p>after stray</p></div>',
     'p',
     None),
    ('case_insensitive_tag',
     '<P>upper</P>',
     'P',
     None),
    ('attr_value_with_at',
     '<a href="mailto:x@y.z">m</a>',
     'a[href=mailto:x@y.z] @href',
     None),
    ('no_match',
     '<div><span>s</span></div>',
     'p.missing',
     None),
    ('head_auto_close',
     '<head><title>T</title><p>body text</p>',
     'title',
     None),
    ('child_direct_only',
     '<div class=w><p>direct</p><span><p>nested</p></span></div>',
     'div.w > p',
     None),
    ('child_no_space_form',
     '<ul><li>one</li></ul><ol><li>two</li></ol>',
     'ul>li',
     None),
    ('child_backtracking',
     '<x><b><c>kept</c></b></x><y><b><d><c>dropped rel</c></d></b></y>',
     'x > b c',
     None),
    ('child_then_descendant',
     '<main><section><div><em>deep</em></div></section></main>',
     'main > section em',
     None),
    ('attr_prefix_op',
     '<a href="https://x.y/p">abs</a><a href="/p">rel</a>',
     'a[href^=https://]',
     None),
    ('attr_suffix_op',
     '<a href="/a.pdf">doc</a><a href="/a.html">page</a>',
     'a[href$=.pdf]',
     None),
    ('attr_substring_op',
     '<div data-k="alpha-beta">hit</div><div data-k="gamma">miss</div>',
     'div[data-k*=a-b]',
     None),
    ('attr_word_op',
     '<div class="hero main dark">hit</div><div class="mainline">miss</div>',
     'div[class~=main]',
     None),
    ('attr_op_empty_needle_never_matches',
     '<a href="">e</a><a href="/x">f</a>',
     'a[href^=""]',
     None),
    # --- round-3 grammar additions: sibling combinators + structural pseudos ---
    ('adjacent_sibling',
     '<div><h2>head</h2><p>lead para</p><p>second para</p></div><p>outside</p>',
     'h2 + p',
     None),
    ('general_sibling',
     '<div><h2>head</h2><p>a</p><span>x</span><p>b</p></div><p>outside</p>',
     'h2 ~ p',
     None),
    ('adjacent_chain',
     '<div><i>one</i><b>two</b><u>three</u><b>late</b></div>',
     'i + b + u',
     None),
    ('child_then_adjacent',
     '<div><h2>in div</h2><p>yes</p></div><section><h2>in section</h2><p>no</p></section>',
     'div > h2 + p',
     None),
    ('first_child',
     '<div><p>first</p><p>second</p></div><ul><li>also first<li>not</ul>',
     'p:first-child, li:first-child',
     None),
    ('nth_child_index',
     '<ul><li>a<li>b<li>c<li>d</ul>',
     'li:nth-child(2)',
     None),
    ('nth_child_odd_even',
     '<ul><li>a<li>b<li>c<li>d</ul>',
     'li:nth-child(odd) @x, li:nth-child(even)',
     None),
    ('nth_child_anb',
     '<ul><li>a<li>b<li>c<li>d<li>e</ul>',
     'li:nth-child(2n+1)',
     None),
    ('nth_child_neg_anb',
     '<ul><li>a<li>b<li>c<li>d</ul>',
     'li:nth-child(-n+2)',
     None),
    ('sibling_position_ignores_text',
     '<div>text<h2>h</h2>more text<p>adjacent despite text between</p></div>',
     'h2 + p',
     None),
    ('pseudo_with_class',
     '<div><p class=k>keep</p><p class=k>drop</p></div>',
     'p.k:first-child',
     None),
    ('multi_alternative_same_element_order',
     '<img src="a.png" alt="hello alt">',
     'img, img @alt, img @src',
     None),
    ('last_child',
     '<ul><li>a<li>b<li>last one</ul><div><p>x<p>tail</div>',
     'li:last-child, p:last-child',
     None),
    ('last_child_tag_mismatch',
     '<div><p>para</p><span>actual last</span></div>',
     'p:last-child',
     None),
    ('nth_last_child_index',
     '<ul><li>a<li>b<li>c<li>d</ul>',
     'li:nth-last-child(2)',
     None),
    ('nth_last_child_anb',
     '<ul><li>a<li>b<li>c<li>d<li>e</ul>',
     'li:nth-last-child(2n+1)',
     None),
    ('last_child_with_combinator',
     '<div><h2>head</h2><p>mid</p><p>final</p></div>',
     'h2 ~ p:last-child',
     None),
    ('first_and_last_same_element',
     '<div><p>solo</p></div><div><p>a</p><p>b</p></div>',
     'p:first-child:last-child',
     None),
    ('only_child',
     '<div><p>solo</p></div><div><p>a</p><p>b</p></div><ul><li>single<li>x</ul>',
     'p:only-child, li:only-child',
     None),
    ('first_and_last_of_type',
     '<div><h2>head</h2><p>p1</p><span>s1</span><p>p2</p><p>p3</p></div>',
     'p:first-of-type, p:last-of-type',
     None),
    ('nth_of_type_and_from_end',
     '<div><h2>x</h2><p>p1</p><em>e</em><p>p2</p><p>p3</p><p>p4</p></div>',
     'p:nth-of-type(2), p:nth-last-of-type(2)',
     None),
    ('only_of_type',
     '<div><h2>lone heading</h2><p>a</p><p>b</p></div>',
     'h2:only-of-type, p:only-of-type',
     None),
    ('of_type_vs_child_position',
     '<div><span>s</span><p>first p but second child</p></div>',
     'p:first-of-type, p:first-child',
     None),
    ('not_class_filter',
     '<div><p class=ad>buy now</p><p>real content</p><p class="ad x">promo</p></div>',
     'p:not(.ad)',
     None),
    ('not_chained_and_tag',
     '<div><p id=keep>kept</p><p id=drop>dropped</p><span>other</span></div>',
     '*:not(span):not([id=drop]):not(div)',
     None),
    ('not_structural_inner',
     '<ul><li>a<li>b<li>c</ul>',
     'li:not(:last-child)',
     None),
    # the two XPath-lite predicate translations: [@a and @b] → attr
    # conjunction on one compound, [not(@attr)] → :not([attr])
    # text predicates (:contains / :text-is, the XPath text()-idiom map)
    ('contains_subtree_text',
     '<ul><li>alpha</li><li>beta <b>bold</b></li><li>gamma</li></ul>',
     "li:contains('beta')",
     None),
    ('text_is_collapsed',
     '<td>  spaced   value </td><td>spaced value extra</td>',
     "td:text-is('spaced value')",
     None),
    ('contains_attr_projection',
     '<a href="/n">Next page</a><a href="/p">Prev</a>',
     "a:contains('Next') @href",
     None),
    ('contains_failed_alt_no_shadow',
     '<p>one</p><p>two zzz</p>',
     "p:contains('zzz'), p",
     None),
    # emit="html": outer-XHTML projection (the reference's OuterXml)
    ('emit_html_table_markup',
     '<div><h2>T &amp; U</h2><table id=t1><tr><td>a<td>b</table></div>',
     'table',
     None,
     'html'),
    ('emit_html_nested_overlap',
     '<div class=outer><div class=inner><p>x</p></div></div>',
     'div',
     None,
     'html'),
    ('emit_html_soup_repaired',
     '<table><tr><td>open cell',
     'table',
     None,
     'html'),
    ('emit_inner_html_children_only',
     '<div class=o><p>x</p><img src=i.png></div><span>empty</span><b></b>',
     'div, b',
     None,
     'inner_html'),
    ('emit_html_attr_projection_unchanged',
     '<img src=pic.png alt="A pic"><img src=q.png>',
     'img @alt',
     None,
     'html'),
    ('attr_conjunction',
     '<a rel=next href=/page2>fwd</a><a rel=next href=/top>up</a>'
     '<a rel=prev href=/page1>back</a>',
     "a[rel='next'][href*='page']",
     None),
    ('not_attr_absence',
     '<img src=a.png alt=described><img src=b.png><img alt=orphan>',
     'img[src]:not([alt]) @src',
     None),
    ('root_document_element',
     '<html><body><div><p>deep</p></div><p>shallow</p></body></html>',
     'html:root p',
     None),
    ('root_rejects_nested',
     '<html><body><div><p>deep</p></div></body></html>',
     'div:root, p:root',
     None),
    ('root_not_negation',
     '<html><head><title>t</title></head><body><p>b</p></body></html>',
     '*:not(:root):not(head):not(title):not(body)',
     None),
    ('root_anchored_child_chain',
     '<html><body><p>direct</p><div><p>nested</p></div></body></html>',
     'html:root > body > p',
     None),
    ('has_container_filter',
     '<div class=card><h2>A</h2><img src=/a.png></div>'
     '<div class=card><h2>B</h2><p>text only</p></div>',
     'div.card:has(img)',
     None),
    ('has_deep_satisfier_and_attrs',
     '<article><section><video src=/v></video></section><p>cap</p></article>'
     '<article><p>plain</p></article>',
     'article:has(video[src])',
     None),
    ('has_unsatisfied_and_alternative_dedupe',
     '<div><img src=/x></div><div><p>no img</p></div>',
     'div:has(table), div:has(img), div',
     None),
    ('has_projection',
     '<div data-kind=rich><img src=/i></div><div data-kind=poor>t</div>',
     'div:has(img) @data-kind',
     None),
    # --- round-5 grammar additions: :has witness modes (XPath axes
    # parent:: / preceding-sibling:: compile onto these) ---
    ('has_child_mode_direct_only',
     '<article><p>direct</p></article>'
     '<article><div><p>nested</p></div></article>',
     'article:has(> p)',
     None),
    ('has_child_mode_projection',
     '<div id=par><p>a</p></div><div id=grand><section><p>b</p></section></div>',
     'div:has(> p) @id',
     None),
    ('has_sibling_mode',
     '<div><span>A</span><p>x</p><span>B</span><p>y</p><span>C</span></div>'
     '<div><span>no p after</span></div>',
     'span:has(~ p)',
     None),
    ('has_sibling_parent_scope',
     '<div><span>sib in other parent</span></div><div><p>p</p></div>',
     'span:has(~ p)',
     None),
    ('has_sibling_and_plain_alternative_dedupe',
     '<ul><li class=k>one</li><li>two</li><li class=k>three</li></ul>',
     'li, li:has(~ li.k)',
     None),
    ('has_sibling_media_projection',
     '<figure><img src=/a.png><figcaption>cap</figcaption></figure>'
     '<figure><img src=/b.png></figure>',
     'img:has(~ figcaption)',
     'https://ex.com/'),
    # --- round-5 batch 2: the an+b forms XPath position() arithmetic
    # compiles onto (n+N tail slice, 2n+0 even-by-type, :not(:nth) and
    # the union-arm overlap dedupe of the -or-self axes) ---
    ('nth_of_type_tail_slice',
     '<ul><li>1</li><li>2</li><li>3</li><li>4</li></ul>'
     '<ul><li>only</li></ul>',
     'li:nth-of-type(n+2)',
     None),
    ('nth_of_type_even_coefficient',
     '<div><p>1</p><em>x</em><p>2</p><p>3</p><p>4</p></div>',
     'p:nth-of-type(2n+0)',
     None),
    ('not_nth_of_type',
     '<ol><li>1</li><li>2</li><li>3</li></ol>',
     'li:not(:nth-of-type(2))',
     None),
    ('nth_last_of_type_tail',
     '<div><span>a</span><span>b</span><span>c</span><span>d</span></div>',
     'span:nth-last-of-type(-n+2)',
     None),
    ('or_self_union_overlap_dedupe',
     '<span id=o><span id=i>t</span></span>',
     'span:has(span), span @id',
     None),
    # --- round-5 batch 2: document-order witness pseudos (XPath
    # following:: / preceding:: compile onto :after/:before) ---
    ('after_pseudo_document_order',
     '<p>before</p><div><p>inside-before</p><a>ctx</a><p>inside-after</p>'
     '</div><p>tail</p>',
     'p:after(a)',
     None),
    ('before_pseudo_document_order',
     '<p>before</p><div><p>inside-before</p><a>ctx</a><p>inside-after</p>'
     '</div><p>tail</p>',
     'p:before(a)',
     None),
    ('after_excludes_ctx_ancestors_descendants',
     '<div id=anc><a>x<span>desc</span></a><span>sib-after</span></div>',
     'span:after(a), div:after(a)',
     None),
    ('before_media_projection',
     '<img src=/early.png><a>ctx</a><img src=/late.png>',
     'img:before(a)',
     'https://ex.com/'),
    ('after_before_between_markers',
     '<h1>start</h1><p>one</p><div><p>two</p></div><h2>stop</h2><p>outside</p>',
     'p:after(h1):before(h2)',
     None),
]


def _spans_to_lists(spans):
    kinds, texts, refs, offs = [], [], [], []
    for i, s in enumerate(spans):
        kinds.append(s[0])
        texts.append(s[1])
        refs.append(s[2])
        offs.append(s[3] if len(s) > 3 else i)
    return kinds, texts, refs, offs


def main() -> None:
    os.makedirs(GOLDEN_DIR, exist_ok=True)
    for fname, cases in CASES.items():
        out_cases = []
        for case in cases:
            name, payload = case[0], case[1]
            base_url = case[2] if len(case) > 2 and isinstance(payload, str) else None
            # optional 4th element: extra ExtractOptions kwargs
            opt_kwargs = dict(case[3]) if len(case) > 3 else {}
            if isinstance(payload, str):
                spans = [("html", payload, None)]
                rec: dict = {"name": name, "html": payload, "base_url": base_url}
            else:
                spans = payload
                rec = {
                    "name": name,
                    "spans": [
                        {
                            "kind": s[0],
                            "text": s[1],
                            "media_ref": s[2],
                            "offset": s[3] if len(s) > 3 else i,
                        }
                        for i, s in enumerate(payload)
                    ],
                    "base_url": None,
                }
            if opt_kwargs:
                # copy: base_url is added to the ExtractOptions kwargs
                # below and must not leak into the frozen golden's
                # "options" object (it has its own top-level key)
                rec["options"] = dict(opt_kwargs)
            if base_url:
                opt_kwargs["base_url"] = base_url
            opt = ExtractOptions(**opt_kwargs)
            k, t, m, o = extract_doc(*_spans_to_lists(spans), options=opt)
            rec["expected_spans"] = [
                {"kind": k[i], "text": t[i], "media_ref": m[i], "offset": o[i]}
                for i in range(len(k))
            ]
            out_cases.append(rec)
            print(f"[{fname}/{name}]")
            for s in rec["expected_spans"]:
                print("   ", s)
        path = os.path.join(GOLDEN_DIR, fname + ".json")
        with open(path, "w") as f:
            json.dump({"cases": out_cases}, f, indent=1, ensure_ascii=False)
        print("wrote", path)

    out_cases = []
    for name, raw, http_charset in ENCODING_CASES:
        k, t, m, o = extract_doc(["html"], [raw], [None], [0])
        rec = {
            "name": name,
            "raw_b64": base64.b64encode(raw).decode("ascii"),
            "base_url": None,
            "expected_spans": [
                {"kind": k[i], "text": t[i], "media_ref": m[i], "offset": o[i]}
                for i in range(len(k))
            ],
        }
        out_cases.append(rec)
        print(f"[encoding/{name}]")
        for s in rec["expected_spans"]:
            print("   ", s)
    path = os.path.join(GOLDEN_DIR, "encoding.json")
    with open(path, "w") as f:
        json.dump({"cases": out_cases}, f, indent=1, ensure_ascii=False)
    print("wrote", path)

    from xkit.selector import select_html

    out_cases = []
    for case in SELECTOR_CASES:
        name, html, sel, base_url = case[:4]
        emit = case[4] if len(case) > 4 else "text"
        opts = ExtractOptions(base_url=base_url) if base_url else ExtractOptions()
        rec = {
            "name": name,
            "html": html,
            "selector": sel,
            "base_url": base_url,
            "expected_spans": [
                {"kind": k, "text": t, "media_ref": m, "offset": i}
                for i, (k, t, m) in enumerate(
                    select_html(html, sel, opts, emit=emit)
                )
            ],
        }
        if emit != "text":
            rec["emit"] = emit
        out_cases.append(rec)
        print(f"[selector/{name}]")
        for s in rec["expected_spans"]:
            print("   ", s)
    os.makedirs(os.path.join(GOLDEN_DIR, "selector"), exist_ok=True)
    path = os.path.join(GOLDEN_DIR, "selector", "selectors.json")
    with open(path, "w") as f:
        json.dump({"cases": out_cases}, f, indent=1, ensure_ascii=False)
    print("wrote", path)

    from xkit.markdown import html_to_markdown

    out_cases = []
    for name, html, base_url in MARKDOWN_CASES:
        opts = ExtractOptions(base_url=base_url) if base_url else ExtractOptions()
        rec = {
            "name": name,
            "html": html,
            "base_url": base_url,
            "expected_markdown": html_to_markdown(html, opts),
        }
        out_cases.append(rec)
        print(f"[markdown/{name}]")
        print(rec["expected_markdown"])
    os.makedirs(os.path.join(GOLDEN_DIR, "markdown"), exist_ok=True)
    path = os.path.join(GOLDEN_DIR, "markdown", "markdown.json")
    with open(path, "w") as f:
        json.dump({"cases": out_cases}, f, indent=1, ensure_ascii=False)
    print("wrote", path)



if __name__ == "__main__":
    main()
