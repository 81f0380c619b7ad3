"""Minimal PDF text extraction: writer/parser roundtrip plus operator and
escape edge cases."""

import zlib

import pytest

from crrf_det_spark.pdfmini import (
    _lzw_decode,
    looks_like_pdf,
    make_pdf,
    pdf_text_lines_geometry,
)


def pdf_text_lines(payload: bytes) -> list[str]:
    """A payload's text lines, without their geometry."""
    return pdf_text_lines_geometry(payload)[0]


def test_roundtrip_compressed_and_raw():
    lines = ["Quarterly report", "Revenue  1,234  up", "Cost  567  down"]
    for compress in (True, False):
        payload = make_pdf(lines, compress=compress)
        assert looks_like_pdf(payload)
        assert pdf_text_lines(payload) == lines


def test_escapes_and_parens():
    lines = [r"paren (pair) kept", "back\\slash", "tab\tchar"]
    assert pdf_text_lines(make_pdf(lines)) == lines


def test_tj_array_and_prime_operator():
    content = (
        b"BT /F1 11 Tf 72 760 Td [(Hel) -20 (lo)] TJ 0 -14 Td (world) Tj "
        b"(next line) ' ET"
    )
    payload = (
        b"%%PDF-1.4\n4 0 obj << /Length %d >> stream\n%s\nendstream endobj\n"
        % (len(content), content)
    )
    # TJ array concatenates (kerning numbers ignored); the 0 -14 Td is a
    # vertical move, so "world" starts a new line; ' shows on a fresh line
    assert pdf_text_lines(payload) == ["Hello", "world", "next line"]


def test_hex_strings_and_octal():
    content = b"BT 72 760 Td <48 6921> Tj 0 -14 Td (\\110\\151) Tj ET"
    payload = (
        b"%%PDF-1.4\n4 0 obj << /Length %d >> stream\n%s\nendstream endobj\n"
        % (len(content), content)
    )
    assert pdf_text_lines(payload) == ["Hi!", "Hi"]


@pytest.mark.parametrize("literal, text", [
    (rb"(ab\8c)", "ab8c"),              # not octal: backslash dropped
    (rb"(ab\9)", "ab9"),
    (rb"(a\qb)", "aqb"),                # unknown escape keeps its byte
    (b"(ab\\\ncd)", "abcd"),            # backslash + LF: continuation
    (b"(ab\\\r\ncd)", "abcd"),          # backslash + CRLF drops both
    (b"(a (b) c)", "a (b) c"),          # balanced parentheses nest
    (b"(x (y (z) y) x)", "x (y (z) y) x"),
])
def test_literal_strings_per_spec(literal, text):
    """PDF 32000-1 section 7.3.4.2 literal strings through the content
    stream interpreter."""
    content = b"BT 72 760 Td " + literal + b" Tj ET"
    payload = (
        b"%%PDF-1.4\n4 0 obj << /Length %d >> stream\n%s\nendstream endobj\n"
        % (len(content), content)
    )
    assert pdf_text_lines(payload) == [text]


def test_horizontal_td_keeps_line():
    content = b"BT 72 760 Td (left) Tj 200 0 Td (right) Tj ET"
    payload = (
        b"%%PDF-1.4\n4 0 obj << /Length %d >> stream\n%s\nendstream endobj\n"
        % (len(content), content)
    )
    assert pdf_text_lines(payload) == ["left right"]


def test_not_pdf_and_garbage():
    assert pdf_text_lines_geometry(b"") == ([], None)
    assert pdf_text_lines_geometry(b"plain text") == ([], None)
    assert not looks_like_pdf(b"nope")
    # corrupt flate stream is skipped, not raised
    bad = (
        b"%%PDF-1.4\n4 0 obj << /Length 5 /Filter /FlateDecode >> stream\n"
        b"xxxxx\nendstream endobj\n"
    )
    assert pdf_text_lines_geometry(bad) == ([], None)
    # unsupported filter is skipped
    other = (
        b"%%PDF-1.4\n4 0 obj << /Length 5 /Filter /DCTDecode >> stream\n"
        b"\xff\xd8\xff\xe0x\nendstream endobj\n"
    )
    assert pdf_text_lines_geometry(other) == ([], None)


def _flate_eol_stream(eol: bytes) -> tuple[list[str], bytes]:
    """Two text lines and a zlib content stream of them whose last byte
    is ``eol`` (~1 in 256 zlib streams ends in a given byte)."""
    for i in range(5000):
        lines = ["Revenue " + "q" * (i % 40), "Cost " + "z" * (i // 40)]
        content = b"BT /F1 11 Tf 72 760 Td (%s) Tj 0 -14 Td (%s) Tj ET" % (
            lines[0].encode(), lines[1].encode())
        data = zlib.compress(content)
        if data.endswith(eol):
            return lines, data
    raise AssertionError(f"no zlib stream ends in {eol!r}")


def _lzw_eol_stream(eol: bytes) -> tuple[list[str], bytes]:
    """Two text lines and an LZW content stream of them whose last byte
    is ``eol`` and holds data bits: 9-bit codes with no clear and no EOD
    marker (readers accept both omissions), literal codes except the
    last, table code 0x100 | eol, which repeats the stream's first "Tj".
    Appended spaces make the code count a multiple of 8, so that last
    code's low byte is the stream's last byte."""
    # table code 258 + i is content[i:i + 2]: "Tj" at i = 8 or 11
    word = {b"\n": "Hi", b"\r": "Hello"}[eol]
    content = b"BT (%s) Tj 0 -14 Td (Yo) Tj" % word.encode()
    content = content[:-2] + b" " * (-(len(content) - 1) % 8) + b"Tj"
    codes = list(content[:-2]) + [0x100 | eol[0]]
    bits = "".join(f"{c:09b}" for c in codes)
    data = int(bits, 2).to_bytes(len(bits) // 8, "big")
    assert len(bits) % 8 == 0 and data.endswith(eol)
    assert _lzw_decode(data) == content
    return [word, "Yo"], data


@pytest.mark.parametrize("eol", [b"\n", b"\r"])
@pytest.mark.parametrize("codec", ["FlateDecode", "LZWDecode"])
def test_stream_data_ending_in_eol_byte(codec, eol):
    # stripping CR/LF before `endstream` cut a last data byte that is
    # itself CR or LF: the stream no longer decoded and the page came out
    # empty.  The direct /Length keeps it, on both stream paths.
    make = _flate_eol_stream if codec == "FlateDecode" else _lzw_eol_stream
    lines, data = make(eol)
    stream = b"4 0 obj << /Length %d /Filter /%s >> stream\n%s\nendstream" \
        b" endobj\n" % (len(data), codec.encode(), data)
    page = make_pdf(["x"], compress=False)
    document = (page[:page.index(b"4 0 obj")] + stream
                + page[page.index(b"5 0 obj"):])
    assert pdf_text_lines(document) == lines
    raw = b"%PDF-1.4\n" + stream  # no catalog: raw-scan fallback
    assert pdf_text_lines_geometry(raw) == (lines, None)


def test_grid_kernel_over_pdf_table():
    """PDF payload -> lines -> the SAME grid kernel detects the table."""
    from crrf_det_spark.extract import extract_turn

    lines = [
        "Account      Q1      Q2",
        "Revenue      100     200",
        "Cost         40      90",
        "",
        "Totals are preliminary and unaudited, pending review.",
    ]
    text = "\n".join(pdf_text_lines(make_pdf(lines)))
    segs = extract_turn(text)
    assert any(s["type"] == "table" for s in segs)
    tbl = next(s for s in segs if s["type"] == "table")
    assert tbl["rows"][0] == ["Account", "Q1", "Q2"]


def test_compressed_stream_is_actually_flate():
    payload = make_pdf(["x"], compress=True)
    assert b"/FlateDecode" in payload
    start = payload.find(b"stream\n") + len(b"stream\n")
    end = payload.find(b"\nendstream")
    zlib.decompress(payload[start:end])  # raises if not real zlib data


def test_pages_separated_by_blank_line():
    c1 = b"BT 72 760 Td (page one line) Tj ET"
    c2 = b"BT 72 760 Td (page two line) Tj ET"
    payload = (
        b"%%PDF-1.4\n"
        b"4 0 obj << /Length %d >> stream\n%s\nendstream endobj\n"
        b"6 0 obj << /Length %d >> stream\n%s\nendstream endobj\n"
        % (len(c1), c1, len(c2), c2)
    )
    assert pdf_text_lines(payload) == ["page one line", "", "page two line"]


def test_cid_cmap_objstm_xref_stream_roundtrip():
    """PDF 1.5 document: Type0 font with /ToUnicode CMap, catalog/page/
    font dicts packed in an object stream, xref stream with PNG Up
    predictor.  Only the document path (CMap decode) recovers the text —
    the raw-scan fallback sees 2-byte codes as latin-1 soup."""
    from crrf_det_spark.pdfmini import (
        _content_streams,
        _stream_lines_meta,
        _xref_stream_entries,
        make_pdf_cid,
    )

    lines = ["Quarterly report", "Revenue  1,234  up", "Cost  567  down"]
    payload = make_pdf_cid(lines)
    assert looks_like_pdf(payload)
    assert pdf_text_lines(payload) == lines

    # the xref stream resolved: type-2 entries point into object stream 7
    entries = _xref_stream_entries(payload)
    assert any(t == 2 and f2 == 7 for (t, f2, _f3) in entries.values())

    # the raw fallback on the same payload garbles (codes are offset from
    # their characters by construction), proving the CMap did the work
    raw = []
    for ls in _stream_lines_meta([(d, None) for d in _content_streams(payload)])[0]:
        raw.extend(ls)
    assert raw != lines


def test_bfrange_both_forms():
    from crrf_det_spark.pdfmini import _parse_cmap

    cmap_src = (
        b"begincodespacerange <0000> <FFFF> endcodespacerange\n"
        b"2 beginbfrange\n"
        b"<0041> <0043> <0061>\n"
        b"<0050> <0051> [<0058> <0059>]\n"
        b"endbfrange\n"
        b"1 beginbfchar <00FF> <20AC> endbfchar\n"
    )
    cmap, width = _parse_cmap(cmap_src)
    assert width == 2
    # incrementing form: 0x41..0x43 -> a, b, c
    assert [cmap[0x41], cmap[0x42], cmap[0x43]] == ["a", "b", "c"]
    # array form: explicit targets
    assert [cmap[0x50], cmap[0x51]] == ["X", "Y"]
    # bfchar with UTF-16 target
    assert cmap[0xFF] == "€"


def test_document_path_page_order_beats_file_order():
    """Pages are emitted in Catalog->Kids order even when the content
    stream objects appear in the opposite order in the file."""
    import zlib

    c_p1 = b"BT 72 760 Td (first page) Tj ET"
    c_p2 = b"BT 72 760 Td (second page) Tj ET"
    objs = [
        # content for page TWO first in the file
        b"40 0 obj << /Length %d >> stream\n%s\nendstream endobj"
        % (len(c_p2), c_p2),
        b"41 0 obj << /Length %d >> stream\n%s\nendstream endobj"
        % (len(c_p1), c_p1),
        b"1 0 obj << /Type /Catalog /Pages 2 0 R >> endobj",
        b"2 0 obj << /Type /Pages /Kids [3 0 R 4 0 R] /Count 2 >> endobj",
        b"3 0 obj << /Type /Page /Parent 2 0 R /Contents 41 0 R >> endobj",
        b"4 0 obj << /Type /Page /Parent 2 0 R /Contents 40 0 R >> endobj",
    ]
    payload = b"%PDF-1.4\n" + b"\n".join(objs) + b"\n%%EOF\n"
    assert pdf_text_lines(payload) == ["first page", "", "second page"]
    assert zlib  # silence unused-import lint in minimal environments


def test_tf_switches_decoding_per_font():
    """One content stream, two fonts: /F1 carries a ToUnicode CMap (codes
    offset by 0x0100), /F2 has none (latin-1).  Tf must scope the CMap to
    the font that owns it."""
    import zlib

    cmap_src = (
        b"begincodespacerange <0000> <FFFF> endcodespacerange\n"
        b"3 beginbfchar\n"
        b"<0141> <0041>\n<0142> <0042>\n<0143> <0043>\n"
        b"endbfchar\n"
    )
    cmap_z = zlib.compress(cmap_src)
    content = (
        b"BT /F1 11 Tf 72 760 Td <014101420143> Tj "
        b"0 -14 Td /F2 11 Tf (plain latin) Tj ET"
    )
    objs = [
        b"1 0 obj << /Type /Catalog /Pages 2 0 R >> endobj",
        b"2 0 obj << /Type /Pages /Kids [3 0 R] /Count 1 >> endobj",
        b"3 0 obj << /Type /Page /Parent 2 0 R /Contents 4 0 R "
        b"/Resources << /Font << /F1 5 0 R /F2 7 0 R >> >> >> endobj",
        b"4 0 obj << /Length %d >> stream\n%s\nendstream endobj"
        % (len(content), content),
        b"5 0 obj << /Type /Font /Subtype /Type0 /ToUnicode 6 0 R >> endobj",
        b"6 0 obj << /Length %d /Filter /FlateDecode >> stream\n%s\nendstream"
        b" endobj" % (len(cmap_z), cmap_z),
        b"7 0 obj << /Type /Font /Subtype /Type1 /BaseFont /Helvetica >> "
        b"endobj",
    ]
    payload = b"%PDF-1.4\n" + b"\n".join(objs) + b"\n%%EOF\n"
    assert pdf_text_lines(payload) == ["ABC", "plain latin"]


def test_blank_line_slots_roundtrip():
    # tool writers emit blank source lines as empty show slots; the
    # reference SEES the resulting gap in its rasterized pixels, so the
    # text path must preserve it as a blank line
    from crrf_det_spark.pdfmini import make_pdf_cid

    lines = ["para one a", "para one b", "", "para two after gap"]
    assert pdf_text_lines(make_pdf(lines)) == lines
    assert pdf_text_lines(make_pdf_cid(lines)) == lines


def test_skipped_slot_big_leading_inserts_blank():
    # writers that SKIP blank slots move 2x the leading instead — the
    # gap heuristic restores one blank line per extra leading multiple
    payload = make_pdf(["a", "b", "c"], leadings={2: 28})
    assert pdf_text_lines(payload) == ["a", "b", "", "c"]


def test_paragraph_gaps_do_not_outvote_leading():
    # one-line paragraphs separated by 2x moves outnumber the single
    # leadings; a step that emitted blank lines must not vote, or the 2x
    # step becomes the leading and later gaps lose their blank lines
    lines = ["title line a", "title line b", "p one", "p two", "p three",
             "p four"]
    payload = make_pdf(lines, leadings={i: 28 for i in range(2, 6)})
    assert pdf_text_lines(payload) == [
        "title line a", "title line b", "", "p one", "", "p two", "",
        "p three", "", "p four",
    ]


def test_larger_body_leading_takes_over_from_small_header():
    # an 8pt header at 9.6pt leading, then 11pt body at 16pt: 16/9.6 is
    # no whole multiple, so the body steps vote and become the leading
    # after a few lines instead of a blank line after every body line
    body = [f"body {i}" for i in range(8)]
    content = b"BT /F1 8 Tf 72 760 Td (head a) Tj 0 -9.6 Td (head b) Tj " \
        b"0 -9.6 Td (head c) Tj /F1 11 Tf " + b" ".join(
            b"0 -16 Td (%s) Tj" % ln.encode() for ln in body
        ) + b" ET"
    payload = (
        b"%%PDF-1.4\n4 0 obj << /Length %d >> stream\n%s\nendstream endobj\n"
        % (len(content), content)
    )
    assert pdf_text_lines(payload) == [
        "head a", "head b", "head c",
        "", "body 0", "", "body 1", "", "body 2", *body[3:],
    ]


def test_geometry_bands():
    from crrf_det_spark.pdfmini import pdf_text_lines_geometry

    lines, geom = pdf_text_lines_geometry(
        make_pdf(["top line", "second", "", "after gap"])
    )
    assert lines == ["top line", "second", "", "after gap"]
    # blank line has no band; content lines do
    assert set(geom) == {0, 1, 3}
    scale = 400.0 / 612.0
    # consecutive 14pt baselines -> band gap (14-11)pt at raster scale
    gap = geom[1][0] - geom[0][1]
    assert abs(gap - 3 * scale) < 1e-6
    # band height = font size at raster scale
    assert abs((geom[0][1] - geom[0][0]) - 11 * scale) < 1e-6
    # bands are monotonically increasing down the page
    assert geom[0][1] <= geom[1][0] <= geom[3][0]


def test_true_leading_decides_grouping():
    """End-to-end value of the geometry side-channel: a 26pt paragraph
    lead quantizes to a blank text line (block split) but its TRUE gap is
    (26-11)pt*400/612 = 9.8px — under the reference's 10px soft-split
    threshold, so the reference's rasterized pipeline would KEEP the
    lines together.  The hinted kernel matches the reference; the
    unhinted text path shows the quantized split."""
    from crrf_det_spark.extract import extract_turn
    from crrf_det_spark.pdfmini import pdf_text_lines_geometry

    payload = make_pdf(
        ["alpha beta gamma", "delta epsilon", "zeta eta theta"],
        leadings={2: 26},
    )
    lines, geom = pdf_text_lines_geometry(payload)
    text = "\n".join(lines)
    assert lines[2] == ""  # quantized view: a blank line
    quantized = extract_turn(text)
    hinted = extract_turn(text, line_px=geom)
    assert len(quantized) == 2  # blank line always splits in text space
    assert len(hinted) == 1     # true 9.8px gap: same group, like the ref
    assert hinted[0]["content"].count("zeta") == 1


# ---------------------------------------------------------------------------
# LZWDecode + /Differences (round-5 VERDICT #4)
# ---------------------------------------------------------------------------

def test_lzw_spec_example_vector():
    # ISO 32000-1 §7.4.4.3 worked example: the published byte stream for
    # input 45*5 65 45*3 66 — an external ground-truth vector, not a
    # roundtrip of our own encoder
    from crrf_det_spark.pdfmini import _lzw_decode

    data = bytes.fromhex("800B6050220C0C8501")
    assert _lzw_decode(data) == b"-----A---B"


def test_lzw_roundtrip_across_width_boundaries():
    import random

    from crrf_det_spark.pdfmini import _lzw_decode, _lzw_encode

    rng = random.Random(17)
    cases = [
        b"", b"A", b"aaaa",
        bytes(rng.randrange(256) for _ in range(20000)),  # 9->10->11->12 bits
        b"the quick brown fox " * 3000,                   # deep phrase table
        bytes(rng.randrange(4) for _ in range(30000)),    # small alphabet
    ]
    for early in (0, 1):
        for data in cases:
            enc = _lzw_encode(data, early=early)
            assert _lzw_decode(enc, early=early) == data


def test_lzw_corrupt_returns_none():
    from crrf_det_spark.pdfmini import _lzw_decode

    # first data code references a not-yet-defined table entry
    bad = bytes([0b10000000, 0b01000001, 0b10000000])  # 256 then 259
    assert _lzw_decode(bad) is None


def test_parse_differences_forms():
    from crrf_det_spark.pdfmini import _parse_differences

    enc = (b"<< /Type /Encoding /BaseEncoding /WinAnsiEncoding "
           b"/Differences [ 65 /zero /one 97 /bullet /uni0041 /B "
           b"/nosuchglyphname ] >>")
    got = _parse_differences(enc)
    assert got[65] == "0" and got[66] == "1"          # counter advances
    assert got[97] == "•"                        # AGL name
    assert got[98] == "A"                             # /uniXXXX
    assert got[99] == "B"                             # single-char name
    assert got[100] == "�"                       # unknown -> replacement
    assert set(got) == {65, 66, 97, 98, 99, 100}


def test_differences_lzw_pdf_roundtrip():
    # digits ride control codes 0x01-0x0A on the wire; exact extraction
    # proves the LZW decode AND the Differences remap both ran
    from crrf_det_spark.pdfmini import make_pdf_diff

    lines = [
        "Account      Q1      Q2",
        "Revenue      100     200",
        "",
        "Totals are preliminary and unaudited.",
    ]
    pdf = make_pdf_diff(lines)
    assert b"/LZWDecode" in pdf and b"/Differences" in pdf
    assert b"Revenue      100" not in pdf  # digits are NOT plaintext
    assert pdf_text_lines(pdf) == lines


def test_small_shift_does_not_poison_leading_unit():
    # a single 2pt positional move (superscript / footnote shift) must
    # not become the nominal leading: with a min-based unit every later
    # 14pt leading would insert round(14/2)-1 = 6 spurious blank lines
    # and fragment paragraphs (round-4 ADVICE); the modal unit with the
    # 0.8*size plausibility floor ignores the sub-line move entirely
    from crrf_det_spark.pdfmini import make_pdf

    lines = ["para one line", "x2", "para two line", "para three line"]
    got = pdf_text_lines(make_pdf(lines, leadings={1: 2}))
    assert got == lines


def test_partial_geometry_interpolates_instead_of_mixing_spaces():
    # pdfmini emits meta=None lines (ty unknown after BT, ' without TL):
    # a content line absent from line_px must get its band interpolated
    # from its true-geometry neighbors, NOT a line_index*pitch fallback
    # in a different coordinate system that makes neighboring spacings
    # huge/negative and splits arbitrarily (round-4 ADVICE)
    from crrf_det_spark.extract import extract_turn
    from crrf_det_spark.pdfmini import pdf_text_lines_geometry

    payload = make_pdf(
        ["alpha beta", "gamma delta", "epsilon zeta", "eta theta",
         "iota kappa"],
    )
    lines, geom = pdf_text_lines_geometry(payload)
    text = "\n".join(lines)
    full = extract_turn(text, line_px=geom)
    partial_geom = {i: v for i, v in geom.items() if i != 2}
    partial = extract_turn(text, line_px=partial_geom)
    assert len(full) == 1  # uniform 14pt leading: one group
    assert partial == full


def test_asciihex_ascii85_runlength_filters():
    import base64
    import zlib as _z

    from crrf_det_spark.pdfmini import _decode_stream

    payload = b"BT (hello) Tj ET"
    # ASCIIHexDecode, with whitespace and the '>' terminator
    hx = payload.hex().encode()
    spaced = b" ".join(hx[i:i + 4] for i in range(0, len(hx), 4)) + b">"
    assert _decode_stream(b"/Filter /ASCIIHexDecode", spaced) == payload
    # odd-length hex pads a trailing zero nibble (spec behavior)
    assert _decode_stream(b"/Filter /ASCIIHexDecode", b"41424>") == b"AB@"
    # ASCII85Decode with the ~> EOD marker
    a85 = base64.a85encode(payload) + b"~>"
    assert _decode_stream(b"/Filter /ASCII85Decode", a85) == payload
    # RunLengthDecode: literal run + repeat run + EOD
    rle = bytes([2]) + b"abc" + bytes([257 - 100]) + b"x"
    expect = b"abc" + b"x" * 100
    assert _decode_stream(b"/Filter /RunLengthDecode",
                          rle + bytes([128])) == expect
    # filter CHAIN, spec order: un-ASCII first, then inflate
    chained = base64.a85encode(_z.compress(payload)) + b"~>"
    assert _decode_stream(
        b"/Filter [ /ASCII85Decode /FlateDecode ]", chained
    ) == payload
    # unknown codec still refuses
    assert _decode_stream(b"/Filter /DCTDecode", b"\xff\xd8") is None


def test_decode_parms_apply_per_filter_stage():
    """/DecodeParms is an array parallel to /Filter: the PNG predictor of
    the Flate stage is undone right after inflating, BEFORE the next
    stage run-length-decodes; /EarlyChange comes from the LZW stage's own
    entry.  Parameters that fit no stage refuse the stream."""
    from crrf_det_spark.pdfmini import (
        _decode_stream, _lzw_encode, _png_predict_up,
    )

    payload = b"BT /F1 11 Tf 72 760 Td (per-stage parameters) Tj ET" * 3
    rle = b"".join(
        bytes([len(c) - 1]) + c
        for c in (payload[i:i + 128] for i in range(0, len(payload), 128))
    ) + bytes([128])
    stream = zlib.compress(_png_predict_up(rle, 8))
    d = (b"/Filter [/FlateDecode /RunLengthDecode] "
         b"/DecodeParms [<< /Predictor 12 /Columns 8 >> null]")
    assert _decode_stream(d, stream) == payload

    lzw = _lzw_encode(payload, early=0).hex().encode() + b">"
    assert _decode_stream(
        b"/Filter [/ASCIIHexDecode /LZWDecode] "
        b"/DecodeParms [null << /EarlyChange 0 >>]", lzw
    ) == payload

    # one dict for a two-stage chain, or an array of the wrong length
    assert _decode_stream(
        b"/Filter [/FlateDecode /RunLengthDecode] "
        b"/DecodeParms << /Predictor 12 /Columns 8 >>", stream
    ) is None
    assert _decode_stream(
        b"/Filter [/FlateDecode /RunLengthDecode] "
        b"/DecodeParms [<< /Predictor 12 /Columns 8 >>]", stream
    ) is None


def test_ascii85_content_stream_extracts():
    # a whole single-page PDF whose content stream is ASCII85-framed
    import base64

    ops = b"BT /F1 11 Tf 72 760 Td (filtered line one) Tj " \
          b"0 -14 Td (filtered line two) Tj ET"
    content = base64.a85encode(ops) + b"~>"
    objs = [
        b"1 0 obj << /Type /Catalog /Pages 2 0 R >> endobj",
        b"2 0 obj << /Type /Pages /Kids [3 0 R] /Count 1 >> endobj",
        b"3 0 obj << /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
        b"/Contents 4 0 R /Resources << /Font << /F1 5 0 R >> >> >> endobj",
        b"4 0 obj << /Length %d /Filter /ASCII85Decode >> stream\n%s"
        b"\nendstream endobj" % (len(content), content),
        b"5 0 obj << /Type /Font /Subtype /Type1 /BaseFont /Helvetica >> "
        b"endobj",
    ]
    pdf = (b"%PDF-1.4\n" + b"\n".join(objs)
           + b"\ntrailer << /Root 1 0 R >>\n%%EOF\n")
    assert pdf_text_lines(pdf) == ["filtered line one", "filtered line two"]


def test_zero_anchor_geometry_falls_back_to_quantized():
    # a line_px covering NONE of the column's content lines means every
    # band would be synthetic — the kernel must run quantized mode, not
    # px thresholds over made-up coordinates (round-4 ADVICE)
    from crrf_det_spark.extract import extract_turn

    text = "alpha beta\ngamma delta\n\nepsilon zeta"
    assert extract_turn(text, line_px={99: [0.0, 7.0]}) \
        == extract_turn(text)


def test_lzw_roundtrip_hypothesis():
    from hypothesis import given, settings, strategies as st

    from crrf_det_spark.pdfmini import _lzw_decode, _lzw_encode

    @settings(max_examples=200, deadline=None)
    @given(
        data=st.binary(max_size=2000),
        early=st.integers(min_value=0, max_value=1),
    )
    def roundtrip(data, early):
        assert _lzw_decode(_lzw_encode(data, early=early),
                           early=early) == data

    roundtrip()
