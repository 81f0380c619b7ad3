"""Minimal real PDF text extraction for tool-emitted payloads.

The reference shells out to poppler (pdftotext/docmt,
/root/reference/src/tpdf/docmt.py:33-64), which handles arbitrary font
encodings; no PDF library ships in this container, but the subset
tool-emitted PDFs actually use is parseable with the stdlib: FlateDecode
is plain zlib, and text sits in content streams as ``BT .. ET`` blocks of
``Tj``/``TJ``/``'``/``"`` show operators with ``Td/TD/T*/Tm`` line
positioning.

Two parsing paths, tried in order:

* **Document path** (round 4): parse the object table — classic
  ``N G obj``  bodies, PDF 1.5 cross-reference streams (``/Type /XRef``
  with ``/W`` field widths and PNG-predictor FlateDecode), and object
  streams (``/Type /ObjStm``) — then walk Catalog -> Pages -> Page for
  page order, resolve each page's ``/Contents`` and ``/Resources /Font``
  map, and decode show-operator strings through each font's
  ``/ToUnicode`` CMap (``bfchar``/``bfrange``, 1- or 2-byte codespaces,
  UTF-16BE targets).  This is what makes CID/Type0-encoded tool PDFs
  extract real text instead of byte soup.
* **Raw-scan fallback**: when no resolvable Page objects exist (stream
  fragments, damaged files), scan for FlateDecode/plain content streams
  containing ``BT`` and decode strings as latin-1 — the round-1 behavior,
  unchanged.

Stream codecs (chainable, spec order, /DecodeParms per stage):
FlateDecode and LZWDecode (+ PNG predictors; LZW honors /EarlyChange),
ASCIIHexDecode, ASCII85Decode,
RunLengthDecode (round 5).  Simple-font ``/Encoding /Differences``
remaps decode through an Adobe-Glyph-List subset + ``/uniXXXX`` names
(round 5).  Still not supported (the parser skips rather than
erroring): encrypted documents, image codecs (DCT/JBIG2/CCITT — no
text inside them anyway).

The extracted lines feed the SAME grid kernel as plain-text turns, so PDF
payloads get identical layout analysis (columns, tables, boilerplate).
"""

from __future__ import annotations

import re
import struct
import zlib

# the dict must be the one BELONGING to this stream: `[^<>]|<<.*?>>`
# keeps the match inside a single (possibly one-level-nested) dict, so a
# non-greedy `<<(.*?)>>` can't start at an unrelated earlier object and
# attribute that object's /Filter to this stream
_STREAM_RE = re.compile(
    rb"<<((?:[^<>]|<<.*?>>)*?)>>\s*stream\r?\n", re.DOTALL
)
_LENGTH_RE = re.compile(rb"/Length\s+(\d+)(?!\d|\s+\d+\s+R)")
_ENDSTREAM_RE = re.compile(rb"\s*endstream")
_OBJ_RE = re.compile(rb"(\d+)\s+\d+\s+obj\b(.*?)\bendobj", re.DOTALL)
_ESCAPES = {
    b"n": b"\n", b"r": b"\r", b"t": b"\t", b"b": b"\b", b"f": b"\f",
    b"(": b"(", b")": b")", b"\\": b"\\",
}


# ---------------------------------------------------------------------------
# stream decoding (Flate + PNG predictor)
# ---------------------------------------------------------------------------

def _png_unpredict(data: bytes, columns: int, bpp: int = 1) -> bytes:
    """Reverse PNG row filters (predictor >= 10).  Each row is one filter
    byte + `columns` bytes; xref streams use 8-bit single-component
    samples so bpp is the byte width of one sample."""
    row_len = columns
    out = bytearray()
    prev = bytearray(row_len)
    pos = 0
    while pos + 1 + row_len <= len(data):
        ftype = data[pos]
        row = bytearray(data[pos + 1: pos + 1 + row_len])
        pos += 1 + row_len
        if ftype == 1:  # Sub
            for i in range(bpp, row_len):
                row[i] = (row[i] + row[i - bpp]) & 0xFF
        elif ftype == 2:  # Up
            for i in range(row_len):
                row[i] = (row[i] + prev[i]) & 0xFF
        elif ftype == 3:  # Average
            for i in range(row_len):
                left = row[i - bpp] if i >= bpp else 0
                row[i] = (row[i] + ((left + prev[i]) >> 1)) & 0xFF
        elif ftype == 4:  # Paeth
            for i in range(row_len):
                a = row[i - bpp] if i >= bpp else 0
                b = prev[i]
                c = prev[i - bpp] if i >= bpp else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                row[i] = (row[i] + pred) & 0xFF
        # ftype 0 (None) and unknown: row unchanged
        out.extend(row)
        prev = row
    return bytes(out)


def _lzw_decode(data: bytes, early: int = 1) -> bytes | None:
    """PDF LZWDecode (ISO 32000 7.4.4): variable 9-12 bit codes, MSB
    first, 256 = clear table, 257 = end of data.  ``early`` is the
    /EarlyChange DecodeParm (default 1: the code width grows one code
    early — width w while next_code + early < 2^w, the convention real
    encoders emit and poppler/pdf.js decode).  None on corrupt input."""
    out = bytearray()
    table: dict[int, bytes] = {}
    next_code = 258
    width = 9
    prev: bytes | None = None
    bitbuf = 0
    nbits = 0
    for byte in data:
        bitbuf = (bitbuf << 8) | byte
        nbits += 8
        while nbits >= width:
            code = (bitbuf >> (nbits - width)) & ((1 << width) - 1)
            nbits -= width
            bitbuf &= (1 << nbits) - 1
            if code == 256:
                table.clear()
                next_code = 258
                width = 9
                prev = None
                continue
            if code == 257:
                return bytes(out)
            if code < 256:
                entry = bytes([code])
            elif code in table:
                entry = table[code]
            elif code == next_code and prev is not None:
                entry = prev + prev[:1]  # KwKwK case
            else:
                return None
            if prev is not None:
                table[next_code] = prev + entry[:1]
                next_code += 1
                if next_code + early >= (1 << width) and width < 12:
                    width += 1
            out.extend(entry)
            prev = entry
    return bytes(out)  # tolerate missing EOD (matches real decoders)


def _asciihex_decode(data: bytes) -> bytes | None:
    body = re.sub(rb"\s", b"", data.split(b">", 1)[0])
    if len(body) % 2:
        body += b"0"
    try:
        return bytes.fromhex(body.decode("ascii"))
    except (ValueError, UnicodeDecodeError):
        return None


def _ascii85_decode(data: bytes) -> bytes | None:
    import base64

    body = data.strip()
    if body.endswith(b"~>"):
        body = body[:-2]
    if body.startswith(b"<~"):
        body = body[2:]
    try:
        return base64.a85decode(
            body, adobe=False, ignorechars=b" \t\n\r\v\f"
        )
    except ValueError:
        return None


def _runlength_decode(data: bytes) -> bytes | None:
    out = bytearray()
    i = 0
    while i < len(data):
        n = data[i]
        if n == 128:  # EOD
            break
        if n < 128:
            chunk = data[i + 1: i + 2 + n]
            if len(chunk) != n + 1:
                return None
            out += chunk
            i += 2 + n
        else:
            if i + 1 >= len(data):
                return None
            out += data[i + 1: i + 2] * (257 - n)
            i += 2
    return bytes(out)


def _inflate(data: bytes) -> bytes | None:
    try:
        return zlib.decompress(data)
    except zlib.error:
        return None


_CODECS = {
    b"FlateDecode": _inflate,
    b"ASCIIHexDecode": _asciihex_decode,
    b"ASCII85Decode": _ascii85_decode,
    b"RunLengthDecode": _runlength_decode,
}
_DECODE_PARMS_RE = re.compile(rb"/DecodeParms\s*(\[.*?\]|<<.*?>>)", re.S)


def _stage_parms(d: bytes, n_stages: int) -> list[bytes] | None:
    """The /DecodeParms dict body of each of ``n_stages`` filter stages
    (b"" for none): one dict for a single filter, or an array parallel to
    the /Filter array whose entries are dicts or ``null``.  None when the
    parameters cannot be assigned to stages."""
    m = _DECODE_PARMS_RE.search(d)
    if not m:
        return [b""] * n_stages
    value = m.group(1)
    parms = (
        [value] if value.startswith(b"<<")
        else re.findall(rb"<<.*?>>|[^\s<>]+", value[1:-1], re.S)
    )
    # an indirect reference ("5 0 R") or a count mismatch fits no stage
    if len(parms) != n_stages or not all(
        p == b"null" or p.startswith(b"<<") for p in parms
    ):
        return None
    return [b"" if p == b"null" else p for p in parms]


def _parm(parms: bytes, key: bytes, default: int) -> int:
    m = re.search(rb"/" + key + rb"\s+(\d+)", parms)
    return int(m.group(1)) if m else default


def _decode_stream(d: bytes, data: bytes) -> bytes | None:
    """Apply the dict's /Filter chain to raw stream bytes; None when a
    codec is unsupported or corrupt.  Filters apply left to right per the
    spec (``[/ASCII85Decode /FlateDecode]`` un-ASCIIs first, then
    inflates).  Each stage reads its own /DecodeParms entry: a PNG
    predictor is undone right after the Flate or LZW stage it belongs to,
    and LZW takes its /EarlyChange from there."""
    fm = re.search(rb"/Filter\s*(\[[^\]]*\]|/[A-Za-z0-9]+)", d)
    filters = re.findall(rb"/([A-Za-z0-9]+)", fm.group(1)) if fm else []
    stage_parms = _stage_parms(d, len(filters))
    if stage_parms is None:
        return None
    for f, parms in zip(filters, stage_parms):
        if f == b"LZWDecode":
            data = _lzw_decode(data, early=_parm(parms, b"EarlyChange", 1))
        elif f in _CODECS:
            data = _CODECS[f](data)
        else:
            return None  # image codecs / crypt filters unsupported
        if data is None:
            return None
        predicted = _parm(parms, b"Predictor", 1) >= 10
        if predicted and f in (b"FlateDecode", b"LZWDecode"):
            data = _png_unpredict(data, _parm(parms, b"Columns", 1))
    return data


def _read_stream(buf: bytes, m: re.Match) -> bytes | None:
    """Decoded data of the stream whose ``_STREAM_RE`` match is ``m``.

    A direct-integer /Length that ends where only whitespace is left
    before ``endstream`` gives the data exactly, whatever its last byte.
    Otherwise (indirect ``/Length N 0 R``, missing or wrong) the data runs
    to ``endstream`` with trailing CR/LF stripped, which also drops a last
    data byte that is itself CR or LF."""
    start = m.end()
    lm = _LENGTH_RE.search(m.group(1))
    if lm and _ENDSTREAM_RE.match(buf, start + int(lm.group(1))):
        return _decode_stream(m.group(1), buf[start:start + int(lm.group(1))])
    end = buf.find(b"endstream", start)
    if end < 0:
        return None
    return _decode_stream(m.group(1), buf[start:end].rstrip(b"\r\n"))


def _object_stream_parts(body: bytes) -> tuple[bytes, bytes] | None:
    """(dict_bytes, decoded_stream_bytes) of an object body holding a
    stream, or None."""
    m = _STREAM_RE.search(body)
    data = _read_stream(body, m) if m else None
    if data is None:
        return None
    return m.group(1), data


# ---------------------------------------------------------------------------
# object table: classic bodies + xref streams + object streams
# ---------------------------------------------------------------------------

def _xref_stream_entries(payload: bytes) -> dict[int, tuple[int, int, int]]:
    """Follow startxref to /Type /XRef stream(s) -> {objnum: (type, f2, f3)}.

    Classic `xref` tables are not needed here (the raw object scan already
    finds their objects); xref STREAMS matter because their type-2 entries
    are the only pointer to objects packed inside object streams."""
    entries: dict[int, tuple[int, int, int]] = {}
    m = None
    for m in re.finditer(rb"startxref\s+(\d+)", payload):
        pass  # last startxref wins (incremental updates)
    offset = int(m.group(1)) if m else None
    seen: set[int] = set()
    while offset is not None and offset not in seen and offset < len(payload):
        seen.add(offset)
        om = _OBJ_RE.match(payload, offset)
        if not om:
            break
        body = om.group(2)
        if b"/XRef" not in body:
            break
        parts = _object_stream_parts(body)
        if not parts:
            break
        d, data = parts
        wm = re.search(rb"/W\s*\[([^\]]*)\]", d)
        if not wm:
            break
        w = [int(x) for x in wm.group(1).split()]
        entry_len = sum(w)
        im = re.search(rb"/Index\s*\[([^\]]*)\]", d)
        if im:
            idx = [int(x) for x in im.group(1).split()]
        else:
            sm = re.search(rb"/Size\s+(\d+)", d)
            idx = [0, int(sm.group(1))] if sm else [0, len(data) // entry_len]
        pos = 0

        def field(width: int, at: int) -> int:
            if width == 0:
                return 0
            return int.from_bytes(data[at: at + width], "big")

        for start, count in zip(idx[::2], idx[1::2]):
            for i in range(count):
                at = pos + i * entry_len
                if at + entry_len > len(data):
                    break
                t = field(w[0], at) if w[0] else 1
                f2 = field(w[1], at + w[0])
                f3 = field(w[2], at + w[0] + w[1])
                entries.setdefault(start + i, (t, f2, f3))
            pos += count * entry_len
        pm = re.search(rb"/Prev\s+(\d+)", d)
        offset = int(pm.group(1)) if pm else None
    return entries


def _objects(payload: bytes) -> dict[int, bytes]:
    """objnum -> object body bytes, from (a) a raw scan of classic
    ``N G obj .. endobj`` bodies, (b) object streams (/Type /ObjStm)
    expanded via the xref-stream entries or — when no usable xref stream
    exists — via a direct scan for ObjStm dicts."""
    objs: dict[int, bytes] = {}
    objstm_nums: list[int] = []
    for m in _OBJ_RE.finditer(payload):
        num = int(m.group(1))
        body = m.group(2)
        objs.setdefault(num, body)
        if b"/ObjStm" in body:
            objstm_nums.append(num)
    # xref-stream type-2 entries name the object streams explicitly
    for num, (t, f2, _f3) in _xref_stream_entries(payload).items():
        if t == 2 and f2 not in objstm_nums and f2 in objs:
            objstm_nums.append(f2)
    for snum in objstm_nums:
        parts = _object_stream_parts(objs.get(snum, b""))
        if not parts:
            continue
        d, data = parts
        nm = re.search(rb"/N\s+(\d+)", d)
        fm = re.search(rb"/First\s+(\d+)", d)
        if not (nm and fm):
            continue
        n, first = int(nm.group(1)), int(fm.group(1))
        header = data[:first].split()
        offsets: list[tuple[int, int]] = []
        for i in range(0, min(len(header), 2 * n), 2):
            try:
                offsets.append((int(header[i]), int(header[i + 1])))
            except (ValueError, IndexError):
                break
        for i, (onum, ooff) in enumerate(offsets):
            end = (
                first + offsets[i + 1][1]
                if i + 1 < len(offsets)
                else len(data)
            )
            objs.setdefault(onum, data[first + ooff: end])
    return objs


def _ref(d: bytes, name: bytes) -> int | None:
    m = re.search(rb"/" + name + rb"\s+(\d+)\s+\d+\s+R", d)
    return int(m.group(1)) if m else None


def _balanced_dict(d: bytes, start: int) -> bytes | None:
    """d[start:] begins with '<<'; return the balanced <<..>> slice."""
    depth = 0
    i = start
    while i < len(d) - 1:
        pair = d[i: i + 2]
        if pair == b"<<":
            depth += 1
            i += 2
        elif pair == b">>":
            depth -= 1
            i += 2
            if depth == 0:
                return d[start:i]
        else:
            i += 1
    return None


def _dict_value(objs: dict[int, bytes], d: bytes, name: bytes) -> bytes | None:
    """/Name <<inline dict>> or /Name N 0 R (resolved) -> dict bytes."""
    m = re.search(rb"/" + name + rb"\s*(<<|\d+\s+\d+\s+R)", d)
    if not m:
        return None
    if m.group(1) == b"<<":
        return _balanced_dict(d, m.start(1))
    num = int(m.group(1).split()[0])
    return objs.get(num)


# ---------------------------------------------------------------------------
# ToUnicode CMaps
# ---------------------------------------------------------------------------

def _utf16be_hex(h: bytes) -> str:
    raw = bytes.fromhex(h.decode("ascii"))
    if len(raw) % 2:
        raw += b"\x00"
    return raw.decode("utf-16-be", errors="replace")


def _parse_cmap(data: bytes) -> tuple[dict[int, str], int]:
    """ToUnicode CMap stream -> ({code: text}, code byte width)."""
    cmap: dict[int, str] = {}
    width = 0
    m = re.search(
        rb"begincodespacerange\s*<([0-9A-Fa-f]+)>", data
    )
    if m:
        width = max(1, len(m.group(1)) // 2)
    for block in re.finditer(
        rb"beginbfchar(.*?)endbfchar", data, re.DOTALL
    ):
        for pm in re.finditer(
            rb"<([0-9A-Fa-f]+)>\s*<([0-9A-Fa-f]+)>", block.group(1)
        ):
            src = int(pm.group(1), 16)
            if not width:
                width = max(1, len(pm.group(1)) // 2)
            cmap[src] = _utf16be_hex(pm.group(2))
    for block in re.finditer(
        rb"beginbfrange(.*?)endbfrange", data, re.DOTALL
    ):
        body = block.group(1)
        # <lo> <hi> [<d1> <d2> ...] form
        for rm in re.finditer(
            rb"<([0-9A-Fa-f]+)>\s*<([0-9A-Fa-f]+)>\s*\[((?:\s*<[0-9A-Fa-f]+>)+)\s*\]",
            body,
        ):
            lo, hi = int(rm.group(1), 16), int(rm.group(2), 16)
            if not width:
                width = max(1, len(rm.group(1)) // 2)
            dsts = re.findall(rb"<([0-9A-Fa-f]+)>", rm.group(3))
            for i, dst in enumerate(dsts[: hi - lo + 1]):
                cmap[lo + i] = _utf16be_hex(dst)
        # <lo> <hi> <dst> form (dst increments)
        for rm in re.finditer(
            rb"<([0-9A-Fa-f]+)>\s*<([0-9A-Fa-f]+)>\s*<([0-9A-Fa-f]+)>",
            body,
        ):
            lo, hi = int(rm.group(1), 16), int(rm.group(2), 16)
            if not width:
                width = max(1, len(rm.group(1)) // 2)
            base = _utf16be_hex(rm.group(3))
            if not base:
                continue
            for i in range(hi - lo + 1):
                cmap[lo + i] = base[:-1] + chr(ord(base[-1]) + i)
    return cmap, (width or 1)


# glyph name -> text for simple-font /Differences encodings: the
# non-letter ASCII block of the Adobe Glyph List plus the common
# typographic names real writers remap (single-character names map to
# themselves, /uniXXXX parses directly)
_GLYPH_NAMES = {
    "space": " ", "exclam": "!", "quotedbl": '"', "numbersign": "#",
    "dollar": "$", "percent": "%", "ampersand": "&", "quotesingle": "'",
    "parenleft": "(", "parenright": ")", "asterisk": "*", "plus": "+",
    "comma": ",", "hyphen": "-", "period": ".", "slash": "/",
    "zero": "0", "one": "1", "two": "2", "three": "3", "four": "4",
    "five": "5", "six": "6", "seven": "7", "eight": "8", "nine": "9",
    "colon": ":", "semicolon": ";", "less": "<", "equal": "=",
    "greater": ">", "question": "?", "at": "@",
    "bracketleft": "[", "backslash": "\\", "bracketright": "]",
    "asciicircum": "^", "underscore": "_", "grave": "`",
    "braceleft": "{", "bar": "|", "braceright": "}", "asciitilde": "~",
    "bullet": "•", "endash": "–", "emdash": "—",
    "quoteleft": "‘", "quoteright": "’",
    "quotedblleft": "“", "quotedblright": "”",
    "ellipsis": "…", "fi": "ﬁ", "fl": "ﬂ",
    "Euro": "€", "degree": "°", "copyright": "©",
    "registered": "®", "trademark": "™",
}


def _glyph_to_text(name: str) -> str:
    if len(name) == 1:
        return name
    if name in _GLYPH_NAMES:
        return _GLYPH_NAMES[name]
    if re.fullmatch(r"uni[0-9A-Fa-f]{4}", name):
        return chr(int(name[3:], 16))
    return "�"


def _parse_differences(enc: bytes) -> dict[int, str]:
    """/Encoding dict bytes -> {code: text} from its /Differences array
    (``[ code /name /name ... code /name ]`` — each number resets the
    code counter, each name consumes one code)."""
    m = re.search(rb"/Differences\s*\[(.*?)\]", enc, re.DOTALL)
    if not m:
        return {}
    out: dict[int, str] = {}
    code = 0
    for tok in re.finditer(rb"(\d+)|/([^\s/\[\]<>()]+)", m.group(1)):
        if tok.group(1) is not None:
            code = int(tok.group(1))
        else:
            if 0 <= code <= 255:
                out[code] = _glyph_to_text(tok.group(2).decode("latin-1"))
            code += 1
    return out


def _page_fonts(
    objs: dict[int, bytes], page: bytes
) -> dict[bytes, tuple[dict[int, str], int]]:
    """Page dict -> {font resource name: (cmap, code width)} for fonts
    carrying a ToUnicode CMap or a simple-font /Encoding /Differences
    remap (reference parity: poppler resolves both,
    /root/reference/src/tpdf/docmt.py:41-51); fonts with neither decode
    as latin-1."""
    fonts: dict[bytes, tuple[dict[int, str], int]] = {}
    res = _dict_value(objs, page, b"Resources")
    if not res:
        return fonts
    fd = _dict_value(objs, res, b"Font")
    if not fd:
        return fonts
    for fm in re.finditer(rb"/([A-Za-z0-9_.+-]+)\s+(\d+)\s+\d+\s+R", fd):
        fobj = objs.get(int(fm.group(2)))
        if not fobj:
            continue
        tu = _ref(fobj, b"ToUnicode")
        if tu is not None and tu in objs:
            parts = _object_stream_parts(objs[tu])
            if parts:
                cmap, width = _parse_cmap(parts[1])
                if cmap:
                    fonts[fm.group(1)] = (cmap, width)
                    continue
        enc = _dict_value(objs, fobj, b"Encoding")
        if enc:
            diff = _parse_differences(enc)
            if diff:
                # full single-byte map: latin-1 identity overlaid with
                # the Differences remap, so unmapped codes keep the
                # no-encoding behavior
                cmap = {c: chr(c) for c in range(256)}
                cmap.update(diff)
                fonts[fm.group(1)] = (cmap, 1)
    return fonts


# ---------------------------------------------------------------------------
# content-stream walking
# ---------------------------------------------------------------------------

def _content_streams(payload: bytes):
    """Raw-scan fallback: yield decompressed content-stream bytes."""
    for m in _STREAM_RE.finditer(payload):
        data = _read_stream(payload, m)
        if data is not None and b"BT" in data:
            yield data


# PDF 32000-1 section 7.3.4.2 escapes: octal (1-3 digits), a line
# continuation (backslash + EOL, dropped with its EOL) or any other byte
_ESCAPE_RE = re.compile(rb"\\([0-7]{1,3}|\r\n|[\s\S])")
_UNESCAPE = {
    bytes((c,)): _ESCAPES.get(bytes((c,)), bytes((c,)))
    for c in range(256) if not 0x30 <= c <= 0x37
}
_UNESCAPE[b"\r\n"] = _UNESCAPE[b"\r"] = _UNESCAPE[b"\n"] = b""


def _unescape(m: re.Match) -> bytes:
    g = m.group(1)
    hit = _UNESCAPE.get(g)
    return bytes((int(g, 8) & 0xFF,)) if hit is None else hit


def _decode_literal_bytes(body: bytes) -> bytes:
    """PDF literal string body (between parens) -> raw string bytes: the
    known escapes map, a backslash before any other byte is dropped and
    the byte kept, a backslash before an EOL drops both."""
    if b"\\" not in body:
        return body
    return _ESCAPE_RE.sub(_unescape, body)


# literal string body: balanced parentheses nest (up to _LIT_DEPTH deep
# inside the outer pair), a backslash escapes any byte; possessive so an
# unclosed string fails in linear time
_LIT_DEPTH = 4
_LIT = rb"(?:[^()\\]++|\\[\s\S])*+"
for _ in range(_LIT_DEPTH):
    _LIT = rb"(?:[^()\\]++|\\[\s\S]|\(" + _LIT + rb"\))*+"

# one token of a content stream we care about
_TOK_RE = re.compile(
    rb"\((?P<lit>" + _LIT + rb")\)"          # literal string
    rb"|<(?P<hex>[0-9A-Fa-f\s]*)>"          # hex string
    rb"|/(?P<name>[A-Za-z0-9_.+-]+)"        # name (font selection)
    rb"|(?P<num>[-+]?\d*\.?\d+)"            # number
    rb"|(?P<op>[A-Za-z'\"*]+)"              # operator
)


def _show_text(
    raw: bytes, font: tuple[dict[int, str], int] | None
) -> str:
    """Raw show-string bytes -> text, through the current font's CMap
    (code-width grouping, UTF-16BE targets) or latin-1 when the font has
    no ToUnicode map."""
    if font is None:
        return raw.decode("latin-1")
    cmap, width = font
    out = []
    for i in range(0, len(raw) - width + 1, width):
        code = int.from_bytes(raw[i: i + width], "big")
        out.append(cmap.get(code, "�"))
    return "".join(out)


def _stream_lines_meta(
    data: bytes,
    fonts: dict[bytes, tuple[dict[int, str], int]] | None = None,
) -> tuple[list[str], list[tuple[float, float] | None]]:
    """Walk one content stream's text operators -> (text lines, metas).

    String tokens are buffered RAW until their show operator arrives (the
    current font decides decoding, and ``'`` / ``"`` mean
    move-to-next-line-THEN-show); TJ arrays deliver several buffered
    strings (the interleaved numbers are kerning and are ignored).

    Vertical structure is preserved the way the reference — which
    rasterizes and SEES the gap in pixels — would preserve it:

    * an empty-show line slot (``() Tj`` between two moves, the shape
      tool writers emit for blank source lines) yields a blank line;
    * a downward move materially larger than the nominal leading (the
      smallest downward step seen so far, > 1.5x) yields
      ``round(step/leading) - 1`` blank lines (writers that skip blank
      slots move 2x instead).

    ``metas[i]`` is (baseline_ty_textspace, font_size) for line i, or
    None for inserted blank lines / lines with no position info — the
    geometry side-channel extract_turn threads into the kernel's true-
    pixel thresholds."""
    lines: list[str] = []
    metas: list[tuple[float, float] | None] = []
    cur: list[str] = []
    strings: list[bytes] = []
    nums: list[float] = []
    last_name: bytes | None = None
    font: tuple[dict[int, str], int] | None = None
    ty: float | None = None   # current baseline y (text space, up)
    size: float = 11.0        # current font size
    leading: float | None = None  # TL / TD leading for T* ' "
    unit: float | None = None     # nominal single-line downward step
    step_counts: dict[float, int] = {}  # candidate leadings -> frequency
    shown = False             # a show op happened on the current line

    def newline():
        nonlocal cur, shown
        text = "".join(cur).rstrip()
        if text:
            lines.append(text)
            metas.append((ty, size) if ty is not None else None)
        elif shown:
            # an explicit empty line slot (blank source line)
            lines.append("")
            metas.append(None)
        cur = []
        shown = False

    def vmove(dy: float | None, absolute_to: float | None = None):
        """Flush the line, emit gap blank lines for multi-leading
        downward moves, update ty."""
        nonlocal ty, unit
        newline()
        if absolute_to is not None:
            dy = (absolute_to - ty) if ty is not None else None
            new_ty = absolute_to
        else:
            new_ty = (ty + dy) if (ty is not None and dy is not None) else None
        if dy is not None and dy < 0:
            step = -dy
            gap = round(step / unit) if unit is not None else 0
            if unit is not None and step > 1.5 * unit:
                for _ in range(min(20, gap - 1)):
                    lines.append("")
                    metas.append(None)
            # a step within 10% of a whole multiple (2x or more) of the
            # leading is a paragraph gap and does not vote: one-line
            # paragraphs would outvote the leading.  Other larger steps
            # still vote, so a body leading 1.6x an earlier small-type
            # leading takes over once it is the mode.
            # The nominal leading is the MODAL plausible step, not the
            # minimum: a single small positional move (2pt footnote /
            # superscript shift, common in real writers) would poison a
            # min for the rest of the document, turning every normal
            # 14pt leading into ~6 spurious blank lines.  Plausible =
            # at least 0.8x the current font size (glyphs can't
            # single-space tighter than that); ties break to the
            # smaller step so paragraph gaps never outvote leadings.
            paragraph = gap >= 2 and abs(step - gap * unit) <= 0.1 * gap * unit
            if not paragraph and step >= max(1.0, 0.8 * size):
                key = round(step, 1)
                n = step_counts[key] = step_counts.get(key, 0) + 1
                # only this key's count rose, so the mode is it or unit
                if unit is None or (n, -key) > (step_counts[unit], -unit):
                    unit = key
        ty = new_ty

    def show():
        nonlocal shown
        cur.extend(_show_text(s, font) for s in strings)
        shown = True

    for m in _TOK_RE.finditer(data):
        kind = m.lastgroup
        if kind == "lit":
            strings.append(_decode_literal_bytes(m.group(kind)))
            continue
        if kind == "hex":
            h = re.sub(rb"\s", b"", m.group(kind))
            if len(h) % 2:
                h += b"0"
            strings.append(bytes.fromhex(h.decode("ascii")))
            continue
        if kind == "name":
            last_name = m.group(kind)
            continue
        if kind == "num":
            try:
                nums.append(float(m.group(kind)))
            except ValueError:
                pass
            continue
        op = m.group(kind)
        if op in (b"Tj", b"TJ"):
            show()
        elif op in (b"'", b'"'):
            vmove(-leading if leading is not None else None)
            show()
        elif op == b"T*":
            vmove(-leading if leading is not None else None)
        elif op == b"Tf" and last_name is not None:
            if nums:
                size = nums[-1] or size
            if fonts is not None:
                font = fonts.get(last_name)
        elif op == b"TL" and nums:
            leading = nums[-1]
        elif op in (b"Td", b"TD"):
            if op == b"TD" and len(nums) >= 2:
                leading = -nums[-1]
            # vertical move => new line; pure horizontal move keeps line
            if len(nums) >= 2 and nums[-1] != 0:
                if ty is None:
                    # first positioning: establish ty, no gap analysis
                    newline()
                    ty = nums[-1]
                else:
                    vmove(nums[-1])
            elif len(nums) >= 2 and abs(nums[-2]) > 0 and cur:
                cur.append(" ")
        elif op == b"Tm":
            if len(nums) >= 6:
                if ty is None:
                    newline()
                    ty = nums[-1]
                else:
                    vmove(None, absolute_to=nums[-1])
            else:
                newline()
        elif op in (b"BT", b"ET"):
            # BT resets the text matrix: position unknown until set
            newline()
            ty = None
        strings.clear()
        nums.clear()
    newline()
    # trim leading/trailing blank lines (keep interior structure)
    lo, hi = 0, len(lines)
    while lo < hi and not lines[lo].strip():
        lo += 1
    while hi > lo and not lines[hi - 1].strip():
        hi -= 1
    return lines[lo:hi], metas[lo:hi]


def _stream_lines(
    data: bytes,
    fonts: dict[bytes, tuple[dict[int, str], int]] | None = None,
) -> list[str]:
    return _stream_lines_meta(data, fonts)[0]


# ---------------------------------------------------------------------------
# document walk (pages in Catalog order, fonts resolved per page)
# ---------------------------------------------------------------------------

def _page_order(objs: dict[int, bytes]) -> list[int] | None:
    """Page object numbers in Catalog -> Pages -> Kids order."""
    root = None
    for body in objs.values():
        if re.search(rb"/Type\s*/Catalog\b", body):
            root = body
            break
    if root is None:
        return None
    pages_ref = _ref(root, b"Pages")
    if pages_ref is None or pages_ref not in objs:
        return None
    order: list[int] = []
    stack = [pages_ref]
    seen: set[int] = set()
    while stack:
        num = stack.pop(0)
        if num in seen or num not in objs:
            continue
        seen.add(num)
        body = objs[num]
        if re.search(rb"/Type\s*/Page\b", body):
            order.append(num)
            continue
        km = re.search(rb"/Kids\s*\[([^\]]*)\]", body)
        if km:
            kids = re.findall(rb"(\d+)\s+\d+\s+R", km.group(1))
            stack = [int(k) for k in kids] + stack
    return order or None


def _page_content(objs: dict[int, bytes], page: bytes) -> list[bytes]:
    """Decoded content stream(s) of one page."""
    cm = re.search(rb"/Contents\s*(\[[^\]]*\]|\d+\s+\d+\s+R)", page)
    if not cm:
        return []
    refs = [int(n) for n in re.findall(rb"(\d+)\s+\d+\s+R", cm.group(1))]
    out = []
    for num in refs:
        parts = _object_stream_parts(objs.get(num, b""))
        if parts:
            out.append(parts[1])
    return out


_REF_RASTER_NARROW_PX = 400.0  # the reference rasterizes min(w,h) -> 400px
                               # (docmt -P 400, /root/reference/src/tpdf/pseg.py:152)


def _media_box(page: bytes) -> tuple[float, float]:
    """Page (width, height) in points; US-Letter default when absent."""
    m = re.search(
        rb"/MediaBox\s*\[\s*([\d.+-]+)\s+([\d.+-]+)\s+([\d.+-]+)\s+([\d.+-]+)",
        page,
    )
    if not m:
        return 612.0, 792.0
    x0, y0, x1, y1 = (float(v) for v in m.groups())
    return abs(x1 - x0) or 612.0, abs(y1 - y0) or 792.0


def _document_lines_geometry(
    payload: bytes,
) -> tuple[list[str], dict[int, list[float]]] | None:
    """Object-table path: pages in catalog order, per-page font CMaps.
    None when the document structure is absent/unresolvable (raw-scan
    fallback applies).

    Returns (lines, geometry): geometry maps a line index to its TRUE ink
    band ``[y0_px, y1_px)`` at the reference's raster scale (narrow side
    -> 400px), pages stacked by cumulative page height — the
    ``line_px`` side-channel extract_turn threads into the kernel so the
    group sweep runs the reference's own pixel thresholds instead of the
    quantized text analogues.  Band = baseline - 0.75*size (cap height)
    to baseline + 0.25*size (descender), the nominal Type1 metrics; only
    RELATIVE gaps and heights reach the thresholds, so nominal metrics
    suffice.  Lines with no position info are simply absent."""
    objs = _objects(payload)
    if not objs:
        return None
    order = _page_order(objs)
    if not order:
        return None
    out: list[str] = []
    geom: dict[int, list[float]] = {}
    any_content = False
    offset_px = 0.0
    for num in order:
        page = objs[num]
        page_w, page_h = _media_box(page)
        # per-page raster scale: the reference rasterizes EVERY page at
        # narrow-side -> 400px, so a mixed-size document (letter body +
        # A5 appendix) must not inherit page 1's scale (round-4 ADVICE);
        # pages stack in PX space with each page at its own scale
        scale = _REF_RASTER_NARROW_PX / max(min(page_w, page_h), 1.0)
        fonts = _page_fonts(objs, page)
        streams = _page_content(objs, page)
        if streams:
            any_content = True
        lines: list[str] = []
        metas: list[tuple[float, float] | None] = []
        for data in streams:
            ls, ms = _stream_lines_meta(data, fonts)
            lines.extend(ls)
            metas.extend(ms)
        if lines and out:
            out.append("")
        base = len(out)
        out.extend(lines)
        for i, meta in enumerate(metas):
            if meta is None:
                continue
            ty, size = meta
            top_pt = (page_h - ty) - 0.75 * size
            geom[base + i] = [
                offset_px + top_pt * scale,
                offset_px + (top_pt + size) * scale,
            ]
        offset_px += page_h * scale
    return (out, geom) if any_content else None


def pdf_text_lines_geometry(
    payload: bytes,
) -> tuple[list[str], dict[int, list[float]] | None]:
    """PDF payload -> (text lines, optional true line geometry).

    Pages (document path) / content streams (fallback) are separated by
    one blank line so the downstream grid kernel never merges blocks
    across page boundaries -- the text-space analogue of the reference's
    per-page processing.  Geometry (see _document_lines_geometry) is
    available only on the document path; the raw-scan fallback returns
    None (no MediaBox to anchor a scale)."""
    if not payload or not payload.startswith(b"%PDF"):
        return [], None
    doc = _document_lines_geometry(payload)
    if doc is not None:
        return doc
    out: list[str] = []
    for data in _content_streams(payload):
        lines = _stream_lines(data)
        if lines and out:
            out.append("")
        out.extend(lines)
    return out, None


def pdf_text_lines(payload: bytes) -> list[str]:
    return pdf_text_lines_geometry(payload)[0]


def looks_like_pdf(payload: bytes) -> bool:
    return bool(payload) and payload.startswith(b"%PDF")


# ---------------------------------------------------------------------------
# tiny writers (tests / fixtures)
# ---------------------------------------------------------------------------

def make_pdf(
    lines: list[str],
    compress: bool = True,
    leadings: dict[int, float] | None = None,
) -> bytes:
    """Build a minimal single-page PDF showing ``lines`` -- the shape tool
    output takes.  Used by tests; not a general-purpose writer.
    ``leadings[i]`` overrides the downward move before line i (default
    14pt) — lets fixtures express true sub-line paragraph leading."""

    def esc(s: str) -> str:
        return s.replace("\\", r"\\").replace("(", r"\(").replace(")", r"\)")

    ops = ["BT", "/F1 11 Tf", "72 760 Td"]
    for i, ln in enumerate(lines):
        if i:
            dy = (leadings or {}).get(i, 14)
            ops.append(f"0 -{dy:g} Td")
        ops.append(f"({esc(ln)}) Tj")
    ops.append("ET")
    content = "\n".join(ops).encode("latin-1")
    filt = b""
    if compress:
        content = zlib.compress(content)
        filt = b" /Filter /FlateDecode"
    objs = [
        b"1 0 obj << /Type /Catalog /Pages 2 0 R >> endobj",
        b"2 0 obj << /Type /Pages /Kids [3 0 R] /Count 1 >> endobj",
        b"3 0 obj << /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
        b"/Contents 4 0 R /Resources << /Font << /F1 5 0 R >> >> >> endobj",
        b"4 0 obj << /Length %d%s >> stream\n%s\nendstream endobj"
        % (len(content), filt, content),
        b"5 0 obj << /Type /Font /Subtype /Type1 /BaseFont /Helvetica >> "
        b"endobj",
    ]
    body = b"%PDF-1.4\n" + b"\n".join(objs)
    return body + b"\ntrailer << /Root 1 0 R >>\n%%EOF\n"


def _lzw_encode(data: bytes, early: int = 1) -> bytes:
    """LZW encoder matching ``_lzw_decode`` (fixture writer: real tool
    PDFs are decoded, never produced, by this module).  Emits a leading
    clear code and a trailing EOD; width grows one table-slot after the
    decoder's bump point because the encoder's table is one entry ahead
    of the decoder's at each code boundary."""
    table: dict[bytes, int] = {bytes([i]): i for i in range(256)}
    next_code = 258
    width = 9
    bitbuf = 0
    nbits = 0
    out = bytearray()

    def emit(code: int) -> None:
        nonlocal bitbuf, nbits
        bitbuf = (bitbuf << width) | code
        nbits += width
        while nbits >= 8:
            out.append((bitbuf >> (nbits - 8)) & 0xFF)
            nbits -= 8
        bitbuf &= (1 << nbits) - 1

    emit(256)
    w = b""
    for i in range(len(data)):
        c = data[i: i + 1]
        if w + c in table:
            w += c
            continue
        emit(table[w])
        if next_code <= 4095:
            table[w + c] = next_code
            next_code += 1
            if next_code + early > (1 << width) and width < 12:
                width += 1
        w = c
    if w:
        emit(table[w])
    emit(257)
    if nbits:
        out.append((bitbuf << (8 - nbits)) & 0xFF)
    return bytes(out)


def make_pdf_diff(lines: list[str]) -> bytes:
    """Single-page classic-body PDF with (a) an LZWDecode content stream
    and (b) a simple Type1 font whose /Encoding /Differences remaps the
    digit codes 0x01-0x0A to glyph names /zero../nine — on-wire string
    bytes are NOT the text, so correct extraction proves both the LZW
    decoder and the Differences decode ran (the two shapes the reference
    gets free from poppler, /root/reference/src/tpdf/docmt.py:41-51).
    Non-digit characters pass through the latin-1 identity base map."""
    remap = {ord("0") + i: 1 + i for i in range(10)}

    def enc(s: str) -> str:
        coded = bytes(remap.get(b, b) for b in s.encode("latin-1"))
        return "".join(
            f"\\{b:03o}" if b < 32 or chr(b) in "\\()" else chr(b)
            for b in coded
        )

    ops = ["BT", "/F1 11 Tf", "72 760 Td"]
    for i, ln in enumerate(lines):
        if i:
            ops.append("0 -14 Td")
        ops.append(f"({enc(ln)}) Tj")
    ops.append("ET")
    content = _lzw_encode("\n".join(ops).encode("latin-1"))
    differences = " ".join(
        ["1"] + ["/zero /one /two /three /four /five /six /seven "
                 "/eight /nine"]
    ).encode("ascii")
    objs = [
        b"1 0 obj << /Type /Catalog /Pages 2 0 R >> endobj",
        b"2 0 obj << /Type /Pages /Kids [3 0 R] /Count 1 >> endobj",
        b"3 0 obj << /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
        b"/Contents 4 0 R /Resources << /Font << /F1 5 0 R >> >> >> endobj",
        b"4 0 obj << /Length %d /Filter /LZWDecode >> stream\n%s\nendstream"
        b" endobj" % (len(content), content),
        b"5 0 obj << /Type /Font /Subtype /Type1 /BaseFont /Helvetica "
        b"/Encoding << /Type /Encoding /Differences [ %s ] >> >> endobj"
        % differences,
    ]
    body = b"%PDF-1.4\n" + b"\n".join(objs)
    return body + b"\ntrailer << /Root 1 0 R >>\n%%EOF\n"


def _png_predict_up(data: bytes, columns: int) -> bytes:
    """Apply the PNG Up filter (predictor 12) row-wise — the form real
    writers emit for xref streams."""
    out = bytearray()
    prev = bytes(columns)
    for at in range(0, len(data), columns):
        row = data[at: at + columns].ljust(columns, b"\x00")
        out.append(2)  # Up
        out.extend((row[i] - prev[i]) & 0xFF for i in range(columns))
        prev = row
    return bytes(out)


def make_pdf_cid(lines: list[str]) -> bytes:
    """Build a single-page PDF whose text uses a 2-byte CID-style font
    with a /ToUnicode CMap, whose catalog/page/font dicts live inside an
    OBJECT STREAM, and whose cross-reference is a PDF 1.5 XREF STREAM
    (FlateDecode + PNG Up predictor).  Codes are deliberately offset from
    the characters they map to, so a latin-1 fallback decode produces
    garbage — extraction only succeeds through the document path.

    Fixture writer for tests (reference parity: poppler handles these
    encodings natively, /root/reference/src/tpdf/docmt.py:33-64)."""
    charset = sorted({ch for ln in lines for ch in ln})
    code_of = {ch: 0x0100 + i for i, ch in enumerate(charset)}

    # --- ToUnicode CMap (object 6, classic body, Flate) ---
    bfchars = "\n".join(
        f"<{code:04X}> <{ord(ch):04X}>" for ch, code in code_of.items()
    )
    cmap_src = (
        "/CIDInit /ProcSet findresource begin\n"
        "begincmap\n"
        "1 begincodespacerange\n<0000> <FFFF>\nendcodespacerange\n"
        f"{len(code_of)} beginbfchar\n{bfchars}\nendbfchar\n"
        "endcmap\nend\n"
    ).encode("latin-1")
    cmap_z = zlib.compress(cmap_src)

    # --- content stream (object 4, classic body, Flate) ---
    ops = ["BT", "/F1 11 Tf", "72 760 Td"]
    for i, ln in enumerate(lines):
        if i:
            ops.append("0 -14 Td")
        hexstr = "".join(f"{code_of[ch]:04X}" for ch in ln)
        ops.append(f"<{hexstr}> Tj")
    ops.append("ET")
    content_z = zlib.compress("\n".join(ops).encode("latin-1"))

    # --- object stream (object 7) holding objects 1,2,3,5 ---
    inner = [
        (1, b"<< /Type /Catalog /Pages 2 0 R >>"),
        (2, b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>"),
        (3, b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
            b"/Contents 4 0 R /Resources << /Font << /F1 5 0 R >> >> >>"),
        (5, b"<< /Type /Font /Subtype /Type0 /BaseFont /Synth-CID "
            b"/Encoding /Identity-H /ToUnicode 6 0 R >>"),
    ]
    offs = []
    blob = bytearray()
    for num, body in inner:
        offs.append((num, len(blob)))
        blob.extend(body + b"\n")
    header = " ".join(f"{n} {o}" for n, o in offs).encode("ascii") + b"\n"
    objstm_plain = header + bytes(blob)
    objstm_z = zlib.compress(objstm_plain)

    # --- assemble body, tracking byte offsets for the xref stream ---
    out = bytearray(b"%PDF-1.5\n")
    offsets: dict[int, int] = {}

    def emit(num: int, body: bytes) -> None:
        offsets[num] = len(out)
        out.extend(b"%d 0 obj " % num + body + b" endobj\n")

    emit(4, b"<< /Length %d /Filter /FlateDecode >> stream\n%s\nendstream"
         % (len(content_z), content_z))
    emit(6, b"<< /Length %d /Filter /FlateDecode >> stream\n%s\nendstream"
         % (len(cmap_z), cmap_z))
    emit(7, b"<< /Type /ObjStm /N %d /First %d /Length %d "
         b"/Filter /FlateDecode >> stream\n%s\nendstream"
         % (len(inner), len(header), len(objstm_z), objstm_z))

    # xref stream entries for objects 0..8 (object 8 = the xref stream)
    xref_offset = len(out)
    w = (1, 4, 2)
    rows = []
    for num in range(9):
        if num == 0:
            rows.append((0, 0, 0xFFFF))
        elif num in offsets:
            rows.append((1, offsets[num], 0))
        elif num == 8:
            rows.append((1, xref_offset, 0))
        else:  # packed in object stream 7
            idx = next(i for i, (n, _) in enumerate(inner) if n == num)
            rows.append((2, 7, idx))
    raw = b"".join(
        struct.pack(">B", t) + struct.pack(">I", f2) + struct.pack(">H", f3)
        for t, f2, f3 in rows
    )
    columns = sum(w)
    xref_z = zlib.compress(_png_predict_up(raw, columns))
    emit(8, b"<< /Type /XRef /Size 9 /W [1 4 2] /Root 1 0 R "
         b"/Filter /FlateDecode /DecodeParms << /Predictor 12 /Columns %d >> "
         b"/Length %d >> stream\n%s\nendstream"
         % (columns, len(xref_z), xref_z))
    out.extend(b"startxref\n%d\n%%%%EOF\n" % xref_offset)
    return bytes(out)
