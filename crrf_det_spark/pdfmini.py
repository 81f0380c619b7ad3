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

``pdf_text_lines_geometries`` decodes a batch of payloads (an Arrow batch
in the pipeline).  The document walk -- object table, page order, fonts,
``/Contents`` and ``/MediaBox``, or the raw-scan fallback's streams --
runs per payload, with every pattern compiled once at import.  The
content-stream interpreter (``_stream_lines_meta``) then runs once over
every stream of the batch, and the lines' pixel bands are computed for
the whole batch as arrays.  A batch holding more decoded stream bytes
than ``_MAX_CHUNK_STREAM_BYTES`` does this a chunk of payloads at a time.
"""

from __future__ import annotations

import re
import struct
import zlib
from itertools import chain

import numpy as np

from .grid import _ranges

# the dict must be the one BELONGING to this stream: `[^<>]|<<.*?>>`
# keeps the match inside a single (possibly one-level-nested) dict, so a
# non-greedy `<<(.*?)>>` can't start at an unrelated earlier object and
# attribute that object's /Filter to this stream
_STREAM_RE = re.compile(
    rb"<<((?:[^<>]|<<.*?>>)*?)>>\s*stream\r?\n", re.DOTALL
)
_LENGTH_RE = re.compile(rb"/Length\s+(\d+)(?!\d|\s+\d+\s+R)")
_ENDSTREAM_RE = re.compile(rb"\s*endstream")
# an object body runs to the first ``endobj`` after a word boundary; the
# body is taken a non-``e`` run at a time, so only ``e`` bytes are tried
_OBJ_RE = re.compile(rb"(\d+)\s+\d+\s+obj\b((?:[^e]++|e)*?)\bendobj")
_WS_RE = re.compile(rb"\s")
_STARTXREF_RE = re.compile(rb"startxref\s+(\d+)")
_W_RE = re.compile(rb"/W\s*\[([^\]]*)\]")
_INDEX_RE = re.compile(rb"/Index\s*\[([^\]]*)\]")
_SIZE_RE = re.compile(rb"/Size\s+(\d+)")
_PREV_RE = re.compile(rb"/Prev\s+(\d+)")
_N_RE = re.compile(rb"/N\s+(\d+)")
_FIRST_RE = re.compile(rb"/First\s+(\d+)")
_CATALOG_RE = re.compile(rb"/Type\s*/Catalog\b")
_PAGE_RE = re.compile(rb"/Type\s*/Page\b")
_KIDS_RE = re.compile(rb"/Kids\s*\[([^\]]*)\]")
_REFS_RE = re.compile(rb"(\d+)\s+\d+\s+R")
_CONTENTS_RE = re.compile(rb"/Contents\s*(\[[^\]]*\]|\d+\s+\d+\s+R)")
_MEDIA_BOX_RE = re.compile(
    rb"/MediaBox\s*\[\s*([\d.+-]+)\s+([\d.+-]+)\s+([\d.+-]+)\s+([\d.+-]+)"
)
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
    body = _WS_RE.sub(b"", data.split(b">", 1)[0])
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
_PARMS_ITEM_RE = re.compile(rb"<<.*?>>|[^\s<>]+", re.S)
_FILTER_RE = re.compile(rb"/Filter\s*(\[[^\]]*\]|/[A-Za-z0-9]+)")
_FILTER_NAME_RE = re.compile(rb"/([A-Za-z0-9]+)")
_PARM_RE = {
    key: re.compile(rb"/" + key + rb"\s+(\d+)")
    for key in (b"EarlyChange", b"Predictor", b"Columns")
}


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
        else _PARMS_ITEM_RE.findall(value[1:-1])
    )
    # an indirect reference ("5 0 R") or a count mismatch fits no stage
    if len(parms) != n_stages or not all(
        p == b"null" or p.startswith(b"<<") for p in parms
    ):
        return None
    return [b"" if p == b"null" else p for p in parms]


def _parm(parms: bytes, key: bytes, default: int) -> int:
    m = _PARM_RE[key].search(parms)
    return int(m.group(1)) if m else default


def _decode_stream(d: bytes, data: bytes) -> bytes | None:
    """Apply the dict's /Filter chain to raw stream bytes; None when a
    codec is unsupported or corrupt.  Filters apply left to right per the
    spec (``[/ASCII85Decode /FlateDecode]`` un-ASCIIs first, then
    inflates).  Each stage reads its own /DecodeParms entry: a PNG
    predictor is undone right after the Flate or LZW stage it belongs to,
    and LZW takes its /EarlyChange from there."""
    fm = _FILTER_RE.search(d)
    filters = _FILTER_NAME_RE.findall(fm.group(1)) if fm else []
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
    for m in _STARTXREF_RE.finditer(payload):
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
        wm = _W_RE.search(d)
        if not wm:
            break
        w = [int(x) for x in wm.group(1).split()]
        entry_len = sum(w)
        im = _INDEX_RE.search(d)
        if im:
            idx = [int(x) for x in im.group(1).split()]
        else:
            sm = _SIZE_RE.search(d)
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
        pm = _PREV_RE.search(d)
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
        nm = _N_RE.search(d)
        fm = _FIRST_RE.search(d)
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


_REF_RE = {
    name: re.compile(rb"/" + name + rb"\s+(\d+)\s+\d+\s+R")
    for name in (b"Pages", b"ToUnicode")
}
_DICT_VALUE_RE = {
    name: re.compile(rb"/" + name + rb"\s*(<<|\d+\s+\d+\s+R)")
    for name in (b"Resources", b"Font", b"Encoding")
}
_DICT_DELIM_RE = re.compile(rb"<<|>>")


def _ref(d: bytes, name: bytes) -> int | None:
    m = _REF_RE[name].search(d)
    return int(m.group(1)) if m else None


def _balanced_dict(d: bytes, start: int) -> bytes | None:
    """d[start:] begins with '<<'; return the balanced <<..>> slice.  The
    delimiters are scanned like a byte loop that steps two bytes over
    each ``<<``/``>>`` and one over anything else."""
    depth = 0
    for m in _DICT_DELIM_RE.finditer(d, start):
        depth += 1 if d[m.start()] == 0x3C else -1
        if depth == 0:
            return d[start:m.end()]
    return None


def _dict_value(objs: dict[int, bytes], d: bytes, name: bytes) -> bytes | None:
    """/Name <<inline dict>> or /Name N 0 R (resolved) -> dict bytes."""
    m = _DICT_VALUE_RE[name].search(d)
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


_CODESPACE_RE = re.compile(rb"begincodespacerange\s*<([0-9A-Fa-f]+)>")
_BFCHAR_RE = re.compile(rb"beginbfchar(.*?)endbfchar", re.DOTALL)
_BFRANGE_RE = re.compile(rb"beginbfrange(.*?)endbfrange", re.DOTALL)
_HEX_RE = re.compile(rb"<([0-9A-Fa-f]+)>")
_HEX_PAIR_RE = re.compile(rb"<([0-9A-Fa-f]+)>\s*<([0-9A-Fa-f]+)>")
_RANGE_ARRAY_RE = re.compile(
    rb"<([0-9A-Fa-f]+)>\s*<([0-9A-Fa-f]+)>\s*\[((?:\s*<[0-9A-Fa-f]+>)+)\s*\]"
)
_RANGE_BASE_RE = re.compile(
    rb"<([0-9A-Fa-f]+)>\s*<([0-9A-Fa-f]+)>\s*<([0-9A-Fa-f]+)>"
)


def _parse_cmap(data: bytes) -> tuple[dict[int, str], int]:
    """ToUnicode CMap stream -> ({code: text}, code byte width)."""
    cmap: dict[int, str] = {}
    width = 0
    m = _CODESPACE_RE.search(data)
    if m:
        width = max(1, len(m.group(1)) // 2)
    for block in _BFCHAR_RE.finditer(data):
        for pm in _HEX_PAIR_RE.finditer(block.group(1)):
            src = int(pm.group(1), 16)
            if not width:
                width = max(1, len(pm.group(1)) // 2)
            cmap[src] = _utf16be_hex(pm.group(2))
    for block in _BFRANGE_RE.finditer(data):
        body = block.group(1)
        # <lo> <hi> [<d1> <d2> ...] form
        for rm in _RANGE_ARRAY_RE.finditer(body):
            lo, hi = int(rm.group(1), 16), int(rm.group(2), 16)
            if not width:
                width = max(1, len(rm.group(1)) // 2)
            dsts = _HEX_RE.findall(rm.group(3))
            for i, dst in enumerate(dsts[: hi - lo + 1]):
                cmap[lo + i] = _utf16be_hex(dst)
        # <lo> <hi> <dst> form (dst increments)
        for rm in _RANGE_BASE_RE.finditer(body):
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


_UNI_NAME_RE = re.compile(r"uni[0-9A-Fa-f]{4}")
_DIFFERENCES_RE = re.compile(rb"/Differences\s*\[(.*?)\]", re.DOTALL)
_DIFFERENCES_TOK_RE = re.compile(rb"(\d+)|/([^\s/\[\]<>()]+)")
_FONT_REF_RE = re.compile(rb"/([A-Za-z0-9_.+-]+)\s+(\d+)\s+\d+\s+R")


def _glyph_to_text(name: str) -> str:
    if len(name) == 1:
        return name
    if name in _GLYPH_NAMES:
        return _GLYPH_NAMES[name]
    if _UNI_NAME_RE.fullmatch(name):
        return chr(int(name[3:], 16))
    return "�"


def _parse_differences(enc: bytes) -> dict[int, str]:
    """/Encoding dict bytes -> {code: text} from its /Differences array
    (``[ code /name /name ... code /name ]`` — each number resets the
    code counter, each name consumes one code)."""
    m = _DIFFERENCES_RE.search(enc)
    if not m:
        return {}
    out: dict[int, str] = {}
    code = 0
    for tok in _DIFFERENCES_TOK_RE.finditer(m.group(1)):
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
    for fm in _FONT_REF_RE.finditer(fd):
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

# one token of a content stream we care about; its first byte names its
# kind.  The lookahead on the bytes a token can start with lets the scan
# pass any other byte (blanks, delimiters) with one test instead of five.
_TOK_RE = re.compile(
    rb"(?=[(</\-+.0-9A-Za-z'\"*])(?:"
    rb"\(" + _LIT + rb"\)"                  # literal string
    rb"|<[0-9A-Fa-f\s]*>"                   # hex string
    rb"|/[A-Za-z0-9_.+-]+"                  # name (font selection)
    rb"|[-+]?\d*\.?\d+"                     # number
    rb"|[A-Za-z'\"*]+"                      # operator
    rb")"
)
# token kinds, by first byte
_STR, _NAME, _NUM, _OP = range(1, 5)
_KIND = np.zeros(256, dtype=np.int8)
_KIND[list(b"(<")] = _STR
_KIND[ord("/")] = _NAME
_KIND[list(b"-+.0123456789")] = _NUM
_KIND[list(b"ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz'\"*")] = _OP
_KIND = _KIND.tobytes()  # looked up per token: indexing bytes gives an int

# operator codes
(_OTHER, _SHOW, _MOVE_SHOW, _NEXT_LINE, _TF, _TL, _TD, _TD_LEAD, _TM,
 _BT_ET) = range(1, 11)
_OP_CODE = {
    b"Tj": _SHOW, b"TJ": _SHOW, b"'": _MOVE_SHOW, b'"': _MOVE_SHOW,
    b"T*": _NEXT_LINE, b"Tf": _TF, b"TL": _TL, b"Td": _TD, b"TD": _TD_LEAD,
    b"Tm": _TM, b"BT": _BT_ET, b"ET": _BT_ET,
}


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


def _string_bytes(tok: bytes) -> bytes:
    """Raw bytes of a literal (``(..)``) or hex (``<..>``) string token."""
    if tok[0] == 0x28:
        return _decode_literal_bytes(tok[1:-1])
    h = _WS_RE.sub(b"", tok[1:-1])
    if len(h) % 2:
        h += b"0"
    return bytes.fromhex(h.decode("ascii"))


def _stream_lines_meta(
    streams: list[tuple[bytes, dict[bytes, tuple[dict[int, str], int]] | None]],
) -> tuple[list[list[str]], np.ndarray, np.ndarray, np.ndarray]:
    """Walk the text operators of a batch of content streams, each given
    with its page's font map (None: every string decodes as latin-1) ->
    (text lines of each stream, then over all those lines in order:
    placed, baseline ty in text space, font size).

    String tokens are buffered RAW until their show operator arrives (the
    current font decides decoding, and ``'`` / ``"`` mean
    move-to-next-line-THEN-show); TJ arrays deliver several buffered
    strings (the interleaved numbers are kerning and are ignored).

    Vertical structure is preserved the way the reference — which
    rasterizes and SEES the gap in pixels — would preserve it:

    * an empty-show line slot (``() Tj`` between two moves, the shape
      tool writers emit for blank source lines) yields a blank line;
    * a downward move materially larger than the nominal leading (the
      modal plausible downward step so far, > 1.5x) yields
      ``round(step/leading) - 1`` blank lines (writers that skip blank
      slots move 2x instead).

    A line is placed when its baseline is known; inserted blank lines and
    lines with no position info are not -- the geometry side-channel
    extract_turn threads into the kernel's true-pixel thresholds.

    Each stream is tokenized by one findall, and a token's first byte
    names its kind; only the operands an operator reads become floats."""
    out: list[list[str]] = []
    tys: list[float | None] = []
    sizes: list[float] = []
    for data, fonts in streams:
        lines: list[str] = []
        metas: list[float | None] = []
        msizes: list[float] = []
        cur: list[str] = []      # pieces of the current line
        shown = False            # a show op happened on the current line
        strings: list[bytes] = []  # the operands since the last operator
        nums: list[bytes] = []
        name = font = None       # last font name; the selected font
        ty = None                # current baseline y (text space, up)
        size = 11.0              # current font size
        leading = None           # TL / TD leading for T* ' "
        unit = None              # nominal single-line downward step
        votes: dict[float, int] = {}  # candidate leadings -> frequency
        # the stream's end flushes the line like ET
        for tok in chain(_TOK_RE.findall(data), (b"ET",)):
            kind = _KIND[tok[0]]
            if kind != _OP:
                if kind == _STR:
                    strings.append(tok)
                elif kind == _NUM:
                    nums.append(tok)
                else:
                    name = tok[1:]
                continue
            op = _OP_CODE.get(tok, _OTHER)
            flush, dy, new_ty = op in (_MOVE_SHOW, _NEXT_LINE, _TM, _BT_ET), None, ty
            if op == _TF:
                if name is not None:
                    if nums:
                        size = float(nums[-1]) or size
                    if fonts is not None:
                        font = fonts.get(name)
            elif op == _TL:
                if nums:
                    leading = float(nums[-1])
            elif op == _TD or op == _TD_LEAD:
                if len(nums) >= 2:
                    v = float(nums[-1])
                    if op == _TD_LEAD:
                        leading = -v
                    if v != 0:  # a vertical move starts a new line
                        flush, new_ty = True, v
                        if ty is not None:  # not the first positioning
                            dy, new_ty = v, ty + v
                    elif cur and float(nums[-2]) != 0:
                        cur.append(" ")
            elif op == _TM:
                if len(nums) >= 6:
                    new_ty = float(nums[-1])
                    if ty is not None:
                        dy = new_ty - ty
            elif op == _BT_ET:
                new_ty = None  # BT resets the text matrix
            elif op == _MOVE_SHOW or op == _NEXT_LINE:  # down by the leading
                if leading is not None:
                    dy = -leading
                new_ty = ty + dy if ty is not None and dy is not None else None
            if flush:
                text = "".join(cur).rstrip()
                if text or shown:  # a show of nothing visible: a blank line
                    lines.append(text)
                    metas.append(ty if text else None)
                    msizes.append(size)
                cur, shown = [], False
                if dy is not None and dy < 0:
                    step = -dy
                    paragraph = False
                    if unit is not None:
                        n = round(step / unit)
                        if step > 1.5 * unit:
                            gap = max(0, min(20, n - 1))
                            lines += [""] * gap
                            metas += [None] * gap
                            msizes += [size] * gap
                        # a step within 10% of a whole multiple (2x or
                        # more) of the leading is a paragraph gap and does
                        # not vote: one-line paragraphs would outvote the
                        # leading.  Other larger steps still vote, so a
                        # body leading 1.6x an earlier small-type leading
                        # takes over once it is the mode.
                        paragraph = n >= 2 and abs(step - n * unit) <= 0.1 * n * unit
                    # The nominal leading is the MODAL plausible step, not
                    # the minimum: a single small positional move (2pt
                    # footnote / superscript shift) would poison a min for
                    # the rest of the document.  Plausible = at least 0.8x
                    # the current font size; ties break to the smaller step
                    # so paragraph gaps never outvote leadings.
                    if not paragraph and step >= max(1.0, 0.8 * size):
                        key = round(step, 1)
                        votes[key] = nk = votes.get(key, 0) + 1
                        # only this key's count rose, so the mode is it or unit
                        if unit is None or (nk, -key) > (votes[unit], -unit):
                            unit = key
                ty = new_ty
            if op == _SHOW or op == _MOVE_SHOW:
                cur += [_show_text(_string_bytes(s), font) for s in strings]
                shown = True
            strings.clear()
            nums.clear()
        # trim leading/trailing blank lines (keep interior structure)
        lo, hi = 0, len(lines)
        while lo < hi and not lines[lo]:
            lo += 1
        while hi > lo and not lines[hi - 1]:
            hi -= 1
        out.append(lines[lo:hi])
        tys += metas[lo:hi]
        sizes += msizes[lo:hi]
    return (
        out,
        np.array([t is not None for t in tys], dtype=bool),
        np.array([0.0 if t is None else t for t in tys]),
        np.array(sizes),
    )


# ---------------------------------------------------------------------------
# document walk (pages in Catalog order, fonts resolved per page)
# ---------------------------------------------------------------------------

def _page_order(objs: dict[int, bytes]) -> list[int] | None:
    """Page object numbers in Catalog -> Pages -> Kids order."""
    root = None
    for body in objs.values():
        if _CATALOG_RE.search(body):
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
        if _PAGE_RE.search(body):
            order.append(num)
            continue
        km = _KIDS_RE.search(body)
        if km:
            kids = _REFS_RE.findall(km.group(1))
            stack = [int(k) for k in kids] + stack
    return order or None


def _page_content(objs: dict[int, bytes], page: bytes) -> list[bytes]:
    """Decoded content stream(s) of one page."""
    cm = _CONTENTS_RE.search(page)
    if not cm:
        return []
    refs = [int(n) for n in _REFS_RE.findall(cm.group(1))]
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
    m = _MEDIA_BOX_RE.search(page)
    if not m:
        return 612.0, 792.0
    x0, y0, x1, y1 = (float(v) for v in m.groups())
    return abs(x1 - x0) or 612.0, abs(y1 - y0) or 792.0


def _document_pages(payload: bytes) -> list[tuple] | None:
    """Object-table path: each page in catalog order as (font map,
    decoded content streams, height in points, raster scale).  None when
    the document structure is absent/unresolvable or no page has content
    (raw-scan fallback applies).

    The scale is the reference's: it rasterizes EVERY page at narrow side
    -> 400px, so a mixed-size document (letter body + A5 appendix) must
    not inherit page 1's scale (round-4 ADVICE)."""
    objs = _objects(payload)
    if not objs:
        return None
    order = _page_order(objs)
    if not order:
        return None
    pages = []
    for num in order:
        page = objs[num]
        page_w, page_h = _media_box(page)
        scale = _REF_RASTER_NARROW_PX / max(min(page_w, page_h), 1.0)
        fonts = _page_fonts(objs, page)
        pages.append((fonts, _page_content(objs, page), page_h, scale))
    return pages if any(streams for _f, streams, _h, _s in pages) else None


# decoded content-stream bytes one chunk of a batch holds at once; a lone
# larger document still runs, alone
_MAX_CHUNK_STREAM_BYTES = 4 << 20


def _lines_geometries(
    walks: list[tuple[list[tuple], bool]],
) -> list[tuple[list[str], tuple[np.ndarray, np.ndarray] | None]]:
    """The walked (pages, geometric) of a chunk of payloads -> per payload
    (text lines, geometry or None): the chunk's streams through one
    ``_stream_lines_meta`` call, its pixel bands as arrays."""
    lines, placed, ty, size = _stream_lines_meta([
        (data, fonts)
        for pages, _geometric in walks
        for fonts, streams, _h, _s in pages
        for data in streams
    ])
    out = []
    # per page with geometry: (first line, lines, base, h, scale, offset,
    # payload)
    geo = []
    k = flat = 0
    for p, (pages, geometric) in enumerate(walks):
        text: list[str] = []
        offset_px = 0.0
        for _fonts, streams, page_h, scale in pages:
            page_lines = [ln for ls in lines[k: k + len(streams)] for ln in ls]
            k += len(streams)
            if page_lines and text:
                text.append("")
            if geometric:
                geo.append((flat, len(page_lines), len(text), page_h, scale,
                            offset_px, p))
                offset_px += page_h * scale
            text += page_lines
            flat += len(page_lines)
        out.append(text)
    cols = list(zip(*geo)) if geo else [()] * 7
    first, count, base, pid = (
        np.array(cols[i], dtype=np.int64) for i in (0, 1, 2, 6)
    )
    page_h, scale, offset_px = (np.array(c, dtype=np.float64) for c in cols[3:6])
    at = _ranges(first, count)[0]
    dest = np.repeat(base - first, count) + at
    pid, page_h, scale, offset_px = (
        np.repeat(a, count) for a in (pid, page_h, scale, offset_px)
    )
    sel = placed[at]
    at, dest, pid, page_h, scale, offset_px = (
        a[sel] for a in (at, dest, pid, page_h, scale, offset_px)
    )
    top_pt = (page_h - ty[at]) - 0.75 * size[at]
    bands = np.column_stack((
        offset_px + top_pt * scale, offset_px + (top_pt + size[at]) * scale
    ))
    cut = np.searchsorted(pid, np.arange(len(walks) + 1)).tolist()
    return [
        (text, (dest[a:b], bands[a:b]) if geometric else None)
        for text, (_pages, geometric), a, b in zip(out, walks, cut, cut[1:])
    ]


def pdf_text_lines_geometries(
    payloads: list[bytes],
) -> list[tuple[list[str], tuple[np.ndarray, np.ndarray] | None]]:
    """A batch of PDF payloads -> per payload (text lines, true line
    geometry or None).

    Per payload, the document walk (object table, page order, fonts,
    contents, media box; the raw-scan fallback's streams when there is no
    document structure) runs in Python; then every content stream of the
    batch goes through one ``_stream_lines_meta`` call, and the geometry
    is computed for the whole batch as arrays.  A batch whose decoded
    content streams exceed ``_MAX_CHUNK_STREAM_BYTES`` runs as several
    such chunks, so memory is bounded by the chunk, not the batch.

    Pages (document path) / content streams (fallback) are separated by
    one blank line so the downstream grid kernel never merges blocks
    across page boundaries -- the text-space analogue of the reference's
    per-page processing.

    Geometry, on the document path only (the fallback has no MediaBox to
    anchor a scale): ``(lines, bands)``, the indices of the lines whose
    baseline is known and their TRUE ink bands ``[y0_px, y1_px)``, a
    ``(k, 2)`` array at the reference's raster scale (narrow side ->
    400px), pages stacked by cumulative page height -- the ``line_px``
    side-channel extract_turns threads into the kernel so the group
    sweep runs the reference's own pixel thresholds instead of the
    quantized text analogues.  Band = baseline - 0.75*size (cap height)
    to baseline + 0.25*size (descender), the nominal Type1 metrics; only
    RELATIVE gaps and heights reach the thresholds, so nominal metrics
    suffice."""
    out: list[tuple[list[str], tuple[np.ndarray, np.ndarray] | None]] = []
    walks: list[tuple[list[tuple], bool]] = []  # (pages, geometric)
    held = 0  # decoded stream bytes in walks
    for payload in payloads:
        pages = _document_pages(payload) if looks_like_pdf(payload) else []
        geometric = bool(pages)  # the fallback has no MediaBox: no geometry
        if pages is None:  # raw-scan fallback: each stream a page
            pages = [(None, [data], 0.0, 0.0) for data in _content_streams(payload)]
        size = sum(len(data) for _f, streams, _h, _s in pages for data in streams)
        if walks and held + size > _MAX_CHUNK_STREAM_BYTES:
            out += _lines_geometries(walks)
            walks, held = [], 0
        walks.append((pages, geometric))
        held += size
    return out + _lines_geometries(walks)


def pdf_text_lines_geometry(
    payload: bytes,
) -> tuple[list[str], dict[int, list[float]] | None]:
    """``pdf_text_lines_geometries`` on a batch of one, with the geometry
    as ``{line: [y0_px, y1_px]}``."""
    lines, geom = pdf_text_lines_geometries([payload])[0]
    if geom is None:
        return lines, None
    return lines, dict(zip(geom[0].tolist(), geom[1].tolist()))


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
