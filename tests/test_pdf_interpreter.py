"""The batched content-stream interpreter (``pdfmini._stream_lines_meta``,
one call per batch of streams) against the closure-based per-stream
interpreter it replaced, kept here as the reference: on the writers'
streams, on seeded mutations of them, and on a pathological blank run.
Also the object-body pattern and the dict-delimiter scan of the document
walk against the lazy pattern and the byte loop they replaced, and a
batch cut into chunks by its decoded stream bytes against its payloads
one at a time."""

import random
import re
import time

from crrf_det_spark import pdfmini as P
from crrf_det_spark import synth

# the reference's tokenizer: the same tokens as pdfmini._TOK_RE, one
# named group per kind
_REFERENCE_TOK_RE = re.compile(
    rb"\((?P<lit>" + P._LIT + rb")\)"        # literal string
    rb"|<(?P<hex>[0-9A-Fa-f\s]*)>"          # hex string
    rb"|/(?P<name>[A-Za-z0-9_.+-]+)"        # name (font selection)
    rb"|(?P<num>[-+]?\d*\.?\d+)"            # number
    rb"|(?P<op>[A-Za-z'\"*]+)"              # operator
)


def _reference_stream_lines_meta(
    data: bytes,
    fonts: dict[bytes, tuple[dict[int, str], int]] | None = None,
) -> tuple[list[str], list[tuple[float, float] | None]]:
    """The per-stream interpreter the batched ``_stream_lines_meta``
    replaced: one content stream's text operators -> (text lines, metas).

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
        cur.extend(P._show_text(s, font) for s in strings)
        shown = True

    for m in _REFERENCE_TOK_RE.finditer(data):
        kind = m.lastgroup
        if kind == "lit":
            strings.append(P._decode_literal_bytes(m.group(kind)))
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


def _per_stream(batch):
    """The batch output as per-stream (lines, metas) pairs, the reference's
    shape."""
    lines, placed, ty, size = batch
    out, at = [], 0
    for ls in lines:
        metas = [
            (t, s) if p else None
            for p, t, s in zip(placed[at: at + len(ls)].tolist(),
                               ty[at: at + len(ls)].tolist(),
                               size[at: at + len(ls)].tolist())
        ]
        out.append((ls, metas))
        at += len(ls)
    assert at == len(placed)
    return out


def _seed_streams():
    """(stream, fonts) of the writers' documents: synth turns through
    make_pdf, make_pdf_diff (LZW, /Differences font) and make_pdf_cid
    (ToUnicode CID font, object stream, xref stream)."""
    rows, _ = synth.generate(n_convs=12, seed=11, skew_convs=0, skew_factor=1)
    texts = [r["text"] for r in rows if r["text"].strip() and "<" not in r["text"]]
    docs = [P.make_pdf(t.split("\n")) for t in texts[:40]]
    docs += [P.make_pdf(["a", "b", "", "", "c"], leadings={1: 2, 2: 28, 4: 9})]
    # one-line paragraphs outnumber the leading: the gap steps must not vote
    docs += [P.make_pdf(list("abcdefgh"), leadings={2: 28, 3: 28, 4: 28, 5: 28})]
    # the leading's own votes keep one smaller step from taking over
    docs += [P.make_pdf(list("abcdefghij"), leadings={6: 10, 7: 28})]
    docs += [P.make_pdf_diff(t.split("\n")[:12]) for t in texts[:6]]
    docs += [P.make_pdf_cid(t.split("\n")[:12]) for t in texts[:6]]
    out = []
    for doc in docs:
        for fonts, streams, _h, _s in P._document_pages(doc):
            out += [(data, fonts) for data in streams]
    return out


# operator snippets the mutations splice in
_SNIPPETS = [
    b"[(ab) -120 (cd) 30 (e)] TJ", b"[(x)-250(y)]TJ", b"(quoted) '",
    b"2 1 (dq) \"", b"1 0 0 1 72 700 Tm", b"1 0 0 1 72 650 Tm (m) Tj",
    b"1 2 Tm", b"14 TL T*", b"T*", b"16 TL", b"0 -28 Td", b"0 -14 TD",
    b"0 -14 TD (td) Tj T* (next) '",
    b"10 0 Td", b"0 0 Td", b"-3.5 -7 Td", b"BT", b"ET", b"ET BT",
    b"<48 6 5> Tj", b"<4 8656c6c6f> Tj", b"<> Tj", b"() Tj", b"( ) Tj",
    b"% comment (not closed\n", b"%(x) Tj\n", b"(\\(esc\\)) Tj",
    b"(oct \\101\\60) Tj", b"(nest (in) ok) Tj", b"(", b")", b"[", b"]",
    b"/F1 9 Tf", b"/F9 12 Tf", b"0 Tf", b"/F1 Tf", b"-14Td", b"q 1 0 0 1 0 0 cm Q",
    b"+.5 -.25 Td", b"0 -1e3 Td", b"12.5 TL", b"Tj", b"TJ", b"'",
    b"0 -" + b"9" * 400 + b" Td",  # an infinite step
]


def _mutants(streams, rng):
    """Seeded mutations of the seed streams: truncation, byte flips,
    unbalanced parentheses and spliced operator snippets."""
    out = []
    for data, fonts in streams:
        cut = rng.randrange(len(data) + 1)
        out.append((data[:cut], fonts))
        flipped = bytearray(data)
        for _ in range(rng.randrange(1, 6)):
            i = rng.randrange(len(flipped))
            flipped[i] = rng.choice(b"()<>[]/%'\"*\\ \n0123456789.-TjJdDmLfBE") \
                if rng.random() < 0.7 else rng.randrange(256)
        out.append((bytes(flipped), fonts))
        at = rng.randrange(len(data) + 1)
        out.append((data[:at] + b"(" + data[at:], fonts))
        spliced = data
        for _ in range(rng.randrange(1, 5)):
            at = rng.randrange(len(spliced) + 1)
            spliced = spliced[:at] + b" " + rng.choice(_SNIPPETS) + b" " + spliced[at:]
        out.append((spliced, fonts))
    return out


def _check(streams):
    """The batch equals the reference stream by stream; a stream the
    reference raises on raises the same in a batch of one."""
    ok = []
    for data, fonts in streams:
        try:
            ok.append(((data, fonts), _reference_stream_lines_meta(data, fonts)))
        except Exception as exc:  # noqa: BLE001 - the batch must raise alike
            try:
                P._stream_lines_meta([(data, fonts)])
            except type(exc):
                continue
            raise AssertionError(f"reference raised {exc!r}, batch did not: {data!r}")
    got = _per_stream(P._stream_lines_meta([s for s, _ref in ok]))
    assert len(got) == len(ok)
    for (stream, ref), mine in zip(ok, got):
        assert mine == ref, stream[0]


def test_writers_streams_equal_reference():
    streams = _seed_streams()
    assert len(streams) > 50
    _check(streams)
    assert _per_stream(P._stream_lines_meta([])) == []
    _check([(b"", None), (b"BT ET", None), (b"garbage \xff\x00", {})])
    huge = b"0 -" + b"9" * 400 + b" Td"
    _check([(b"BT 72 760 Td (a) Tj %s (b) Tj %s (c) Tj ET" % (huge, huge), None)])


def test_mutated_streams_equal_reference():
    rng = random.Random(20261019)
    streams = _seed_streams()
    for _round in range(3):
        _check(_mutants(streams, rng))


def test_each_snippet_in_every_font_mode():
    base = b"BT /F1 11 Tf 72 760 Td (first) Tj 0 -14 Td (second) Tj %s ET"
    cid_fonts = P._document_pages(P.make_pdf_cid(["xy"]))[0][0]
    diff_fonts = P._document_pages(P.make_pdf_diff(["12"]))[0][0]
    _check([
        (base % snippet, fonts)
        for snippet in _SNIPPETS
        for fonts in (None, {}, cid_fonts, diff_fonts)
    ])


def test_blank_run_before_unmatched_byte_is_linear():
    data = b"BT 72 760 Td (a) Tj " + b" " * 1_000_000 + b"] ET"
    t = time.perf_counter()
    got = _per_stream(P._stream_lines_meta([(data, None)]))
    assert time.perf_counter() - t < 1.0
    assert got == [_reference_stream_lines_meta(data, None)]
    assert got[0][0] == ["a"]


def test_object_pattern_equals_lazy_dotall_pattern():
    lazy = re.compile(rb"(\d+)\s+\d+\s+obj\b(.*?)\bendobj", re.DOTALL)
    rng = random.Random(3)
    rows, _ = synth.generate(n_convs=6, seed=4, skew_convs=0, skew_factor=1)
    docs = [P.make_pdf(r["text"].split("\n")) for r in rows[:20]]
    docs += [P.make_pdf_cid(["ab c", "d"]), P.make_pdf_diff(["12 x"])]
    docs += [b"1 0 obj " + b"e" * 5000 + b" xendobj endobj 2 0 obj\nendobj"]
    for doc in list(docs):
        flipped = bytearray(doc)
        for _ in range(8):
            flipped[rng.randrange(len(flipped))] = rng.choice(b"e endobj\n0 12")
        docs += [bytes(flipped), doc[: rng.randrange(len(doc))]]
    for doc in docs:
        assert [m.groups() for m in P._OBJ_RE.finditer(doc)] == \
            [m.groups() for m in lazy.finditer(doc)]


def _reference_balanced_dict(d, start):
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


def test_balanced_dict_equals_byte_loop():
    rng = random.Random(9)
    for _ in range(3000):
        d = b"<<" + bytes(rng.choice(b"<<>>a /") for _ in range(rng.randrange(40)))
        start = rng.choice([0, 0, d.find(b"<<", 1)])
        if start >= 0 and d.startswith(b"<<", start):
            assert P._balanced_dict(d, start) == _reference_balanced_dict(d, start), d


def _plain(result):
    lines, geom = result
    return lines, None if geom is None else (geom[0].tolist(), geom[1].tolist())


def test_batch_over_the_chunk_budget_equals_payloads_alone(monkeypatch):
    rows, _ = synth.generate(n_convs=6, seed=5, skew_convs=0, skew_factor=1)
    texts = [r["text"] for r in rows if r["text"].strip() and "<" not in r["text"]]
    raw = b"%PDF-1.4\n<< /Length 26 >>\nstream\nBT 0 9 Td (raw) Tj ET\nendstream\n"
    batch = [P.make_pdf(t.split("\n")) for t in texts[:10]]
    batch[3:3] = [P.make_pdf_cid(["ab c", "d"]), raw, b"", b"not a pdf"]
    batch.append(P.make_pdf_diff(["12 x"]))
    whole = [_plain(r) for r in P.pdf_text_lines_geometries(batch)]
    assert whole[4] == (["raw"], None)
    calls = []
    interpret = P._stream_lines_meta
    monkeypatch.setattr(
        P, "_stream_lines_meta", lambda s: calls.append(len(s)) or interpret(s)
    )
    monkeypatch.setattr(P, "_MAX_CHUNK_STREAM_BYTES", 2000)
    chunked = [_plain(r) for r in P.pdf_text_lines_geometries(batch)]
    assert len(calls) > 3
    alone = [_plain(P.pdf_text_lines_geometries([p])[0]) for p in batch]
    assert chunked == whole == alone
