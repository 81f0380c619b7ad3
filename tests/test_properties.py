"""Property-based kernel tests (hypothesis): the extractor must never
crash, and must conserve tokens -- every whitespace token of the input
(outside stripped boilerplate lines) appears in the output exactly once,
in unchanged form.  This is the text-level counterpart of the reference's
guarantee that every pdftotext word lands in exactly one cell or text box
(used_words, /root/reference/src/tpdf/aggr.py:69-118)."""

import re
from collections import Counter

import numpy as np
from hypothesis import given, settings, strategies as st

from crrf_det_spark.extract import extract_turn
from crrf_det_spark.grid import BOILERPLATE_MARGIN_LINES, BOILERPLATE_RE

WORD = st.text(
    alphabet=st.characters(
        codec="utf-8",
        categories=("Lu", "Ll", "Nd", "Pc", "Pd", "Sc"),
    ),
    min_size=1,
    max_size=12,
)

LINE = st.one_of(
    st.just(""),
    st.lists(WORD, min_size=1, max_size=12).map(" ".join),
    # aligned-ish gap lines (table candidates)
    st.lists(WORD, min_size=2, max_size=5).map("   ".join),
    # leading whitespace / weird spacing
    st.lists(WORD, min_size=1, max_size=6).map(lambda ws: "  " + "    ".join(ws)),
)

# <=18 lines: the 95% column-blank rule then needs a fully blank char
# column, so no token can straddle a page-column boundary (a straddling
# token may legitimately lose the coverage-threshold test on both sides --
# same physics as the reference's clear_column_spacing erasing gutter ink)
TURN = st.lists(LINE, min_size=0, max_size=18).map("\n".join)


def _expected_tokens(text: str) -> Counter:
    lines = [ln.expandtabs(4) for ln in text.split("\n")]
    n = len(lines)
    for i in list(range(min(BOILERPLATE_MARGIN_LINES, n))) + list(
        range(max(0, n - BOILERPLATE_MARGIN_LINES), n)
    ):
        if lines[i] and BOILERPLATE_RE.match(lines[i]):
            lines[i] = ""
    return Counter(t for ln in lines for t in re.findall(r"\S+", ln))


def _output_tokens(segments) -> Counter:
    c: Counter = Counter()
    for s in segments:
        for t in re.findall(r"\S+", s["content"].replace("\t", " ").replace("\n", " ")):
            c[t] += 1
    return c


@settings(max_examples=300, deadline=None)
@given(TURN)
def test_token_conservation(text):
    segs = extract_turn(text)
    assert _output_tokens(segs) == _expected_tokens(text)


BOX = st.tuples(
    st.integers(0, 40), st.integers(0, 60),
    st.integers(0, 40), st.integers(0, 60),
).map(lambda b: (min(b[0], b[2]), min(b[1], b[3]),
                 max(b[0], b[2]) + 1, max(b[1], b[3]) + 1))


def take_overlapping(tokens, box) -> list[str]:
    """The sequential reference of ``Tokens.take_overlapping_many``: consume
    and return (in reading order) all unused tokens whose overlap with
    ``box`` (ymin, xmin, ymax, xmax) exceeds their threshold -- the
    first-writer-wins semi-join (aggr.py:69-72), one box at a time.

    The scan is windowed to tokens whose y-extent can overlap the box
    (ymin sorted => searchsorted), turning the cells x tokens join from
    O(cells * tokens) into O(cells * log(tokens) + hits)."""
    if not len(tokens.texts):
        return []
    lo = int(np.searchsorted(tokens._y0, box[0] - tokens._hmax, side="left"))
    hi = int(np.searchsorted(tokens._y0, box[2], side="left"))
    if lo >= hi:
        return []
    b = tokens.boxes[lo:hi]
    x_ov = np.minimum(box[3], b[:, 3]) - np.maximum(box[1], b[:, 1])
    y_ov = np.minimum(box[2], b[:, 2]) - np.maximum(box[0], b[:, 0])
    hit = (
        (x_ov > 0)
        & (y_ov > 0)
        & (np.maximum(x_ov, 0) * np.maximum(y_ov, 0) > tokens.thr[lo:hi])
        & ~tokens.used[lo:hi]
    )
    idx = np.nonzero(hit)[0]
    if len(idx) == 0:
        return []
    idx = idx + lo
    tokens.used[idx] = True
    return [tokens.texts[i] for i in idx]


@settings(max_examples=200, deadline=None)
@given(TURN, st.lists(BOX, min_size=0, max_size=150))
def test_batched_join_equals_sequential(text, boxes):
    """take_overlapping_many must be exactly the sequential
    first-writer-wins loop over the same box order (incl. >1 chunk)."""
    from crrf_det_spark.extract import tokenize_lines
    from crrf_det_spark.grid import occupancy_from_text

    _, lines = occupancy_from_text(text)
    seq_tokens = tokenize_lines(lines)
    batch_tokens = tokenize_lines(lines)
    expected = [take_overlapping(seq_tokens, b) for b in boxes]
    got = batch_tokens.take_overlapping_many(boxes)
    assert got == expected
    assert list(seq_tokens.used) == list(batch_tokens.used)


# every kind of whitespace str.split and the regex \s agree on, mixed
# with ASCII and wide ink
WS_LINE = st.text(
    alphabet=st.sampled_from(list(
        "ab7_ \t\r\x0b\x0c\x1c\x1f\x85\xa0\u1680\u2007\u2028\u3000\xe9\u6f22\U0001f600"
    )),
    max_size=14,
)


@settings(max_examples=300, deadline=None)
@given(st.lists(WS_LINE, max_size=6))
def test_tokenize_lines_matches_regex_tokens(lines):
    """The batched tokenizer (str.split + whitespace mask) finds exactly
    the regex \\S+ tokens, with their line and char offsets."""
    from crrf_det_spark.extract import tokenize_lines
    from crrf_det_spark.grid import LINE_H, V_UNIT

    toks = tokenize_lines(lines)
    got = [(t, *(int(v) for v in b)) for t, b in zip(toks.texts, toks.boxes)]
    assert got == [
        (m.group(), li * V_UNIT, m.start(), li * V_UNIT + LINE_H, m.end())
        for li, ln in enumerate(lines)
        for m in re.finditer(r"\S+", ln)
    ]


def test_batched_join_chunk_halving_equals_sequential(monkeypatch):
    """Force the join into many small chunks of (box, token) pairs by
    patching MAX_JOIN_CELLS (normally only hit by multi-million-token
    unbroken paragraphs) and assert the join is still exactly the
    sequential first-writer-wins loop, including at a cap of 1 pair, where
    every box whose window is larger goes into a chunk by itself."""
    import crrf_det_spark.extract as extract_mod
    from crrf_det_spark.extract import tokenize_lines
    from crrf_det_spark.grid import occupancy_from_text

    import random

    rng = random.Random(5)
    words = ["aa", "bb", "cc", "dd"]
    text = "\n".join(
        " ".join(rng.choices(words, k=8)) for _ in range(120)
    )
    boxes = []
    for _ in range(200):
        y0 = rng.randrange(0, 119)
        x0 = rng.randrange(0, 20)
        boxes.append((y0, x0, y0 + rng.randrange(1, 6), x0 + rng.randrange(1, 16)))

    _, lines = occupancy_from_text(text)
    seq_tokens = tokenize_lines(lines)
    expected = [take_overlapping(seq_tokens, b) for b in boxes]

    for cap in (1, 37, 512):  # one box per chunk, then fewer chunks
        monkeypatch.setattr(extract_mod, "MAX_JOIN_CELLS", cap)
        batch_tokens = tokenize_lines(lines)
        got = batch_tokens.take_overlapping_many(boxes)
        assert got == expected, f"cap={cap}"
        assert list(seq_tokens.used) == list(batch_tokens.used), f"cap={cap}"


def test_giant_turn_stays_linear_and_conserves_tokens():
    """Degenerate heavy-tail turn (20k lines of word soup): the kernel
    must stay near-linear (the O(rects^2) adjacency scan and O(rows^2)
    group building were both fixed to banded/appended forms) and conserve
    every token."""
    import random
    import time

    rng = random.Random(17)
    words = ["alpha", "beta", "gamma", "delta", "eps", "zeta"]
    text = "\n".join(
        " ".join(rng.choices(words, k=10)) for _ in range(20_000)
    )
    t0 = time.time()
    segs = extract_turn(text)
    elapsed = time.time() - t0
    assert _output_tokens(segs) == _expected_tokens(text)
    # pre-fix this took >30s; generous bound so slow CI boxes still pass
    assert elapsed < 15, f"giant turn took {elapsed:.1f}s"


@settings(max_examples=100, deadline=None)
@given(st.text(max_size=400))
def test_never_crashes_on_arbitrary_text(text):
    segs = extract_turn(text)
    for s in segs:
        assert s["type"] in ("text", "table")
        assert isinstance(s["content"], str)
        assert len(s["box"]) == 4


@settings(max_examples=150, deadline=None)
@given(st.binary(max_size=600))
def test_pdf_parser_never_crashes(payload):
    from crrf_det_spark.pdfmini import pdf_text_lines_geometry

    for ln in pdf_text_lines_geometry(b"%PDF-1.4\n" + payload)[0]:
        assert isinstance(ln, str)


@settings(max_examples=150, deadline=None)
@given(st.text(max_size=600))
def test_html_extractor_never_crashes(text):
    from crrf_det_spark.htmlx import html_segments

    for s in html_segments("<body>" + text + "</body>"):
        assert s["type"] in ("text", "table")
        assert isinstance(s["content"], str)


@settings(max_examples=100, deadline=None)
@given(st.text(max_size=500))
def test_auto_dispatch_never_crashes(text):
    from crrf_det_spark.extract import extract_turn_auto

    for s in extract_turn_auto(text):
        assert s["type"] in ("text", "table")


def test_grid_budget_guard_and_flow_fallback():
    """One degenerate turn must never allocate an unbounded occupancy
    grid (grid.MAX_GRID_CELLS); extraction falls back to O(chars)
    paragraph-flow segments with every word conserved."""
    import pytest

    from crrf_det_spark import grid as G
    from crrf_det_spark.extract import extract_turn

    wide = "tok " * 2_500_000  # one ~10M-char line
    text = "alpha beta gamma\n\n" + wide
    # the guard fires before any 2-D allocation
    with pytest.raises(G.GridBudgetExceeded):
        G.occupancy_from_text(text)
    segs = extract_turn(text)
    assert [s["type"] for s in segs] == ["text", "text"]
    assert segs[0]["content"] == "alpha beta gamma"
    assert len(segs[1]["content"].split()) == 2_500_000
    # reading order: boxes ascend by line, ints throughout
    assert segs[0]["box"][0] < segs[1]["box"][0]
    assert all(isinstance(v, int) for s in segs for v in s["box"])
    # a wide-but-bounded turn still takes the real kernel
    ok = extract_turn("alpha beta\n\ncol1  col2")
    assert ok and all(s["type"] in ("text", "table") for s in ok)


def test_flow_fallback_matches_kernel_on_simple_prose():
    """On plain single-column prose the fallback and the kernel agree on
    extracted content (both emit one space-joined text segment per
    paragraph), so the budget path degrades faithfully."""
    from crrf_det_spark.extract import _flow_segments, extract_turn

    text = "The first paragraph has words.\nAnd a second line.\n\nSecond paragraph here."
    lines = [ln.rstrip("\n") for ln in text.split("\n")]
    kernel = [s["content"] for s in extract_turn(text)]
    flow = [s["content"] for s in _flow_segments(lines)]
    assert flow == kernel
