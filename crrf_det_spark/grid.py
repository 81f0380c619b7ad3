"""Pure-numpy layout-analysis core (text-space analogue of the reference's
``pseg`` module, /root/reference/src/tpdf/pseg.py).

The reference operates on a binarized page raster (400px narrow side).  This
engine re-expresses the same projection-profile / grid-line heuristics over a
**line x char occupancy grid** derived from a transcript turn's text:

* grid cell value 1 = blank (the reference's white 255), 0 = content (ink).
* horizontal unit = one character column  (~5px at the reference's 400px/80col
  scale; px thresholds are divided by ~5 below).
* vertical unit   = 1/4 of a text line: line ``L`` occupies v-interval
  ``[4L, 4L+3]`` (content height 3) and the inter-line gap is 1 v-unit,
  mirroring the reference's ~8px glyph + ~3px leading at 400px scale
  (1 v-unit ~ 2.7px; px thresholds divided by ~2.7 below).

Every public function cites the reference routine it re-expresses.  The
code is vectorized numpy over one Arrow batch of turns in the Spark
pipeline (crrf_det_spark.pipeline): ``parse_grids`` runs columns and row
groups (stages 1-2) once per stack of the batch's grids, the hspacings
folds, vertical lines and the tablevspan chain with its intersection
search (stages 3-5) once per stack of every row group of the batch, and
group boxes per turn; only the column heuristics, the row-group sweep's
decision loop (per column), ``build_table`` and ``find_cells`` (per
table) run in smaller units.
"""

from __future__ import annotations

import bisect
import re
from typing import NamedTuple

import numpy as np

# ---------------------------------------------------------------------------
# constants (char/v-space ports of the reference's pixel constants)
# ---------------------------------------------------------------------------

V_UNIT = 4          # v-units per text line (content 3 + gap 1)
LINE_H = 3          # content height of one line in v-units

# columns_from_image (pseg.py:209-371)
MIN_COLUMN_SPACING = 3      # ref 15px  (pseg.py:233)
MIN_COLUMN_WIDTH = 20       # ref 100px (pseg.py:234)
COLUMN_BLANK_FRACTION = 0.95  # ref hough line_length=0.95*height (pseg.py:240)
REF_MIN_COLUMN_SPACING_PX = 15   # pseg.py:233, used verbatim in px mode
REF_MIN_COLUMN_WIDTH_PX = 100    # pseg.py:234
CHAR_W_PX = 5.0                  # documented transcription scale (px/char)

# row_groups_from_columns (pseg.py:389-609), v-units (~2.7px each)
MIN_SPACING_HARD_SPLIT = 9   # ref 25px  (pseg.py:419)
MIN_SPACING_SOFT_SPLIT = 4   # ref 10px  (pseg.py:418)
MIN_SPACING_MULTIPLE = 1.75  # ref       (pseg.py:422)
MIN_SINGLE_ROW_GROUP_HEIGHT = 28  # ref 75px (pseg.py:423)
TITLE_MIN_SPACING = 3        # ref 9px   (pseg.py:415)
TITLE_MIN_HEIGHT = 4         # ref 10px  (pseg.py:416)
# text-space addition: a blank text line (spacing 4k+1 >= 5 for k>=1 blank
# lines) always separates blocks -- the analogue of the reference's
# BLUR_SIGMA=4 paragraph connector (pseg.py:183): adjacent lines "touch",
# anything across a blank line does not.
MIN_BLOCK_SPLIT = 5

# Reference pixel thresholds, used VERBATIM when the caller supplies true
# per-line pixel geometry (row_groups_from_column line_px / parse_grid
# line_geometry): a PDF-path caller (pdfmini y-coordinates) or a fixture
# transcriber knows each line's real ink extent, so the sweep can run the
# reference's own pixel rules (pseg.py:415-423) instead of the quantized
# v-unit ports above — sub-char leading stops being information loss.
REF_TITLE_MIN_SPACING_PX = 9
REF_TITLE_MIN_HEIGHT_PX = 10
REF_MIN_SPACING_SOFT_SPLIT_PX = 10
REF_MIN_SPACING_HARD_SPLIT_PX = 25
REF_MIN_SINGLE_ROW_GROUP_HEIGHT_PX = 75
REF_OUTER_MERGE_MIN_SPACING_PX = 5   # pseg.py:508
REF_COMPACT_MIN_SPACING_PX = 2       # pseg.py:520
PX_PER_VUNIT = 2.7                   # documented transcription scale
REF_LINE_PITCH_PX = V_UNIT * PX_PER_VUNIT  # ~10.8 px per text line

# row_hspacings_from_row_groups (pseg.py:612-704)
MIN_SPACING_SPAN = 2        # ref 5px (pseg.py:641): 1-char gaps are content
BULLET_MAX_CONTENT = 1      # ref 2px bullet run (pseg.py:686)
BULLET_MAX_MERGE = 4        # ref 20px merge cap (pseg.py:693-695)

# tablevspan.remove_busy_column_rectangles (pseg.py:929-974)
BUSY_COLUMN_CONTENT_RUN_LENGTH = 14  # ref 70px portrait (pseg.py:934)
BUSY_COLUMN_ROW_COUNT = 10           # ref (pseg.py:935)

# margin boilerplate strip (prepare_images_for_segmentation clears the top
# 4.5% and 3.5% sides, pseg.py:190-197): first/last 2 lines matching this
# pattern are treated as header/footer chrome and blanked.
BOILERPLATE_MARGIN_LINES = 2
BOILERPLATE_RE = re.compile(
    r"^\s*(?:\[(?:HEADER|FOOTER)\b[^\]]*\].*"
    r"|Page \d+(?: of \d+)?"
    r"|[-=_~*]{4,})\s*$"
)


# ---------------------------------------------------------------------------
# stage 0: occupancy grid (analogue of prepare_images_for_segmentation,
# pseg.py:161-206)
# ---------------------------------------------------------------------------

# Per-turn occupancy-grid cell budget.  The reference is immune to
# degenerate page geometry BY CONSTRUCTION — it rasterizes every page at
# a fixed 400px narrow side (docmt -P 400, pseg.py:152) so its analysis
# buffers are bounded no matter what the PDF contains.  The text-space
# analogue has no such physical bound: the grid is O(lines x widest
# line), so one corrupt turn (a multi-megabyte minified-JSON line, a
# million-line log dump) could allocate gigabytes inside an executor.
# 16M cells (16 MB uint8; e.g. 4,000 lines x 4,000 cols — far beyond any
# real document layout) is the cutoff past which layout analysis is
# meaningless anyway; callers catch GridBudgetExceeded and fall back to
# paragraph-flow extraction (extract._flow_segments).
MAX_GRID_CELLS = 16_000_000


class GridBudgetExceeded(Exception):
    """Raised instead of allocating an occupancy grid whose lines x width
    footprint exceeds ``MAX_GRID_CELLS`` — one degenerate turn in a
    100 TB corpus must never OOM an executor."""


def strip_boilerplate(lines: list[str]) -> list[str]:
    """Blank header/footer chrome in the first/last margin lines.

    Analogue of the reference's margin clearing (pseg.py:190-197): the top
    4.5% of a 400px page (~2 text lines) is forced to white before analysis.
    """
    out = list(lines)
    n = len(out)
    for i in range(min(BOILERPLATE_MARGIN_LINES, n)):
        if out[i] and BOILERPLATE_RE.match(out[i]):
            out[i] = ""
    for i in range(max(0, n - BOILERPLATE_MARGIN_LINES), n):
        if out[i] and BOILERPLATE_RE.match(out[i]):
            out[i] = ""
    return out


def occupancy_from_text(text: str) -> tuple[np.ndarray, list[str]]:
    """text -> (grid, lines). grid[l, c] = 1 blank / 0 content.

    Analogue of binarization (pseg.py:199): ``im_bin_clear`` white=255 maps
    to blank=1 here.  Tabs are expanded to preserve column alignment.
    """
    lines = [ln.expandtabs(4).rstrip("\n") for ln in text.split("\n")]
    lines = strip_boilerplate(lines)
    width = max((len(ln) for ln in lines), default=0)
    if width == 0 or not lines:
        return np.ones((max(len(lines), 1), 1), dtype=np.uint8), lines
    if len(lines) * width > MAX_GRID_CELLS:
        raise GridBudgetExceeded(
            f"occupancy grid {len(lines)}x{width} exceeds "
            f"MAX_GRID_CELLS={MAX_GRID_CELLS}"
        )
    # single-buffer fast path: pad every line to `width` and decode one
    # blob; falls back per line only for multibyte (non-latin1) chars
    try:
        blob = "".join(ln.ljust(width) for ln in lines).encode("latin-1")
        grid = (
            np.frombuffer(blob, dtype=np.uint8).reshape(len(lines), width)
            == 0x20
        ).astype(np.uint8)
        return grid, lines
    except UnicodeEncodeError:
        pass
    grid = np.ones((len(lines), width), dtype=np.uint8)
    for i, ln in enumerate(lines):
        if not ln:
            continue
        grid[i, : len(ln)] = np.array(
            [1 if ch == " " else 0 for ch in ln], dtype=np.uint8
        )
    return grid, lines


# ---------------------------------------------------------------------------
# stage 1: column detection (analogue of columns_from_image, pseg.py:209-371)
# ---------------------------------------------------------------------------

def _column_heuristics(
    columns: list[list[int]],
    spacings: list[list[int]],
    width: float,
    min_spacing: float,
    min_width: float,
    portrait: bool = True,
) -> tuple[list[list[int]], list[list[int]]]:
    """The reference's column post-processing chain (pseg.py:262-369),
    unit-agnostic: chars with char constants on the quantized path, pixels
    with the reference's own constants when true geometry is supplied."""
    if not columns:
        return [], spacings

    # early single-column pass for busy portrait pages (pseg.py:263-272)
    spacing_widths = [s[1] - s[0] for s in spacings]
    large_spacing_count = sum(
        1 for w in spacing_widths[1:-1] if w > min_spacing
    )
    if portrait and large_spacing_count >= 3 and len(spacing_widths) >= 6:
        sl, sr = spacings[0], spacings[-1]
        return [[sl[1], sr[0]]], [sl, sr]

    # merge columns with very narrow spacing (pseg.py:275-287)
    merged: list[list[int]] = []
    for col in columns:
        if merged and col[0] - merged[-1][1] < min_spacing:
            merged[-1] = [merged[-1][0], col[1]]
        else:
            merged.append(list(col))
    columns = merged
    # eliminate narrow interior spacings (pseg.py:289)
    spacings = [
        s
        for i, s in enumerate(spacings)
        if (s[1] - s[0]) >= min_spacing or i == 0 or i == len(spacings) - 1
    ]

    if len(columns) > 3:
        # too many columns: either a two-column layout with wide table
        # spacings, or a single big table (pseg.py:291-349)
        middle_idx = -1
        for middle in (
            width / 2,
            spacings[-1][1] / 2,
            spacings[-1][0] / 2,
            (spacings[-1][0] + spacings[-1][1]) / 4,
            spacings[0][1] + width / 2,
        ):
            for spc_idx, s in enumerate(spacings):
                if s[1] >= middle and s[0] <= middle:
                    middle_idx = spc_idx
                    break
            if middle_idx != -1:
                break
        if middle_idx != -1 and spacings[middle_idx][1] > spacings[middle_idx][0]:
            if spacings[0][1] > width / 5:
                # unconventional layout (huge first spacing): merge away
                # only the ROGUE spacings — interior spacings wider than
                # the middle one — and keep the rest of the multi-column
                # structure (pseg.py:311-335)
                mid_w = spacings[middle_idx][1] - spacings[middle_idx][0]
                rogue = [
                    s
                    for i, s in enumerate(spacings[1:-1], start=1)
                    if i != middle_idx and s[1] - s[0] > mid_w
                ]
                for s in rogue:
                    ends = [c[1] for c in columns]
                    begins = [c[0] for c in columns]
                    if s[0] in ends and s[1] in begins:
                        ri = ends.index(s[0])
                        li = begins.index(s[1])
                        columns[ri][1] = columns[li][1]
                        del columns[li]
                        spacings.remove(s)
            else:
                # conventional two-column collapse (pseg.py:336-339)
                s0, sm, s1 = spacings[0], spacings[middle_idx], spacings[-1]
                columns = [[s0[1], sm[0]], [sm[1], s1[0]]]
                spacings = [s0, sm, s1]
        elif len(spacings) >= 2:
            # heuristic #2: likely one big table -> single column
            # (pseg.py:341-349)
            sl, sr = spacings[0], spacings[-1]
            columns = [[sl[1], sr[0]]]
            spacings = [sl, sr]

    # narrow column => whole page is a single table (pseg.py:351-369)
    spacing_widths = [s[1] - s[0] for s in spacings]
    if spacing_widths and max(spacing_widths) < width / 4 and len(columns) > 1:
        narrow = any(
            (col[1] - col[0]) < min_width for col in columns[1:]
        )
        if narrow:
            sl, sr = spacings[0], spacings[-1]
            columns = [[sl[1], sr[0]]]
            spacings = [sl, sr]

    return columns, spacings


def _columns_from_hough_px(hough_px: dict) -> tuple[list, list]:
    """Column detection in PIXEL space from true Hough verdicts.

    ``hough_px``: {"runs": [[x0, x1), ...] maximal runs of pixel columns
    carrying a >= 0.95-page-height contiguous blank vertical,
    "width_px": page width, "height_px": page height, "char_w": px/char
    (default 5.0)}.  Mirrors the reference's line->spacing->column
    construction (pseg.py:241-259: spacings span first..last line x
    INCLUSIVE, columns span between them sharing endpoints) and runs the
    shared heuristics with the reference's pixel constants, then converts
    to char ranges."""
    width = hough_px["width_px"]
    portrait = hough_px.get("height_px", width + 1) > width
    char_w = hough_px.get("char_w", CHAR_W_PX)
    spacings: list[list[int]] = []
    columns: list[list[int]] = []
    prev_end = 0  # ref: spacing = [0, 0] seed
    for a, b in sorted(hough_px["runs"]):
        last_x = b - 1  # runs are half-open; ref lines are inclusive xs
        if a != prev_end:
            # ref column = [prev_spacing_last_x, first_x] — endpoints
            # shared with the gutters (pseg.py:253)
            columns.append([prev_end, a])
        if last_x != a:
            # 1px-wide gutters split columns but are dropped from the
            # spacings list (ref appends only when spacing[0] !=
            # spacing[1], pseg.py:256)
            spacings.append([a, last_x])
        prev_end = last_x
    # ref emits no trailing column: the 3.5% side clearing guarantees the
    # rightmost qualifying run IS the right margin
    if spacings and spacings[0][0] != 0:
        spacings.insert(0, [0, 0])
    if not spacings:
        spacings = [[0, 0], [width, width]]
    columns, spacings = _column_heuristics(
        columns,
        spacings,
        width,
        REF_MIN_COLUMN_SPACING_PX,
        REF_MIN_COLUMN_WIDTH_PX,
        portrait=portrait,
    )
    to_char = lambda v: int(round(v / char_w))  # noqa: E731
    return (
        [[to_char(l), to_char(r)] for l, r in columns],
        [[to_char(l), to_char(r)] for l, r in spacings],
    )


class _GridStack(NamedTuple):
    """A batch of occupancy grids stacked for stages 1-2: grid k in rows
    ``starts[k]:starts[k] + h[k]`` and columns ``:w[k]`` of ``m``,
    right-padded with content and followed by one content row."""

    m: np.ndarray
    starts: np.ndarray
    h: np.ndarray
    w: np.ndarray


def _stack_grids(grids: list[np.ndarray]) -> _GridStack:
    """``grids`` stacked (also the row groups' crops, stage 3)."""
    h = np.array([g.shape[0] for g in grids], dtype=np.int64)
    w = np.array([g.shape[1] for g in grids], dtype=np.int64)
    starts = np.zeros(len(grids), dtype=np.int64)
    np.cumsum(h[:-1] + 1, out=starts[1:])
    m = np.zeros((int(starts[-1] + h[-1]), int(w.max())), dtype=np.uint8)
    for g, s in zip(grids, starts.tolist()):
        m[s: s + g.shape[0], : g.shape[1]] = g
    return _GridStack(m, starts, h, w)


def columns_from_grid(
    stack: _GridStack, hough_pxs: list | None = None
) -> list[tuple[list[list[int]], list[list[int]]]]:
    """Detect page columns from near-full-height blank char-column runs,
    for every grid of a stack.

    Returns (columns, spacings) per grid; both are ``[left, right)``
    half-open char ranges (deviation from the reference's inclusive-right
    for clarity).

    The reference finds full-height white verticals with a probabilistic
    Hough transform at ``line_gap=0`` (pseg.py:240) — i.e. a CONTIGUOUS
    blank vertical run >= 0.95 of the page height.  On an axis-aligned char
    grid the same signal is the longest contiguous blank run per char
    column >= 0.95 of the line count.  (Total-blank-fraction is close but
    diverges on pages where a full-width title interrupts an otherwise
    blank gutter — verified against the reference's own golden pages in
    tests/test_reference_fixtures.py.)

    ``hough_pxs[k]`` (optional): a caller with sub-char x-geometry (PDF
    coordinates, the fixture transcriber) passes grid k's TRUE qualifying
    pixel-column runs; its whole stage then runs in pixel space with the
    reference's own constants (see _columns_from_hough_px) — spacing
    widths stop being quantized to 5px multiples, which is what decides
    the narrow-spacing merge and collapse gates on table-heavy pages.

    The run scan runs once over the stack; only the column heuristics run
    per grid.
    """
    hough_pxs = hough_pxs or [None] * len(stack.h)
    # longest contiguous blank run per char column: with s = cumsum(blank)
    # down each column, the blank-run length ending at a row is s minus s
    # at the last content row at or before it; that is the running max of
    # s masked to content rows (s is nondecreasing).  The content row
    # after each grid ends its runs, so one pass serves the whole stack;
    # it runs on the transposed stack, where each char column is
    # contiguous.
    mt = np.ascontiguousarray(stack.m.T)
    s = np.cumsum(mt, axis=1, dtype=np.int32)
    s -= np.maximum.accumulate(np.where(mt, 0, s), axis=1)
    best = np.maximum.reduceat(s, stack.starts, axis=1).T
    is_space = best >= COLUMN_BLANK_FRACTION * stack.h[:, None]

    # run-length the qualifying columns into spacings (pseg.py:244-259)
    first = np.ones_like(is_space)
    first[:, 1:] = is_space[:, 1:] != is_space[:, :-1]
    g, x0 = np.nonzero(first & (np.arange(len(mt)) < stack.w[:, None]))
    x1 = np.append(x0[1:], 0)
    ends = np.append(g[1:] != g[:-1], True)
    x1[ends] = stack.w[g[ends]]
    runs: list[tuple[list, list]] = [([], []) for _ in hough_pxs]  # (columns, spacings)
    for k, a, b, space in zip(g.tolist(), x0.tolist(), x1.tolist(),
                              is_space[g, x0].tolist()):
        runs[k][space].append([a, b])

    out = []
    for (columns, spacings), width, hough_px in zip(runs, stack.w.tolist(), hough_pxs):
        if hough_px is not None:
            out.append(_columns_from_hough_px(hough_px))
            continue
        # guarantee sentinel edge margins so downstream heuristics that
        # reference spacings[0]/spacings[-1] (page margins, always present
        # in the reference thanks to the 3.5% side clearing) stay
        # well-defined.
        if not spacings or spacings[0][0] != 0:
            spacings.insert(0, [0, 0])
        if spacings[-1][1] != width:
            spacings.append([width, width])
        out.append(_column_heuristics(
            columns, spacings, width, MIN_COLUMN_SPACING, MIN_COLUMN_WIDTH
        ))
    return out


# ---------------------------------------------------------------------------
# stage 2: row groups (analogue of row_groups_from_columns, pseg.py:389-609)
# ---------------------------------------------------------------------------

def _row_patterns(
    content: np.ndarray, rows: np.ndarray, c0: np.ndarray, c1: np.ndarray
) -> np.ndarray:
    """Content pattern of stack rows ``rows`` over char ranges ``[c0,
    c1)``: 0=full 1=left 2=right 3=middle (pseg.py:456-467), with the
    reference's per-line precedence: left-half white -> 2, right-half
    white -> 1, both quarters white -> 3.  ``content`` holds each stack
    row's prefix sums of content cells."""
    half = (c1 - c0) // 2
    quar = half // 2
    at0, at1 = content[rows, c0], content[rows, c1]
    pat = np.zeros(len(rows), dtype=np.int8)
    pat[(quar > 0) & (content[rows, c0 + quar] == at0)
        & (content[rows, c1 - quar] == at1)] = 3
    pat[(half > 0) & (content[rows, c1 - half] == at1)] = 1
    pat[(half > 0) & (content[rows, c0 + half] == at0)] = 2
    return pat


def _fill_bands(
    line: np.ndarray, y0: np.ndarray, y1: np.ndarray,
    anchor: np.ndarray, fill: np.ndarray, lo: np.ndarray, hi: np.ndarray,
) -> None:
    """Give the ``fill`` lines the band interpolated between their
    nearest ``anchor`` lines within their column's range ``[lo, hi)``,
    or, with anchors on one side only, extrapolated at REF_LINE_PITCH_PX
    per line; ``y0``/``y1`` are updated in place."""
    j = np.arange(len(line))
    prev = np.maximum.accumulate(np.where(anchor, j, -1))
    nxt = np.minimum.accumulate(np.where(anchor, j, len(j))[::-1])[::-1]
    f = np.flatnonzero(fill)
    p, n, ii = prev[f], nxt[f], line[f]
    has_p, has_n = p >= lo[f], n < hi[f]
    both = has_p & has_n
    k, p_, n_ = f[both], p[both], n[both]
    t = (line[k] - line[p_]) / (line[n_] - line[p_])
    y0[k] = y0[p_] + t * (y0[n_] - y0[p_])
    y1[k] = y1[p_] + t * (y1[n_] - y1[p_])
    above = has_p & ~has_n
    k, p_ = f[above], p[above]
    d = (ii[above] - line[p_]) * REF_LINE_PITCH_PX
    y0[k], y1[k] = y0[p_] + d, y1[p_] + d
    below = ~has_p
    k, n_ = f[below], n[below]
    d = (line[n_] - ii[below]) * REF_LINE_PITCH_PX
    y0[k], y1[k] = y0[n_] - d, y1[n_] - d


def row_groups_from_column(
    stack: _GridStack,
    items: list[tuple[int, list[int], tuple[np.ndarray, np.ndarray] | None]],
) -> list[tuple[list[list[list[int]]], np.ndarray]]:
    """Rows (one per text line, in v-units) grouped by vertical spacing,
    for every ``(grid index in stack, column, line bands)`` item.

    Returns (row_groups, row_vspacings) per item.  row_groups is a list
    of groups; each group is a list of ``[v_start, v_end]`` rows.
    row_vspacings mirrors the reference's per-line 0=text/1=spacing
    vector (pseg.py:443-447), indexed by text line.

    The grouping re-expresses the reference's bottom-up stateful sweep
    (pseg.py:487-570): hard split on tall spacing, compact-single-row
    split, title split, and soft split on spacing > 1.75x the running
    average, plus the text-space block rule (MIN_BLOCK_SPLIT: a blank
    line always splits, the analogue of the blur-connector, pseg.py:183).

    Line bands (optional): ``(lines, bands)``, the true pixel ink extent
    ``[y0, y1)`` of some of the grid's lines (indices below its line
    count) as a ``(k, 2)`` array, from
    a caller that has sub-char geometry (PDF y-coordinates, the
    reference-fixture transcriber).  When one of the column's content
    lines has a band, every spacing/height DECISION runs in pixel space
    with the reference's own thresholds (pseg.py:415-423): the text-space
    block rule is dropped (a blank line is just a wide gap whose true
    size is now known) and the quantized v-unit thresholds are replaced
    by the REF_*_PX constants.  Output rows stay in v-units.  Content
    lines without a band interpolate between their nearest banded
    neighbours, or extrapolate at REF_LINE_PITCH_PX per line past the
    outermost one -- a raw line_index * pitch fallback would sit in a
    different coordinate system than its neighbours' raster y's and drive
    arbitrary split/merge decisions (round-4 ADVICE).  With no banded
    content line the column runs quantized: never mix coordinate
    systems.

    One pre-pass over the stack measures every item's lines as arrays:
    content, row patterns (from per-row prefix sums of content) and the
    spacing/height tests that need no sweep state.  Only the bottom-up
    decision loop runs per column, over plain floats.
    """
    if not items:
        return []
    gi = np.array([k for k, _c, _b in items], dtype=np.int64)
    w = stack.w[gi]
    c0 = np.minimum([c[0] for _k, c, _b in items], w)
    c1 = np.maximum(c0, np.minimum([c[1] for _k, c, _b in items], w))
    h = stack.h[gi]
    off = np.zeros(len(items) + 1, dtype=np.int64)
    np.cumsum(h, out=off[1:])
    line = np.arange(off[-1]) - np.repeat(off[:-1], h)
    rows = np.repeat(stack.starts[gi], h) + line
    content = np.zeros((len(stack.m), stack.m.shape[1] + 1), dtype=np.int32)
    np.cumsum(stack.m == 0, axis=1, dtype=np.int32, out=content[:, 1:])
    ca, cb = np.repeat(c0, h), np.repeat(c1, h)
    vspacings = (content[rows, ca] == content[rows, cb]).astype(np.uint8)
    nb = np.flatnonzero(vspacings == 0)
    lo = np.searchsorted(nb, off[:-1])
    hi = np.searchsorted(nb, off[1:])
    pat = _row_patterns(content, rows[nb], ca[nb], cb[nb])
    del content

    # measurement space: quantized v-units (inclusive row ends), or true
    # pixels for a column with a banded content line
    has = np.zeros(len(line), dtype=bool)
    y0 = np.zeros(len(line))
    y1 = np.zeros(len(line))
    banded = [k for k, (_g, _c, b) in enumerate(items) if b is not None and len(b[0])]
    if banded:
        at = np.concatenate([off[k] + items[k][2][0] for k in banded])
        bands = np.concatenate([items[k][2][1] for k in banded])
        has[at] = True
        y0[at], y1[at] = bands[:, 0], bands[:, 1]
    line, has, y0, y1 = line[nb], has[nb], y0[nb], y1[nb]
    n_anchor = np.zeros(len(nb) + 1, dtype=np.int64)
    np.cumsum(has, out=n_anchor[1:])
    px = np.repeat(n_anchor[hi] > n_anchor[lo], hi - lo)
    _fill_bands(line, y0, y1, has, px & ~has,
                np.repeat(lo, hi - lo), np.repeat(hi, hi - lo))
    top = np.where(px, y0, V_UNIT * line)
    bot = np.where(px, y1 - 1.0, V_UNIT * line + LINE_H)

    def th(px_value, quantized_value):
        return np.where(px, px_value, quantized_value)

    th_single = th(REF_MIN_SINGLE_ROW_GROUP_HEIGHT_PX, MIN_SINGLE_ROW_GROUP_HEIGHT)
    height = bot - top
    # spacing[i]: from line i's bottom to line i+1's top, the gap the
    # sweep meets at line i (its column's last line has none)
    spacing, nxt_height, last_spacing = (np.zeros(len(top)) for _ in range(3))
    spacing[:-1] = top[1:] - bot[:-1]
    nxt_height[:-1] = height[1:]
    hard = (
        (spacing >= th(REF_MIN_SPACING_HARD_SPLIT_PX, MIN_SPACING_HARD_SPLIT))
        # text-space block rule (quantized mode only)
        | (~px & (spacing >= MIN_BLOCK_SPLIT))
        | ((nxt_height >= th_single)
           & (spacing > th(REF_COMPACT_MIN_SPACING_PX, 1)))
    )
    # the sweep's previous spacing and row height: 0 at the second-last
    # line, where it starts comparing
    last_spacing[:-1] = spacing[1:]
    last_height = nxt_height.copy()
    second_last = hi[hi - lo >= 2] - 2
    last_spacing[second_last] = last_height[second_last] = 0.0
    # hierarchical outer-row merge (pseg.py:508-516, ref >=5px); in
    # quantized mode gated below MIN_BLOCK_SPLIT so it never crosses a
    # blank text line (always a block boundary there); the reference has
    # no upper bound, so px mode has none
    outer = (
        (spacing >= th(REF_OUTER_MERGE_MIN_SPACING_PX, 2))
        & (px | (spacing < MIN_BLOCK_SPLIT))
        & (spacing >= last_spacing)
        & (last_height < th_single)
    )
    title = (pat != 0) & (
        ((height >= th(REF_TITLE_MIN_HEIGHT_PX, TITLE_MIN_HEIGHT))
         & (spacing >= th(REF_TITLE_MIN_SPACING_PX, TITLE_MIN_SPACING)))
        | (height <= spacing)
    )
    soft = spacing > th(REF_MIN_SPACING_SOFT_SPLIT_PX, MIN_SPACING_SOFT_SPLIT)
    small = (height < th_single).tolist()
    pat, spacing, hard, outer, title, soft, line = (
        a.tolist() for a in (pat, spacing, hard, outer, title, soft, line)
    )

    # the bottom-up sweep per column.  Rows and groups accumulate in
    # DESCENDING order with O(1) appends (cur[-1] = the line processed
    # last) and are reversed once at the end -- a front-insert would make
    # one big group O(n^2) and stall on degenerate 50k-line turns.
    out = []
    for a, b, v0, v1 in zip(
        lo.tolist(), hi.tolist(), off[:-1].tolist(), off[1:].tolist()
    ):
        if a == b:
            out.append(([], vspacings[v0:v1]))
            continue
        groups_desc: list[list[int]] = []
        cur = [b - 1]
        rows_spacings = 0.0
        row_patterns = [False, False, False, False]
        row_patterns[pat[b - 1]] = True
        for i in range(b - 2, a - 1, -1):
            p = pat[i]
            row_patterns[p] = True
            if (outer[i] and len(cur) == 1 and groups_desc
                    and small[groups_desc[-1][-1]]):
                # outer-level content row belongs to the group just
                # formed (pseg.py:508-516)
                groups_desc[-1].append(cur[0])
                rows_spacings = 0.0
                cur = [i]
                continue
            sp = spacing[i]
            if (
                hard[i]
                or (i == a and title[i])
                or (len(cur) >= 2 and (
                    (row_patterns[0] and row_patterns[1] and row_patterns[2]
                     and pat[i + 1] == 2 and p == 1)
                    or (sp > rows_spacings / (len(cur) - 1) * MIN_SPACING_MULTIPLE
                        and (soft[i] or (row_patterns[0] and row_patterns[1]
                                         and pat[i + 1] == 0 and p == 1)))
                ))
            ):
                groups_desc.append(cur)
                row_patterns = [False, False, False, False]
                rows_spacings = 0.0
                cur = [i]
            else:
                rows_spacings += sp
                cur.append(i)
        groups_desc.append(cur)
        out.append((
            [[[V_UNIT * line[j], V_UNIT * line[j] + LINE_H] for j in reversed(g)]
             for g in reversed(groups_desc)],
            vspacings[v0:v1],
        ))
    return out


# ---------------------------------------------------------------------------
# stage 3: per-row horizontal spacing profiles
# (analogue of row_hspacings_from_row_groups, pseg.py:612-704)
# ---------------------------------------------------------------------------

class Stack(NamedTuple):
    """Stages 3-4 of one stack of row groups.  ``m`` holds every member's
    hspacings profile (1=spacing 0=content): member k in rows
    ``starts[k]:starts[k] + h[k]`` and columns ``:w[k]``, right-padded
    with content and followed by one content row.  ``runs`` are m's
    spacing runs (row, start, exclusive end), row-major;
    ``first_content`` / ``last_content`` each row's first / last content
    column within its member's width; ``lines`` the
    vertical lines (``vertical_lines_from_hspacings``)."""

    m: np.ndarray
    starts: np.ndarray
    h: np.ndarray
    w: np.ndarray
    runs: tuple
    first_content: np.ndarray
    last_content: np.ndarray
    lines: tuple

    def hs(self, k: int) -> np.ndarray:
        """Member k's profile, a view of ``m``."""
        s = int(self.starts[k])
        return self.m[s: s + int(self.h[k]), : int(self.w[k])]


def row_hspacings_for_groups(
    groups: list[tuple[np.ndarray, list[int], list[list[int]]]],
) -> Stack:
    """Stages 3 and 4 for a stack of row groups at once: for each
    ``(grid, column, rows)`` in ``groups``, the rows' column crop with
    spacing runs narrower than MIN_SPACING_SPAN folded into content and
    short left-edge bullets merged rightward (pseg.py:662-698), then the
    vertical lines.  Both folds are strictly per row (the bullet merge
    reads each row's own quarter width) and no vertical run crosses a
    content row, so one pass per stack equals one pass per group
    (tests/test_grid.py::test_hspacings_batched) at a fixed numpy cost
    per stack."""
    m, starts, h, w = _stack_grids([
        grid[[r0 // V_UNIT for (r0, _r1) in rows], column[0]: column[1]]
        for grid, column, rows in groups
    ])
    row_w = np.repeat(w, h + 1)[: len(m)]
    sr, sc, ec = _fold_spacing_runs(m, row_w)
    first = np.zeros(len(m), dtype=np.int64)
    lead = sc == 0
    first[sr[lead]] = ec[lead]
    last = row_w - 1
    trail = ec == row_w[sr]
    last[sr[trail]] = sc[trail] - 1
    return Stack(m, starts, h, w, (sr, sc, ec), first, last,
                 vertical_lines_from_hspacings(m, starts))


def _stack_chunks(heights: list[int], widths: list[int]) -> list[list[int]]:
    """Group indices in width order, cut into stacks whose matrix --
    (rows + one separator between groups) x widest group -- stays within
    MAX_GRID_CELLS, so one wide turn pads only its own stack.  A lone
    group always fits: it is a crop of its turn's budgeted grid."""
    chunks: list[list[int]] = []
    n_rows = 0
    for i in sorted(range(len(heights)), key=widths.__getitem__):
        if not chunks or (
            (n_rows + len(chunks[-1]) + heights[i]) * widths[i] > MAX_GRID_CELLS
        ):
            chunks.append([])
            n_rows = 0
        chunks[-1].append(i)
        n_rows += heights[i]
    return chunks


def _ranges(first: np.ndarray, n: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """The ranges ``[first[k], first[k] + n[k])`` concatenated, and each
    range's offset in the concatenation."""
    off = np.cumsum(n) - n
    return np.repeat(first - off, n) + np.arange(int(n.sum())), off


def _spacing_runs(m: np.ndarray) -> tuple[np.ndarray, ...]:
    """Every horizontal spacing run of ``m``: (row, start, exclusive end),
    row-major."""
    n_rows, width = m.shape
    # pad both sides with 0 so every run has exactly one start (+1) and one
    # end (-1) in its row: the row-major nonzeros pair up start, end, ...
    padded = np.zeros((n_rows, width + 2), dtype=np.int8)
    padded[:, 1:-1] = m
    edges = np.flatnonzero(np.diff(padded, axis=1))
    sr, sc = np.divmod(edges[0::2], width + 1)
    return sr, sc, edges[1::2] - sr * (width + 1)


def _zero_runs(m: np.ndarray, r: np.ndarray, c0: np.ndarray, c1: np.ndarray) -> None:
    """``m[r[k], c0[k]:c1[k]] = 0`` for every k, as one scatter."""
    n = c1 - c0
    m[np.repeat(r, n), _ranges(c0, n)[0]] = 0


def _fold_spacing_runs(
    m: np.ndarray, row_width: np.ndarray | None = None
) -> tuple[np.ndarray, ...]:
    """Both hspacings folds, whole matrix at once, from one run scan:
    interior spacing runs narrower than MIN_SPACING_SPAN become content
    (leading runs -- the left margin -- are never narrowed, matching the
    reference where the crop starts inside the column), then the bullet
    merge (``_merge_bullet_runs``) runs over the runs left, which are
    exactly the runs a rescan would find.  Returns the spacing runs that
    survive both folds."""
    sr, sc, ec = _spacing_runs(m)
    narrow = (ec - sc < MIN_SPACING_SPAN) & (sc > 0)
    _zero_runs(m, sr[narrow], sc[narrow], ec[narrow])
    sr, sc, ec = sr[~narrow], sc[~narrow], ec[~narrow]
    keep = ~_merge_bullet_runs(m, sr, sc, ec, row_width)
    return sr[keep], sc[keep], ec[keep]


def _merge_bullet_runs(m, sr, sc, ec, row_width) -> np.ndarray:
    """Bullet merge (pseg.py:677-698) over the row-major spacing runs
    ``(sr, sc, ec)`` of every row of ``m`` at once; returns which runs
    were folded.  Each fold decision depends only on the run lengths of
    the UNMODIFIED row (a fold rewrites a spacing run the reference's
    sweep has already passed, so later decisions never read it), so all
    candidate runs fold together: fold a spacing run when the content
    run before it is short (0 < len <= BULLET_MAX_CONTENT, a bullet
    glyph), the run starts and ends inside the left quarter, and it is
    narrower than BULLET_MAX_MERGE.  ``row_width`` (None: the matrix
    width) is each row's own width, whose quarter bounds the merge --
    rows of a stack of groups are right-padded with content."""
    width = m.shape[1] if row_width is None else row_width[sr]
    maxi = np.maximum(width // 4, 1)
    # content-run length immediately before each spacing run: distance to
    # the previous spacing run's end in the same row (or to col 0)
    clen = sc - _previous_end(sr, ec)
    fold = (
        (clen > 0)
        & (clen <= BULLET_MAX_CONTENT)
        & (sc < maxi)
        & (ec < maxi)
        & (ec - sc < BULLET_MAX_MERGE)
    )
    _zero_runs(m, sr[fold], sc[fold], ec[fold])
    return fold


def _previous_end(sr: np.ndarray, ec: np.ndarray) -> np.ndarray:
    """End of the previous row-major run in the same row, else 0."""
    prev = np.zeros_like(ec)
    same_row = sr[1:] == sr[:-1]
    prev[1:][same_row] = ec[:-1][same_row]
    return prev


# ---------------------------------------------------------------------------
# stage 4: vertical lines (analogue of vertical_lines_from_hspacings,
# pseg.py:707-752)
# ---------------------------------------------------------------------------

def vertical_lines_from_hspacings(
    row_hspacings: np.ndarray, starts
) -> tuple[np.ndarray, ...]:
    """Maximal all-spacing vertical runs >= 2 rows tall, per group of a
    stack whose groups begin at rows ``starts`` and are separated by
    content rows (``[0]`` for one group's profile).

    Returns arrays ``(x, y_top, y_bottom, group)`` in (column-crop char,
    group-row index) space, exactly as the reference's
    ((x, y_top), (x, y_bottom)), grouped by group and in the reference's
    order within each.
    """
    n_rows, width = row_hspacings.shape
    # vectorized run-length per column: pad each column with 0s and diff
    # along the row axis of the transposed matrix; in each padded column
    # run starts (+1) and ends (-1) alternate, so the row-major nonzeros
    # pair up as start, end, start, end
    t = np.zeros((width, n_rows + 2), dtype=np.int8)
    t[:, 1:-1] = row_hspacings.T
    edges = np.flatnonzero(np.diff(t, axis=1))
    sx, sy = np.divmod(edges[0::2], n_rows + 1)  # column x, y_top
    ey = edges[1::2] - sx * (n_rows + 1)         # y_bottom + 1
    keep = (ey - sy) >= 2          # height >= 2 rows
    starts = np.asarray(starts, dtype=np.int64)
    g = np.searchsorted(starts, sy[keep], side="right") - 1
    x = sx[keep]
    y0 = sy[keep] - starts[g]
    y1 = ey[keep] - 1 - starts[g]
    # per group, sort tall-to-short weighted by top position
    # (pseg.py:749-751), ties in the per-group (x, y_top) scan order
    order = np.lexsort((y0, x, (y0 - y1) * y0, g))
    return x[order], y0[order], y1[order], g[order]


# ---------------------------------------------------------------------------
# stage 5: tablevspan chain (analogue of class tablevspan, pseg.py:785-1185)
#
# Each step runs once per stack, over every row group in it.  Rectangles
# are parallel arrays (``Rects``) grouped by stack member; the row tests
# read the stack's per-row content extents and spacing runs, so no step
# slices a group's profile.
# ---------------------------------------------------------------------------

Rect = tuple[tuple[int, int], tuple[int, int]]


class Rects(NamedTuple):
    """Rectangles of a stack's row groups as parallel arrays: member
    ``g`` of the stack, x in column-crop chars, y in group rows
    (inclusive), the reference's ((x0, y0), (x1, y1)).  Grouped by g, in
    each group's chain order."""

    g: np.ndarray
    x0: np.ndarray
    y0: np.ndarray
    x1: np.ndarray
    y1: np.ndarray

    def take(self, sel) -> Rects:
        return Rects(*(a[sel] for a in self))


def _group_firsts(g: np.ndarray) -> np.ndarray:
    """Index of each group's first entry in a grouped array."""
    return np.flatnonzero(np.r_[True, g[1:] != g[:-1]]) if len(g) else g


def group_adjacent_lines(lines: tuple) -> Rects:
    """Adjacent same-height lines -> rectangles (pseg.py:795-815).  Lines
    of one height and top share a sort key in stage-4 order, where they
    are x-ascending, so a rectangle is a run of lines with the same
    group, top and bottom at consecutive x (the reference's "one left of
    the rectangle" case cannot occur)."""
    x, y0, y1, g = lines
    new = np.ones(len(x), dtype=bool)
    new[1:] = ((g[1:] != g[:-1]) | (y0[1:] != y0[:-1])
               | (y1[1:] != y1[:-1]) | (x[1:] != x[:-1] + 1))
    ends = np.ones(len(x), dtype=bool)
    ends[:-1] = new[1:]
    first, last = np.flatnonzero(new), np.flatnonzero(ends)
    return Rects(g[first], x[first], y0[first], x[last], y1[first])


def remove_smaller_adjacent_rectangles(rects: Rects) -> Rects:
    """Drop rects horizontally touching a taller-or-equal neighbour
    (pseg.py:817-844).

    A touching pair shares an x-boundary (left.x1 + 1 == right.x0) and
    overlaps in y, so one member's top lies inside the other's span.  Two
    range searches over rects keyed by (group, boundary, top) find both
    kinds of pair.  Rects that share a boundary column each hold their
    own vertical run of it, so they are disjoint in y and a top lies in
    at most one partner's span: the pairs number O(rects) however many
    rects a group has."""
    g, x0, y0, x1, y1 = rects
    if len(g) < 2:
        return rects
    span = int(y1.max()) + 2
    as_left = (g * (int(x1.max()) + 3) + x1 + 1) * span   # boundary x1 + 1
    as_right = (g * (int(x1.max()) + 3) + x0) * span      # boundary x0
    lo = np.argsort(as_left + y0, kind="stable")
    ro = np.argsort(as_right + y0, kind="stable")
    kl, kr = (as_left + y0)[lo], (as_right + y0)[ro]
    # lefts whose top lies in [top, bottom) of a right ...
    q, p = _pairs(np.searchsorted(kl, as_right + y0),
                  np.searchsorted(kl, as_right + y1))
    left, right = [lo[p]], [q]
    # ... and rights whose top lies in (top, bottom) of a left
    q, p = _pairs(np.searchsorted(kr, as_left + y0, side="right"),
                  np.searchsorted(kr, as_left + y1))
    left.append(q)
    right.append(ro[p])
    left, right = np.concatenate(left), np.concatenate(right)
    hl, hr = y1[left] - y0[left], y1[right] - y0[right]
    touch = np.minimum(y1[left], y1[right]) - np.maximum(y0[left], y0[right]) > 0
    dead = np.zeros(len(g), dtype=bool)
    dead[right[touch & (hr <= hl)]] = True
    dead[left[touch & (hl <= hr)]] = True
    return rects.take(~dead)


def _pairs(lo: np.ndarray, hi: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """(query, position) for every position in ``[lo[q], hi[q])``."""
    n = np.maximum(hi - lo, 0)
    return np.repeat(np.arange(len(lo)), n), _ranges(lo, n)[0]


def remove_edge_rectangles(rects: Rects, stack: Stack) -> Rects:
    """Drop rects hugging the column edges, 1-char-wide rects, and rects
    whose entire left/right side is blank (pseg.py:846-878); the rest in
    x0 order per group.  The left side ``[0, x0]`` is blank when every
    row of the rect has its first content column right of x0, the right
    side ``[x1, width)`` when every row has its last one left of x1."""
    g, x0, y0, x1, y1 = rects
    rects = rects.take(np.flatnonzero(
        (x0 != 0) & (x1 != stack.w[g] - 1) & (x1 - x0 >= 1)
    ))
    rects = rects.take(np.lexsort((rects.x0, rects.g)))
    if not len(rects.g):
        return rects
    rows, off = _ranges(stack.starts[rects.g] + rects.y0, rects.y1 - rects.y0 + 1)
    blank = (
        (np.minimum.reduceat(stack.first_content[rows], off) > rects.x0)
        | (np.maximum.reduceat(stack.last_content[rows], off) < rects.x1)
    )
    return rects.take(~blank)


def is_first_rectangle_column_valid(rects: Rects, stack: Stack) -> np.ndarray:
    """Per group of ``rects``: is its first rect a valid first table
    column (pseg.py:880-927)?  It (or else the second rect) must be >=60%
    filled -- rows with content left of it -- and it must not be
    anomalously short against the rects after it."""
    g, x0, y0, x1, y1 = rects
    first = _group_firsts(g)
    count = np.diff(np.append(first, len(g)))
    two = count > 1
    h = y1 - y0
    # filled rows of each group's first and second rect
    head = rects.take(np.concatenate([first, first[two] + 1]))
    rows, off = _ranges(stack.starts[head.g] + head.y0, head.y1 - head.y0 + 1)
    filled = np.add.reduceat(
        stack.first_content[rows] < np.repeat(head.x0, head.y1 - head.y0 + 1), off,
        dtype=np.int64,
    )
    height = 0.6 * (h[first] + 1)
    filled2 = np.zeros(len(first), dtype=np.int64)
    filled2[two] = filled[len(first):]
    height2 = height.copy()
    height2[two] = 0.6 * (h[first[two] + 1] + 1)
    valid = ~((filled[: len(first)] < height) & (filled2 < height2))
    # against the rects after it: median and max height, shared bottom
    rest = np.ones(len(g), dtype=bool)
    rest[first] = False
    by_height = h[rest][np.lexsort((h[rest], g[rest]))]
    n = count[two] - 1
    at = (np.cumsum(count - 1) - (count - 1))[two]
    median = (by_height[at + (n - 1) // 2] + by_height[at + n // 2]) / 2
    tallest = by_height[at + n - 1]
    top = first[two]
    key = int(y1.max()) + 1
    shared = np.isin(g[top] * key + y1[top], g[rest] * key + y1[rest])
    h0 = h[top]
    valid[two] &= ~(
        (h0 < median) & (h0 < tallest / 2) & (~shared | (h0 < 3))
    )
    return valid


def remove_busy_column_rectangles(rects: Rects, stack: Stack) -> Rects:
    """Kill a group's table if the two leftmost regions are prose-busy
    (pseg.py:929-974): left of its first rect, and from the first rect
    to the second (or the column edge).  A row is busy in a region when
    a content run -- a gap between the stack's spacing runs -- clipped
    to the region is at least BUSY_COLUMN_CONTENT_RUN_LENGTH long."""
    if not len(rects.g):
        return rects
    first = _group_firsts(rects.g)
    count = np.diff(np.append(first, len(rects.g)))
    grp = rects.g[first]
    # the two regions per group: [0, hi1) and [lo2, hi2)
    hi1 = rects.x0[first]
    lo2 = rects.x1[first]
    hi2 = np.where(count > 1, rects.x0[np.minimum(first + 1, len(rects.g) - 1)],
                   stack.w[grp])
    rows, off = _ranges(stack.starts[grp], stack.h[grp])
    member = np.repeat(np.arange(len(grp)), stack.h[grp])
    at = np.full(len(stack.m), -1)
    at[rows] = np.arange(len(rows))
    # content runs of those rows: before each spacing run, and after the
    # last one (or the whole row) up to the row's width
    sr, sc, ec = stack.runs
    mine = at[sr] >= 0
    sr, sc, ec = sr[mine], sc[mine], ec[mine]
    tail = np.zeros(len(rows), dtype=np.int64)
    np.maximum.at(tail, at[sr], ec)
    pos = np.concatenate([at[sr], np.arange(len(rows))])
    start = np.concatenate([_previous_end(sr, ec), tail])
    end = np.concatenate([sc, stack.w[grp][member]])
    k = member[pos]
    counts = []
    for lo, hi in ((0, hi1[k]), (lo2[k], hi2[k])):
        longest = np.zeros(len(rows), dtype=np.int64)
        np.maximum.at(longest, pos, np.minimum(end, hi) - np.maximum(start, lo))
        counts.append((
            np.add.reduceat(longest >= BUSY_COLUMN_CONTENT_RUN_LENGTH, off,
                            dtype=np.int64),
            np.add.reduceat(longest > 0, off, dtype=np.int64),
        ))
    (b1, a1), (b2, a2) = counts
    busy = ((b1 >= BUSY_COLUMN_ROW_COUNT) & (b2 >= BUSY_COLUMN_ROW_COUNT)) | (
        (b1 >= a1 - 1) & (b2 >= a2 - 1) & (a1 >= 2) & (a2 >= 2)
    )
    return rects.take(~np.repeat(busy, count))


def build_table(
    column: list[int],
    rows: list[list[int]],
    rects: list[Rect],
) -> tuple[set, set]:
    """Rects -> table row/col separator lines in (v, char) page coordinates
    (pseg.py:976-1042).  Lines are 4-tuples (y, x0, y, x1) for rows and
    (y0, x, y1, x) for cols, matching the reference's skimage.draw.line
    argument order."""
    table_rows: set = set()
    for (x0, y0), (x1, y1) in rects:
        for i in range(y0, y1):
            row_y = (rows[i][1] + rows[i + 1][0]) // 2
            table_rows.add((row_y, column[0], row_y, column[1] - 1))
    # multiple tables in one group: shared tops/bottoms add rows
    # (pseg.py:1001-1023)
    rect_tops: dict[int, int] = {}
    rect_bottoms: dict[int, int] = {}
    for (x0, y0), (x1, y1) in rects:
        if y0 == 0 or rows[y1][1] >= rows[-1][1]:
            continue
        rect_tops[y0] = rect_tops.get(y0, 0) + 1
        rect_bottoms[y1] = rect_bottoms.get(y1, 0) + 1
    for i, count in rect_tops.items():
        if count >= 2 and i > 0:
            row_y = (rows[i][0] + rows[i - 1][1]) // 2
            table_rows.add((row_y, column[0], row_y, column[1] - 1))
    for i, count in rect_bottoms.items():
        if count >= 2 and i < len(rows) - 1:
            row_y = (rows[i][1] + rows[i + 1][0]) // 2
            table_rows.add((row_y, column[0], row_y, column[1] - 1))

    table_cols: set = set()
    for (x0, y0), (x1, y1) in rects:
        if y0 > 0:
            col_y_start = (rows[y0][0] + rows[y0 - 1][1]) // 2
        else:
            col_y_start = rows[y0][0]
        if y1 < len(rows) - 1:
            col_y_end = (rows[y1][1] + rows[y1 + 1][0]) // 2
        else:
            col_y_end = rows[y1][1]
        col_x = column[0] + x0 + (x1 - x0) // 2
        table_cols.add((col_y_start, col_x, col_y_end, col_x))
    return table_rows, table_cols


def find_intersections(
    columns: list, rows: list, table_cols: list, table_rows: list
) -> list[tuple[list, set, set]]:
    """Separator intersections of every table at once (pseg.py:1044-1126):
    table t's raster spans its group (``rows[t]``) by its column
    (``columns[t]``), with a 0 on every separator line; intersections
    are its four corner points (top and bottom of the column
    separators), the [1, 0, 1] hits along its four borders and the
    cross or T hits at known row x column separators (the reference's
    optimized lookup, pseg.py:1106-1119).

    No raster is drawn: a pixel is 0 when its row is a row separator
    (``build_table`` draws each across the whole column) or a column
    separator at its x spans it, which one search over the column
    separators sorted by (table, x, top) answers.  Cross and T hits need
    a column separator just above or below a row separator, so only
    those (row, x) pairs are tested."""
    n = len(columns)
    if not n:
        return []
    H = np.array([r[-1][1] - r[0][0] + 1 for r in rows], dtype=np.int64)
    W = np.array([c[1] - c[0] for c in columns], dtype=np.int64)
    top = [int(r[0][0]) for r in rows]
    left = [int(c[0]) for c in columns]
    h_at = np.zeros(n + 1, dtype=np.int64)
    np.cumsum(H, out=h_at[1:])
    w_at = np.zeros(n + 1, dtype=np.int64)
    np.cumsum(W, out=w_at[1:])
    # row separators, as rows of a stack of the tables' rows
    row_at = np.sort(np.array(
        [h_at[t] + int(ln[0]) - top[t] for t, lines in enumerate(table_rows)
         for ln in lines], dtype=np.int64))
    on_row = np.zeros(int(h_at[-1]), dtype=bool)
    on_row[row_at] = True
    # column separators: table, top, x, bottom
    ct = np.repeat(np.arange(n), [len(cols) for cols in table_cols])
    ys, cx, ye = np.array(
        [(int(c[0]) - top[t], int(c[1]) - left[t], int(c[2]) - top[t])
         for t, cols in enumerate(table_cols) for c in cols], dtype=np.int64,
    ).reshape(-1, 3).T
    pitch = int(H.max()) + 1
    at_x = w_at[ct] + cx
    order = np.lexsort((ys, at_x))
    at_x, ys_s, ye_s = at_x[order], ys[order], ye[order]
    keys = at_x * pitch + ys_s
    reach = np.maximum.accumulate(at_x * pitch + ye_s) - at_x * pitch

    def zero(t, r, c):
        q = w_at[t] + c
        i = np.searchsorted(keys, q * pitch + r, side="right") - 1
        j = np.maximum(i, 0)
        return on_row[h_at[t] + r] | ((i >= 0) & (at_x[j] == q) & (reach[j] >= r))

    def column_border(x):
        """Zero pixels down column ``x[t]`` of every table, stacked."""
        on = cx == x[ct]
        d = np.zeros(len(on_row) + 1, dtype=np.int32)
        np.add.at(d, h_at[ct[on]] + ys[on], 1)
        np.add.at(d, h_at[ct[on]] + ye[on] + 1, -1)
        return on_row | (np.cumsum(d[:-1], dtype=np.int32) > 0)

    def row_border(y):
        """Zero pixels along row ``y[t]`` of every table, stacked."""
        z = np.repeat(on_row[h_at[:-1] + y], W)
        on = (ys <= y[ct]) & (ye >= y[ct])
        z[w_at[ct[on]] + cx[on]] = True
        return z

    def isolated(z, at):
        """(table, position) of every [1, 0, 1] in ``z``, whose tables
        start at ``at``, off each table's ends."""
        hit = np.zeros(len(z), dtype=bool)
        hit[1:-1] = z[1:-1] & ~z[:-2] & ~z[2:]
        hit[at[:-1]] = hit[at[1:] - 1] = False
        p = np.flatnonzero(hit)
        t = np.searchsorted(at, p, side="right") - 1
        return t, p - at[t]

    # border hits (pseg.py:1064-1093)
    none = np.zeros(n, dtype=np.int64)
    lt, lr = isolated(column_border(none), h_at)
    rt, rr = isolated(column_border(W - 1), h_at)
    tt, tc = isolated(row_border(none), w_at)
    bt, bc = isolated(row_border(H - 1), w_at)
    # cross / T hits: rows within a column separator's reach, inside
    q, p = _pairs(
        np.searchsorted(row_at, h_at[ct] + np.maximum(ys - 1, 1)),
        np.searchsorted(row_at, h_at[ct] + np.minimum(ye + 1, H[ct] - 2), side="right"),
    )
    inside = (cx[q] >= 1) & (cx[q] <= W[ct[q]] - 2)
    q, p = q[inside], p[inside]
    span = int(W.max()) + 1
    row, ic = np.divmod(np.unique(row_at[p] * span + cx[q]), span)
    it = np.searchsorted(h_at, row, side="right") - 1
    ir = row - h_at[it]
    # the 3x3 window's rows above and below (its middle row is the row
    # separator): blank corners, and not blank both above and below
    (a0, above, a2), (b0, below, b2) = ~zero(
        it, ir + np.array([[[-1]], [[1]]]), ic + np.array([[-1], [0], [1]])
    )
    hit = a0 & a2 & b0 & b2 & ~(above & below)
    # T kinds: 1 = down (blank above), 2 = up (blank below), 0 = cross
    kind = ((above & ~below) + 2 * (~above & below))[hit].tolist()
    it, ir, ic = it[hit], ir[hit], ic[hit]
    # corners: top and bottom of the column separators (every table has
    # one per rect)
    by_table = np.flatnonzero(np.r_[True, ct[1:] != ct[:-1]])
    first_row = np.minimum.reduceat(ys, by_table)
    last_row = np.maximum.reduceat(ye, by_table)
    et = np.concatenate([np.repeat(np.arange(n), 4), lt, rt, tt, bt, it])
    er = np.concatenate([
        np.stack([first_row, first_row, last_row, last_row], 1).ravel(),
        lr, rr, np.zeros_like(tt), H[bt] - 1, ir,
    ])
    ec = np.concatenate([
        np.stack([none, W - 1, none, W - 1], 1).ravel(),
        np.zeros_like(lt), W[rt] - 1, tc, bc, ic,
    ])
    # per table in the reference's order: key row * 100000 + col, ties
    # stable over corners, borders, then row-major cross/T hits
    order = np.lexsort((np.arange(len(et)), er * 100000 + ec, et))
    et, er, ec = et[order], er[order].tolist(), ec[order].tolist()
    bounds = np.searchsorted(et, np.arange(n + 1)).tolist()
    tees = np.searchsorted(it, np.arange(n + 1)).tolist()
    ir, ic = ir.tolist(), ic.tolist()
    out = []
    for t in range(n):
        a, b = bounds[t], bounds[t + 1]
        sets: tuple[set, set, set] = (set(), set(), set())  # cross, down, up
        for k in range(tees[t], tees[t + 1]):
            sets[kind[k]].add((ir[k], ic[k]))
        out.append(([] if b - a == 4 else list(zip(er[a:b], ec[a:b])),
                    sets[2], sets[1]))
    return out


def find_cells(intersections: list, ups: set, downs: set) -> list:
    """Pair top-left / bottom-right corners into cells with row/col spans
    (pseg.py:1128-1185)."""
    inter_set = set(intersections)
    # per column, the list positions of its intersections (ascending): the
    # next intersection in a column at or after a position is one bisect
    by_col: dict = {}
    for i, (_row, col) in enumerate(intersections):
        by_col.setdefault(col, []).append(i)
    cells = []
    for idx, (row, col) in enumerate(intersections):
        if (row, col) in ups:
            continue
        if idx >= len(intersections) - 1:
            continue
        in_col = by_col[col]
        col_span = 0
        row_span = 0
        next_col = None
        next_row = None
        while True:
            try:
                next_col = intersections[idx + 1 + col_span][1]
            except IndexError:
                next_col = None
                next_row = None
                break
            k = bisect.bisect_left(in_col, idx + 1 + row_span)
            next_row = intersections[in_col[k]][0] if k < len(in_col) else None
            if (next_row, next_col) in downs:
                col_span += 1
                continue
            if (next_row, next_col) not in inter_set:
                col_span += 1
                continue
            if next_col == col:
                col_span += 1
                continue
            if next_row == row:
                row_span += 1
                continue
            break
        if next_row is not None and next_row > row and next_col > col:
            cells.append((row, col, next_row, next_col))
    # row-major like the reference (pseg.py:1184) but with the full tuple
    # as tie-break so duplicate-start cells order deterministically
    cells = sorted(set(cells))
    return cells


def _stack_tables(stack: Stack, groups: list[tuple]) -> dict[int, tuple]:
    """Stage 5 over one stack whose members are ``groups`` (grid, column,
    rows): member index -> (rects, (table_rows, table_cols), (inters,
    ups, downs, cells)) for every member that yields a table.  Each step
    runs once over every group of the stack; ``build_table`` and
    ``find_cells`` run per table."""
    rects = group_adjacent_lines(stack.lines)
    rects = remove_smaller_adjacent_rectangles(rects)
    rects = remove_edge_rectangles(rects, stack)
    # drop leading rects until the first column is valid (pseg.py:880)
    while len(rects.g):
        valid = is_first_rectangle_column_valid(rects, stack)
        if valid.all():
            break
        keep = np.ones(len(rects.g), dtype=bool)
        keep[_group_firsts(rects.g)[~valid]] = False
        rects = rects.take(keep)
    rects = remove_busy_column_rectangles(rects, stack)
    first = _group_firsts(rects.g)
    bounds = np.append(first, len(rects.g)).tolist()
    x0, y0, x1, y1 = (a.tolist() for a in rects[1:])
    tables = []
    for k, a, b in zip(rects.g[first].tolist(), bounds, bounds[1:]):
        _grid, column, rows = groups[k]
        rl = list(zip(zip(x0[a:b], y0[a:b]), zip(x1[a:b], y1[a:b])))
        tables.append((k, rl, build_table(column, rows, rl)))
    found = find_intersections(
        [groups[k][1] for k, _rl, _bt in tables],
        [groups[k][2] for k, _rl, _bt in tables],
        [bt[1] for _k, _rl, bt in tables],
        [bt[0] for _k, _rl, bt in tables],
    )
    return {
        k: (rl, bt, (inters, ups, downs, find_cells(inters, ups, downs)))
        for (k, rl, bt), (inters, ups, downs) in zip(tables, found)
    }


# ---------------------------------------------------------------------------
# stage 6: text blocks (analogue of text_boxes_from_image, pseg.py:755-782)
# ---------------------------------------------------------------------------

def group_bboxes(
    grid: np.ndarray,
    columns: list[list[int]],
    column_row_groups: dict[int, list[list[list[int]]]],
) -> dict[tuple[int, int], tuple[int, int, int, int]]:
    """Content-tight bounding box per (column, row-group).

    The reference finds contours of the blur-connected ink
    (pseg.py:755-782); on a char grid the blur connects exactly the
    adjacent lines of a row group, so the group's content bbox is the
    contour bbox.  Boxes are (ymin, xmin, ymax, xmax) in (v, char) space.
    Used both for text boxes and for table segment boxes (deviation from
    aggr.py:125, which uses the column/group extent: content-tight is
    strictly more precise and preserves the reading-order sort).
    """
    boxes: dict[tuple[int, int], tuple[int, int, int, int]] = {}
    for col_idx, column in enumerate(columns):
        # bbox region extends into the neighbouring spacings (up to the
        # adjacent columns) so content-tight boxes keep the rare long-line
        # overflow chars that the 95% column rule assigns to the margin
        # neighbouring-column boundary = spacing midpoint, so one column's
        # overflow is never attributed to the other
        left = (
            (columns[col_idx - 1][1] + column[0]) // 2 if col_idx > 0 else 0
        )
        right = (
            (column[1] + columns[col_idx + 1][0] + 1) // 2
            if col_idx + 1 < len(columns)
            else grid.shape[1]
        )
        crop = grid[:, left:right]
        for grp_idx, group in enumerate(column_row_groups.get(col_idx, [])):
            l0 = group[0][0] // V_UNIT
            l1 = group[-1][0] // V_UNIT
            sub = crop[l0: l1 + 1]
            content_cols = np.where((sub == 0).any(axis=0))[0]
            if len(content_cols) == 0:
                continue
            xmin = left + int(content_cols[0])
            xmax = left + int(content_cols[-1]) + 1
            boxes[(col_idx, grp_idx)] = (group[0][0], xmin, group[-1][1], xmax)
    return boxes


# ---------------------------------------------------------------------------
# full per-turn parse (analogue of pseg.parse, pseg.py:17-111)
# ---------------------------------------------------------------------------

def _line_bands(lines, n_lines: int) -> tuple[np.ndarray, np.ndarray]:
    """A geometry region's line bands as ``(lines, bands)`` arrays, kept
    to lines ``0..n_lines-1``.  ``lines`` is ``{line: [y0_px, y1_px]}``
    (keys may arrive as strings from JSON manifests; a None band is no
    band) or already ``(lines, (k, 2) bands)``."""
    if isinstance(lines, dict):
        bands = {int(k): v for k, v in lines.items()}
        bands = {k: v for k, v in bands.items() if v is not None}
        idx = np.array(list(bands), dtype=np.int64)
        y = np.array([[v[0], v[1]] for v in bands.values()], dtype=np.float64)
        lines = idx, y.reshape(-1, 2)
    idx, y = lines
    keep = (idx >= 0) & (idx < n_lines)
    return idx[keep], y[keep]


def _line_px_for_column(column: list[int], regions: list | None):
    """The line bands of the geometry region ``(x0, x1, bands)`` with
    max char-range overlap for a detected column, or None."""
    best, besto = None, 0
    for x0, x1, bands in regions or ():
        o = min(column[1], x1) - max(column[0], x0)
        if o > besto:
            best, besto = bands, o
    return best


def parse_grid(
    grid: np.ndarray,
    line_geometry: list[dict] | None = None,
    hough_px: dict | None = None,
) -> dict:
    """``parse_grids`` on a batch of one grid."""
    return parse_grids([grid], [line_geometry], [hough_px])[0]


def parse_grids(
    grids: list[np.ndarray],
    line_geometries: list | None = None,
    hough_pxs: list | None = None,
) -> list[dict]:
    """Run the full stage chain on a batch of occupancy grids, one result
    dict per grid.  Columns and row groups (stages 1-2,
    ``columns_from_grid`` and ``row_groups_from_column``) run once per
    stack of grids; the hspacings folds and vertical lines (stages 3-4,
    ``row_hspacings_for_groups``) and the rectangle chain with the
    intersection search (stage 5, ``_stack_tables``) run once per stack of
    row groups -- every row group of the batch.  Both kinds of stack are
    cut by cells (``_stack_chunks``).  Group boxes (stage 6) run per grid,
    ``build_table`` and ``find_cells`` per table.

    Per grid, ``line_geometries`` / ``hough_pxs`` (optional): true
    sub-char geometry from a caller that has it (PDF coordinates, the
    reference-fixture transcriber).  A line geometry is a list of regions
    ``{"x0": char, "x1": char, "lines": bands}``, bands being
    ``{line: [y0_px, y1_px]}`` (keys may be strings, from JSON) or
    pdfmini's ``(line indices, (k, 2) bands)`` arrays; they are turned
    into arrays here, once.  Each detected column uses the region with
    max x-overlap for the reference-threshold pixel sweep (see
    row_groups_from_column).  hough_px feeds the pixel-space column stage
    (see columns_from_grid).  Both default to None = pure text-space
    quantized behavior."""
    n = len(grids)
    line_geometries = line_geometries or [None] * n
    hough_pxs = hough_pxs or [None] * n
    # stages 1-2 once per stack of grids, cut like the row-group stacks
    layout: list = [None] * n  # (columns, spacings, per column (groups, vspacings))
    for chunk in _stack_chunks([g.shape[0] for g in grids],
                               [g.shape[1] for g in grids]):
        stack = _stack_grids([grids[i] for i in chunk])
        found = columns_from_grid(stack, [hough_pxs[i] for i in chunk])
        items = []
        for k, i in enumerate(chunk):
            regions = [
                (r["x0"], r["x1"], _line_bands(r["lines"], grids[i].shape[0]))
                for r in line_geometries[i] or ()
            ]
            items += [(k, column, _line_px_for_column(column, regions))
                      for column in found[k][0]]
        grouped = iter(row_groups_from_column(stack, items))
        for k, i in enumerate(chunk):
            layout[i] = (*found[k], [next(grouped) for _ in found[k][0]])

    out: list[dict] = []
    groups: list[tuple] = []  # (grid, column, rows) of every row group
    where: list[tuple] = []   # (result, col_idx, grp_idx) of each
    for grid, (columns, spacings, col_rows) in zip(grids, layout):
        res: dict = {"columns": columns, "spacings": spacings,
                     "column_row_groups": {}, "column_row_vspacings": {}}
        for key in ("column_row_grp_row_spacings",
                    "column_row_grp_build_table", "column_row_grp_cells"):
            res[key] = {i: {} for i in range(len(columns))}
        for col_idx, (column, (col_groups, vspac)) in enumerate(zip(columns, col_rows)):
            res["column_row_groups"][col_idx] = col_groups
            res["column_row_vspacings"][col_idx] = vspac
            for grp_idx, rows in enumerate(col_groups):
                groups.append((grid, column, rows))
                where.append((res, col_idx, grp_idx))
        res["height"] = grid.shape[0] * V_UNIT
        res["width"] = grid.shape[1]
        out.append(res)

    profiles: list = [None] * len(groups)
    tables: dict[int, tuple] = {}
    for chunk in _stack_chunks(
        [len(rows) for _grid, _column, rows in groups],
        [grid[:, column[0]: column[1]].shape[1] for grid, column, _rows in groups],
    ):
        members = [groups[i] for i in chunk]
        stack = row_hspacings_for_groups(members)
        for k, i in enumerate(chunk):
            profiles[i] = stack.hs(k)
        for k, found in _stack_tables(stack, members).items():
            tables[chunk[k]] = found
    for i, (res, col_idx, grp_idx) in enumerate(where):
        if profiles[i].size:
            res["column_row_grp_row_spacings"][col_idx][grp_idx] = profiles[i]
        if i in tables:
            _rects, table, cells = tables[i]
            res["column_row_grp_build_table"][col_idx][grp_idx] = table
            res["column_row_grp_cells"][col_idx][grp_idx] = cells

    for grid, res in zip(grids, out):
        bboxes = group_bboxes(grid, res["columns"], res["column_row_groups"])
        res["group_bboxes"] = bboxes
        # a text box per group; groups that produced a table are consumed by
        # the used-token semi-join downstream and yield no text segment
        res["text_boxes"] = [bboxes[key] for key in sorted(bboxes)]
    return out
