"""Stages 1-2 as the kernel runs them, once per stack of grids
(``grid.columns_from_grid``, ``grid.row_groups_from_column``), against
the per-grid column scan and the per-column sweep they replaced, kept
here as references: on the synth goldens, on the 30 reference fixtures
with their pixel geometry and Hough verdicts, and on synthetic geometry
that reaches every branch of the band fill."""

import bisect
import json
import os
import random

import numpy as np

from crrf_det_spark import grid as G
from crrf_det_spark import synth
from crrf_det_spark.pdfmini import make_pdf, pdf_text_lines_geometry

FIXTURE_DIR = os.path.join(os.path.dirname(__file__), "fixtures", "reference")


def _reference_columns(
    grid: np.ndarray, hough_px: dict | None = None
) -> tuple[list[list[int]], list[list[int]]]:
    """The per-grid column scan the stacked ``columns_from_grid``
    replaced (hough_px: the unchanged pixel-space path)."""
    if hough_px is not None:
        return G._columns_from_hough_px(hough_px)
    n_lines, width = grid.shape
    # longest contiguous blank run per char column, fully vectorized (the
    # kernel runs per turn inside Arrow batches — a python loop over lines
    # would cost ~n_lines iterations per turn at corpus scale): with
    # s = cumsum(blank) down each column, the blank-run length ending at
    # line l is s[l] - s[last zero at or before l]; that last-zero value
    # is the running max of s masked to content lines (s is nondecreasing),
    # so three whole-grid ops give every run length at once.
    s = np.cumsum(grid, axis=0, dtype=np.int32)
    at_content = np.where(grid == 0, s, 0)
    last_zero = np.maximum.accumulate(at_content, axis=0)
    best = (s - last_zero).max(axis=0)
    is_space_col = best >= G.COLUMN_BLANK_FRACTION * n_lines

    # run-length the qualifying columns into spacings (pseg.py:244-259)
    spacings: list[list[int]] = []
    columns: list[list[int]] = []
    x = 0
    while x < width:
        if is_space_col[x]:
            x0 = x
            while x < width and is_space_col[x]:
                x += 1
            spacings.append([x0, x])
        else:
            x0 = x
            while x < width and not is_space_col[x]:
                x += 1
            columns.append([x0, x])

    # guarantee sentinel edge margins so downstream heuristics that
    # reference spacings[0]/spacings[-1] (page margins, always present in
    # the reference thanks to the 3.5% side clearing) stay well-defined.
    if not spacings or spacings[0][0] != 0:
        spacings.insert(0, [0, 0])
    if spacings[-1][1] != width:
        spacings.append([width, width])

    return G._column_heuristics(
        columns, spacings, width, G.MIN_COLUMN_SPACING, G.MIN_COLUMN_WIDTH
    )


def _reference_row_patterns(crop: np.ndarray) -> np.ndarray:
    """The per-crop row patterns the prefix-sum ``_row_patterns``
    replaced."""
    n_lines, w = crop.shape
    half = w // 2
    quar = half // 2
    pat = np.zeros(n_lines, dtype=np.int8)
    if half:
        if quar:
            pat[
                crop[:, :quar].all(axis=1) & crop[:, w - quar:].all(axis=1)
            ] = 3
        pat[crop[:, w - half:].all(axis=1)] = 1
        pat[crop[:, :half].all(axis=1)] = 2
    return pat


def _reference_row_groups(
    grid: np.ndarray,
    column: list[int],
    line_px: dict[int, tuple[float, float]] | None = None,
) -> tuple[list[list[list[int]]], np.ndarray]:
    """The per-column sweep the batched ``row_groups_from_column``
    replaced; ``line_px`` is ``{line: (y0, y1)}``."""
    crop = grid[:, column[0]: column[1]]
    n_lines = crop.shape[0]
    line_blank = crop.all(axis=1)
    row_vspacings = line_blank.astype(np.uint8)

    pat = _reference_row_patterns(crop)
    nonblank = np.nonzero(~line_blank)[0]
    all_rows: list[list[int]] = [[G.V_UNIT * i, G.V_UNIT * i + G.LINE_H] for i in nonblank]
    all_patterns: list[int] = [int(p) for p in pat[nonblank]]
    if not all_rows:
        return [], row_vspacings

    # px mode needs at least one TRUE band among this column's content
    # lines: with zero anchors every band would be synthetic and the px
    # thresholds meaningless — fall back to quantized mode instead
    # (round-4 ADVICE: never mix coordinate systems).
    anchors = (
        [int(i) for i in nonblank if line_px.get(int(i)) is not None]
        if line_px is not None else []
    )
    if not anchors:
        # quantized v-unit measurement space (inclusive row ends)
        meas = all_rows
        th_hard = G.MIN_SPACING_HARD_SPLIT
        th_soft = G.MIN_SPACING_SOFT_SPLIT
        th_single = G.MIN_SINGLE_ROW_GROUP_HEIGHT
        th_title_sp = G.TITLE_MIN_SPACING
        th_title_h = G.TITLE_MIN_HEIGHT
        th_outer_lo, th_outer_hi = 2, G.MIN_BLOCK_SPLIT
        th_compact = 1
        th_block = G.MIN_BLOCK_SPLIT
    else:
        # true pixel measurement space, reference thresholds verbatim.
        # [y0, y1) half-open extents convert to the reference's inclusive
        # row convention (rows[i] = [first_ink_row, last_ink_row]).
        # Lines WITHOUT true geometry (pdfmini emits meta=None when ty is
        # unknown) interpolate between their nearest true-geometry
        # neighbors — a raw line_index * pitch fallback would sit in a
        # different coordinate system than its neighbors' raster y's and
        # drive arbitrary split/merge decisions (round-4 ADVICE).
        meas = []
        for i in nonblank:
            ii = int(i)
            ext = line_px.get(ii)
            if ext is None:
                at = bisect.bisect_left(anchors, ii)
                p = anchors[at - 1] if at > 0 else None
                n = anchors[at] if at < len(anchors) else None
                if p is not None and n is not None:
                    t = (ii - p) / (n - p)
                    pe, ne = line_px[p], line_px[n]
                    ext = [
                        pe[0] + t * (ne[0] - pe[0]),
                        pe[1] + t * (ne[1] - pe[1]),
                    ]
                elif p is not None:
                    pe = line_px[p]
                    d = (ii - p) * G.REF_LINE_PITCH_PX
                    ext = [pe[0] + d, pe[1] + d]
                else:
                    ne = line_px[n]
                    d = (n - ii) * G.REF_LINE_PITCH_PX
                    ext = [ne[0] - d, ne[1] - d]
            meas.append([float(ext[0]), float(ext[1]) - 1.0])
        th_hard = G.REF_MIN_SPACING_HARD_SPLIT_PX
        th_soft = G.REF_MIN_SPACING_SOFT_SPLIT_PX
        th_single = G.REF_MIN_SINGLE_ROW_GROUP_HEIGHT_PX
        th_title_sp = G.REF_TITLE_MIN_SPACING_PX
        th_title_h = G.REF_TITLE_MIN_HEIGHT_PX
        th_outer_lo, th_outer_hi = G.REF_OUTER_MERGE_MIN_SPACING_PX, None
        th_compact = G.REF_COMPACT_MIN_SPACING_PX
        th_block = None  # no text-space block rule: true gaps are known

    # the sweep runs bottom-up, so rows/groups are accumulated in
    # DESCENDING order with O(1) appends (cur[-1] = row processed last,
    # physically lowest-index-so-far) and reversed once at the end --
    # a front-insert here would make one big group O(n^2) and stall on
    # degenerate 50k-line turns.  Groups hold INDICES into all_rows while
    # sweeping (decisions read the measurement space, output the v-rows).
    groups_desc: list[list[int]] = []
    cur: list[int] = []
    rows_spacings = 0.0
    last_spacing = 0.0
    last_row_height = 0.0
    row_patterns = [False, False, False, False]
    for i in reversed(range(len(all_rows))):
        row_patterns[all_patterns[i]] = True
        if not cur:
            cur.append(i)
            last_spacing = 0.0
        else:
            spacing = meas[cur[-1]][0] - meas[i][1]
            height = meas[i][1] - meas[i][0]
            prev0 = groups_desc[-1][-1] if groups_desc else None
            if (
                # hierarchical outer-row merge (pseg.py:508-516, ref >=5px);
                # in quantized mode gated below MIN_BLOCK_SPLIT so it never
                # crosses a blank text line (always a block boundary there);
                # the reference has no upper bound, so px mode has none
                spacing >= th_outer_lo
                and (th_outer_hi is None or spacing < th_outer_hi)
                and spacing >= last_spacing
                and len(cur) == 1
                and groups_desc
                and meas[prev0][1] - meas[prev0][0] < th_single
                and last_row_height < th_single
            ):
                # outer-level content row belongs to the group just formed
                # (pseg.py:508-516)
                groups_desc[-1].append(cur[-1])
                rows_spacings = 0.0
                cur = []
            elif (
                spacing >= th_hard
                # text-space block rule (quantized mode only)
                or (th_block is not None and spacing >= th_block)
                or (
                    len(cur) >= 1
                    and meas[cur[-1]][1] - meas[cur[-1]][0] >= th_single
                    and spacing > th_compact
                )
                or (
                    len(cur) >= 2
                    and row_patterns[0]
                    and row_patterns[1]
                    and row_patterns[2]
                    and all_patterns[i + 1] == 2
                    and all_patterns[i] == 1
                )
                or (
                    len(cur) >= 2
                    and row_patterns[0]
                    and row_patterns[1]
                    and all_patterns[i + 1] == 0
                    and all_patterns[i] == 1
                    and spacing
                    > rows_spacings / (len(cur) - 1) * G.MIN_SPACING_MULTIPLE
                )
                or (
                    len(cur) >= 2
                    and spacing
                    > rows_spacings / (len(cur) - 1) * G.MIN_SPACING_MULTIPLE
                    and spacing > th_soft
                )
                or (
                    i == 0
                    and all_patterns[i] != 0
                    and (
                        (height >= th_title_h and spacing >= th_title_sp)
                        or height <= spacing
                    )
                )
            ):
                groups_desc.append(cur)
                row_patterns = [False, False, False, False]
                rows_spacings = 0.0
                cur = []
            else:
                rows_spacings += spacing
            cur.append(i)
            last_spacing = spacing
            last_row_height = meas[i][1] - meas[i][0]
    if cur:
        groups_desc.append(cur)
    groups_desc.reverse()
    return (
        [[all_rows[j] for j in reversed(g)] for g in groups_desc],
        row_vspacings,
    )


def _golden_grids():
    rows, _ = synth.generate(n_convs=40, seed=31, skew_convs=2, skew_factor=20)
    return [
        G.occupancy_from_text(r["text"])[0]
        for r in rows if r["text"] and r["text"].strip() and "<" not in r["text"]
    ]


def _fixture_pages():
    with open(os.path.join(FIXTURE_DIR, "manifest.json")) as f:
        manifest = json.load(f)
    pages = []
    for page in sorted(manifest):
        path = os.path.join(FIXTURE_DIR, page + ".txt")
        if os.path.exists(path):
            with open(path) as f:
                grid = G.occupancy_from_text(f.read())[0]
            pages.append((grid, manifest[page]))
    return pages


def _reference_line_px(column, line_geometry):
    """The region with max char overlap, as the reference sweep's dict."""
    best, besto = None, 0
    for region in line_geometry or ():
        o = min(column[1], region["x1"]) - max(column[0], region["x0"])
        if o > besto:
            best, besto = region, o
    if best is None:
        return None
    return {int(k): tuple(v) for k, v in best["lines"].items()}


def _same_groups(stack, grids, cases):
    """``cases``: (grid index, column, line_px dict or None).  The batched
    sweep over all of them equals the reference sweep on each."""
    items = [
        (k, column, None if px is None else G._line_bands(px, grids[k].shape[0]))
        for k, column, px in cases
    ]
    got = G.row_groups_from_column(stack, items)
    assert len(got) == len(cases)
    for (k, column, px), (groups, vspac) in zip(cases, got):
        if px is not None:
            px = {int(i): v for i, v in px.items()}
        ref_groups, ref_vspac = _reference_row_groups(grids[k], column, line_px=px)
        assert groups == ref_groups, (k, column)
        assert np.array_equal(vspac, ref_vspac), (k, column)


def test_goldens_equal_reference():
    grids = _golden_grids()
    assert len(grids) > 100
    stack = G._stack_grids(grids)
    found = G.columns_from_grid(stack)
    assert found == [_reference_columns(g) for g in grids]
    _same_groups(stack, grids, [
        (k, column, None) for k, (columns, _sp) in enumerate(found)
        for column in columns
    ])


def test_reference_fixtures_equal_reference():
    pages = _fixture_pages()
    assert len(pages) >= 30
    grids = [grid for grid, _m in pages]
    stack = G._stack_grids(grids)
    for hinted in (False, True):
        hough = [m["hough_px"] if hinted else None for _g, m in pages]
        found = G.columns_from_grid(stack, hough)
        assert found == [_reference_columns(g, hough_px=h) for g, h in zip(grids, hough)]
        _same_groups(stack, grids, [
            (k, column, _reference_line_px(column, m["line_geometry"]) if hinted else None)
            for k, ((columns, _sp), (_g, m)) in enumerate(zip(found, pages))
            for column in columns
        ])


def _bands(n_lines, rng):
    """Monotone ink bands for lines 0..n_lines-1, with sub-line and
    paragraph-sized gaps."""
    y, out = 10.0 * rng.random(), {}
    for i in range(n_lines):
        h = 6.0 + 4.0 * rng.random()
        out[i] = [y, y + h]
        y += h + rng.choice([0.5, 1.9, 3.0, 4.4, 11.0, 27.0, 80.0]) * rng.random()
    return out


def test_band_fill_branches_equal_reference():
    """Lines without a band between two banded ones (interpolated), below
    the last (extrapolated down), above the first (extrapolated up), and
    columns whose content lines have no band at all (quantized
    fallback); band maps keyed by strings, with None bands, and with
    lines past the grid."""
    rng = random.Random(7)
    grids = [g for g in _golden_grids() if g.shape[0] >= 4][:120]
    stack = G._stack_grids(grids)
    cases, hits = [], dict.fromkeys(("both", "above", "below", "none"), 0)
    for k, (columns, _sp) in enumerate(G.columns_from_grid(stack)):
        grid = grids[k]
        content = np.flatnonzero(~grid.all(axis=1)).tolist()
        for column in columns:
            full = _bands(grid.shape[0], rng)
            mode = rng.choice(["both", "above", "below", "none", "sparse"])
            if mode == "both":
                keep = content[:: rng.randint(2, 4)] + content[-1:]
            elif mode == "above":
                keep = content[: rng.randint(1, 3)]
            elif mode == "below":
                keep = content[-rng.randint(1, 3):]
            elif mode == "none":
                keep = [i for i in range(grid.shape[0]) if i not in content]
            else:
                keep = [i for i in content if rng.random() < 0.5]
            px = {str(i): full[i] for i in keep}
            px[str(grid.shape[0] + 3)] = [1.0, 2.0]
            if content:
                px[str(content[0])] = px.get(str(content[0])) if keep else None
            cases.append((k, column, px))
            anchors = [i for i in content if px.get(str(i)) is not None]
            for i in content:
                if not anchors:
                    hits["none"] += 1
                elif str(i) not in px or px[str(i)] is None:
                    at = bisect.bisect_left(anchors, i)
                    hits["both" if 0 < at < len(anchors) else
                         "above" if at else "below"] += 1
    assert min(hits.values()) > 20, hits
    _same_groups(stack, grids, cases)


def test_pdf_geometry_equal_reference():
    rows, _ = synth.generate(n_convs=10, seed=3, skew_convs=0, skew_factor=1)
    texts = [r["text"] for r in rows if r["text"].strip() and "<" not in r["text"]]
    grids, cases = [], []
    for text in texts[:40]:
        lines, geom = pdf_text_lines_geometry(make_pdf(text.split("\n")))
        grid = G.occupancy_from_text("\n".join(lines))[0]
        grids.append(grid)
        geom = {i: v for i, v in geom.items() if i % 3}
        cases.append((len(grids) - 1, [0, grid.shape[1]], geom))
    _same_groups(G._stack_grids(grids), grids, cases)


def test_mixed_stacks_and_columns_past_the_grid():
    rng = random.Random(5)
    grids = [(np.random.default_rng(i).random((rng.randint(1, 30), rng.randint(1, 90)))
              < rng.random()).astype(np.uint8) for i in range(60)]
    stack = G._stack_grids(grids)
    assert G.columns_from_grid(stack) == [_reference_columns(g) for g in grids]
    cases = []
    for k, grid in enumerate(grids):
        for _ in range(3):
            a = rng.randint(0, grid.shape[1] + 5)
            cases.append((k, [a, a + rng.randint(0, grid.shape[1] + 5)], None))
    _same_groups(stack, grids, cases)
