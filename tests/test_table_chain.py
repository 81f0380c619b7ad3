"""Stage 5 (the tablevspan rectangle chain, build_table, intersections and
cells) runs once per stack of row groups over arrays.  These tests hold
the per-group reference -- the reference's own step-by-step chain
(pseg.py:785-1185) over one group's hspacings profile -- and check that
the batched chain gives the same rectangles, separators, intersections
and cells for every group."""

import glob
import json
import os
import random
import tracemalloc

import numpy as np

from crrf_det_spark import grid as G
from crrf_det_spark import synth
from crrf_det_spark.extract import extract_turn, extract_turns

FIXTURES = os.path.join(os.path.dirname(__file__), "fixtures", "reference")

# ---------------------------------------------------------------------------
# per-group reference chain
# ---------------------------------------------------------------------------


def ref_lines(hs):
    x, y0, y1, _g = G.vertical_lines_from_hspacings(hs, [0])
    return list(zip(zip(x.tolist(), y0.tolist()), zip(x.tolist(), y1.tolist())))


def ref_group_adjacent_lines(lines):
    rects = []
    if not lines:
        return rects
    rect = lines[0]
    for line in lines[1:]:
        if (
            line[1][1] == rect[1][1]
            and line[0][1] == rect[0][1]
            and (rect[0][0] - line[0][0] == 1 or line[0][0] - rect[1][0] == 1)
        ):
            rect = (
                (min(line[0][0], rect[0][0]), rect[0][1]),
                (max(line[0][0], rect[1][0]), rect[1][1]),
            )
        else:
            rects.append(rect)
            rect = line
    rects.append(rect)
    return rects


def ref_remove_smaller_adjacent_rectangles(rects):
    dead = [False] * len(rects)
    for key in rects:
        kh = key[1][1] - key[0][1]
        for j, rect in enumerate(rects):
            if rect == key:
                continue
            if (
                (key[1][0] + 1 == rect[0][0] or key[0][0] == rect[1][0] + 1)
                and min(key[1][1], rect[1][1]) - max(key[0][1], rect[0][1]) > 0
                and rect[1][1] - rect[0][1] <= kh
            ):
                dead[j] = True
    return [r for r, d in zip(rects, dead) if not d]


def ref_remove_edge_rectangles(rects, hs):
    width = hs.shape[1]
    out = [r for r in rects
           if not (r[0][0] == 0 or r[1][0] == width - 1 or r[1][0] - r[0][0] < 1)]
    out.sort(key=lambda r: r[0][0])
    kept = []
    for (x0, y0), (x1, y1) in out:
        if np.all(hs[y0: y1 + 1, 0: x0 + 1] == 1) or np.all(hs[y0: y1 + 1, x1:width] == 1):
            continue
        kept.append(((x0, y0), (x1, y1)))
    return kept


def ref_is_first_rectangle_column_valid(rects, hs):
    if not rects:
        return False
    (x0, y0), (x1, y1) = rects[0]
    filled = sum(1 for i in range(y0, y1 + 1) if hs[i, 0:x0].sum() < x0)
    height = 0.6 * (y1 - y0 + 1)
    filled2 = 0
    height2 = height
    if len(rects) > 1:
        (bx0, by0), (bx1, by1) = rects[1]
        height2 = 0.6 * (by1 - by0 + 1)
        filled2 = sum(1 for i in range(by0, by1 + 1) if hs[i, 0:bx0].sum() < bx0)
    if filled < height and filled2 < height2:
        return False
    if len(rects) > 1:
        col_heights = [r[1][1] - r[0][1] for r in rects[1:]]
        thrs = float(np.median(col_heights))
        cmax = float(np.max(col_heights))
        bottoms = {r[1][1] for r in rects[1:]}
        if (y1 - y0 < thrs and y1 - y0 < cmax / 2
                and (y1 not in bottoms or y1 - y0 < 3)):
            return False
    return True


def ref_remove_busy_column_rectangles(rects, hs):
    if not rects:
        return rects
    width = hs.shape[1]
    r1 = (0, rects[0][0][0])
    r2 = (rects[0][1][0], rects[1][0][0] if len(rects) >= 2 else width)

    def busy_rows(lo, hi):
        if hi <= lo:
            return 0, 0
        n_busy = n_any = 0
        for row in hs[:, lo:hi]:
            run = longest = 0
            for v in row:
                run = run + 1 if v == 0 else 0
                longest = max(longest, run)
            n_busy += longest >= G.BUSY_COLUMN_CONTENT_RUN_LENGTH
            n_any += longest > 0
        return n_busy, n_any

    b1, a1 = busy_rows(*r1)
    b2, a2 = busy_rows(*r2)
    if (b1 >= G.BUSY_COLUMN_ROW_COUNT and b2 >= G.BUSY_COLUMN_ROW_COUNT) or (
        b1 >= a1 - 1 and b2 >= a2 - 1 and a1 >= 2 and a2 >= 2
    ):
        return []
    return rects


def ref_find_intersections(column, rows, table_cols, table_rows):
    """The raster version: draw every separator, match the patterns
    pixel by pixel.  The corner rows come from the table's own column
    separators."""
    col_shift, row_shift = int(column[0]), int(rows[0][0])
    img = np.ones((rows[-1][1] - rows[0][0] + 1, column[1] - column[0]), dtype=np.uint8)
    for r in table_rows:
        img[int(r[0]) - row_shift, int(r[1]) - col_shift: int(r[3]) - col_shift + 1] = 0
    for c in table_cols:
        img[int(c[0]) - row_shift: int(c[2]) - row_shift + 1, int(c[1]) - col_shift] = 0
    first_row = min(int(c[0]) for c in table_cols)
    last_row = max(int(c[2]) for c in table_cols)
    h, w = img.shape
    inters = [(first_row - row_shift, 0), (first_row - row_shift, w - 1),
              (last_row - row_shift, 0), (last_row - row_shift, w - 1)]

    def edge(values):
        return [i for i in range(1, len(values) - 1)
                if (values[i - 1], values[i], values[i + 1]) == (1, 0, 1)]

    inters += [(r, 0) for r in edge(img[:, 0])]
    inters += [(r, w - 1) for r in edge(img[:, w - 1])]
    inters += [(0, c) for c in edge(img[0, :])]
    inters += [(h - 1, c) for c in edge(img[h - 1, :])]
    cross = np.array([[1, 0, 1], [0, 0, 0], [1, 0, 1]])
    down = np.array([[1, 1, 1], [0, 0, 0], [1, 0, 1]])
    up = np.array([[1, 0, 1], [0, 0, 0], [1, 1, 1]])
    ups, downs = set(), set()
    for r in sorted({int(t[0]) - row_shift for t in table_rows}):
        for c in sorted({int(t[1]) - col_shift for t in table_cols}):
            if not (1 <= r <= h - 2 and 1 <= c <= w - 2):
                continue
            win = img[r - 1: r + 2, c - 1: c + 2]
            if (win == cross).all():
                inters.append((r, c))
            elif (win == down).all():
                inters.append((r, c))
                downs.add((r, c))
            elif (win == up).all():
                inters.append((r, c))
                ups.add((r, c))
    if len(inters) == 4:
        inters = []
    inters.sort(key=lambda p: p[0] * 100000 + p[1])
    return inters, ups, downs


def ref_find_cells(intersections, ups, downs):
    """The corner pairing as first written (pseg.py:1128-1185): for every
    corner, a linear scan forward for the next intersection in its
    column."""
    inter_set = set(intersections)
    cells = []
    for idx, (row, col) in enumerate(intersections):
        if (row, col) in ups:
            continue
        if idx >= len(intersections) - 1:
            continue
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
            next_row = None
            for i in range(idx + 1 + row_span, len(intersections)):
                if intersections[i][1] == col:
                    next_row = intersections[i][0]
                    break
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
    return sorted(set(cells))


def ref_chain(column, rows, hs):
    """One group's stage 5: final rects, and the table (or None)."""
    rects = ref_group_adjacent_lines(ref_lines(hs))
    rects = ref_remove_smaller_adjacent_rectangles(rects)
    rects = ref_remove_edge_rectangles(rects, hs)
    while rects and not ref_is_first_rectangle_column_valid(rects, hs):
        rects = rects[1:]
    rects = ref_remove_busy_column_rectangles(rects, hs)
    if not rects:
        return rects, None
    table_rows, table_cols = G.build_table(column, rows, rects)
    inters, ups, downs = ref_find_intersections(column, rows, table_cols, table_rows)
    return rects, ((table_rows, table_cols),
                   (inters, ups, downs, ref_find_cells(inters, ups, downs)))


# ---------------------------------------------------------------------------
# inputs
# ---------------------------------------------------------------------------


def _groups(grid, columns, column_groups):
    return [(grid, column, rows)
            for col_idx, column in enumerate(columns)
            for rows in column_groups.get(col_idx, [])]


def synth_groups():
    rows, _ = synth.generate(n_convs=40, seed=31, skew_convs=2, skew_factor=20)
    out = []
    for r in rows:
        if "<" in r["text"] or not r["text"].strip():
            continue
        grid, _lines = G.occupancy_from_text(r["text"])
        res = G.parse_grid(grid)
        out += _groups(grid, res["columns"], res["column_row_groups"])
    return out


def fixture_groups():
    with open(os.path.join(FIXTURES, "manifest.json")) as f:
        manifest = json.load(f)
    out = []
    for path in sorted(glob.glob(os.path.join(FIXTURES, "*.txt"))):
        page = os.path.basename(path)[:-4]
        with open(path) as f:
            grid, _lines = G.occupancy_from_text(f.read())
        for hints in ({}, {"line_geometry": manifest[page]["line_geometry"],
                           "hough_px": manifest[page]["hough_px"]}):
            res = G.parse_grid(grid, **hints)
            out += _groups(grid, res["columns"], res["column_row_groups"])
    return out


def busy_group():
    """One group with many more than 48 rectangles: columns of two-space
    gaps whose vertical runs are cut at random rows."""
    rng = random.Random(5)
    lines = []
    for _ in range(60):
        lines.append("".join(
            rng.choice("ab") + ("  " if rng.random() < 0.7 else "cd")
            for _ in range(40)
        ))
    grid, _lines = G.occupancy_from_text("\n".join(lines))
    rows = [[G.V_UNIT * i, G.V_UNIT * i + G.LINE_H] for i in range(len(lines))]
    return (grid, [0, grid.shape[1]], rows)


# ---------------------------------------------------------------------------
# tests
# ---------------------------------------------------------------------------


def _check_stack(groups):
    stack = G.row_hspacings_for_groups(groups)
    got = G._stack_tables(stack, groups)
    n_tables = 0
    for k, (_grid, column, rows) in enumerate(groups):
        rects, table = ref_chain(column, rows, stack.hs(k))
        if table is None:
            assert k not in got, k
            continue
        n_tables += 1
        g_rects, g_table, g_cells = got[k]
        assert g_rects == rects, k
        assert g_table == table[0], k
        assert g_cells == table[1], k
    return n_tables


def test_batched_chain_equals_per_group_synth():
    groups = synth_groups()
    assert len(groups) > 300
    assert _check_stack(groups) > 50


def test_batched_chain_equals_per_group_reference_fixtures():
    groups = fixture_groups()
    assert _check_stack(groups) > 20


def test_batched_chain_equals_per_group_many_rects():
    group = busy_group()
    stack = G.row_hspacings_for_groups([group])
    assert len(G.group_adjacent_lines(stack.lines).g) > 48
    # stacked with ordinary groups, and alone
    _check_stack(synth_groups()[:40] + [group])
    _check_stack([group])


def test_adjacent_rect_removal_is_linear_in_rects(monkeypatch):
    """Rects sharing a boundary column are disjoint in y, so every rect
    meets at most one partner per side: the many-rect group's pair
    search must stay O(rects)."""
    stack = G.row_hspacings_for_groups([busy_group()])
    rects = G.group_adjacent_lines(stack.lines)
    pairs = []
    ranges = G._pairs

    def spy(lo, hi):
        out = ranges(lo, hi)
        pairs.append(len(out[0]))
        return out

    monkeypatch.setattr(G, "_pairs", spy)
    G.remove_smaller_adjacent_rectangles(rects)
    assert sum(pairs) <= 2 * len(rects.g)


def test_table_below_line_2500_extracts_as_alone():
    """The corner rows of a table's intersections come from its own
    column separators: a table that starts below v-unit 10,000 (text
    line 2,500) must not reach up into the prose above it."""
    table = "\n".join(synth._table_block(random.Random(3)).lines)
    # prose wider than the table, so the page keeps one column
    prose = "\n".join(f"line {i:04d} of the prose text that runs above the table"
                      for i in range(2600))
    alone = [s["rows"] for s in extract_turn(table) if s["type"] == "table"]
    deep = [s["rows"] for s in extract_turn(prose + "\n\n" + table)
            if s["type"] == "table"]
    assert alone and deep == alone


def test_stage5_memory_stays_within_stack_budget(monkeypatch):
    """With the grid budget patched down, a turn at the budget among
    ordinary turns: on each stack at the budget, no stage-5 step holds
    more than four bytes per stack cell at once -- what a raster of four
    v-units per text line, as the intersection search used to draw,
    would take alone."""
    budget = 20_000
    monkeypatch.setattr(G, "MAX_GRID_CELLS", budget)
    wide = []
    for i in range(100):
        line = f"name{i:03d}    {i:>6}    {i * 7:>8}"
        wide.append(line + " " * (200 - len(line) - 6) + f"t{i:05d}")
    wide = "\n".join(wide)  # 100 lines x 200 chars = the budget
    rows, _ = synth.generate(n_convs=6, seed=4, skew_convs=0, skew_factor=1)
    texts = [r["text"] for r in rows if "<" not in r["text"]][:60]
    texts.insert(len(texts) // 2, wide)

    cells = []
    held = {}  # (step, stack cells) -> most bytes freed again by the call
    stacks = G.row_hspacings_for_groups

    def stack_spy(groups):
        stack = stacks(groups)
        cells.append(stack.m.size)
        return stack

    def measured(name, fn):
        def call(*args):
            tracemalloc.reset_peak()
            out = fn(*args)
            now, peak = tracemalloc.get_traced_memory()
            key = (name, cells[-1])
            held[key] = max(held.get(key, 0), peak - now)
            return out
        return call

    monkeypatch.setattr(G, "row_hspacings_for_groups", stack_spy)
    for name in ("group_adjacent_lines", "remove_smaller_adjacent_rectangles",
                 "remove_edge_rectangles", "is_first_rectangle_column_valid",
                 "remove_busy_column_rectangles", "build_table",
                 "find_intersections", "find_cells"):
        monkeypatch.setattr(G, name, measured(name, getattr(G, name)))
    tracemalloc.start()
    try:
        batch = extract_turns(texts)
    finally:
        tracemalloc.stop()
    assert max(cells) <= budget
    assert batch[texts.index(wide)]  # the budget turn took the grid path
    big = {key: b for key, b in held.items() if key[1] >= budget // 2}
    assert {name for name, _c in big} >= {"find_intersections", "find_cells"}
    assert all(b <= 4 * c for (_name, c), b in big.items()), big


def test_find_cells_matches_reference_on_a_noise_turn(monkeypatch):
    """An aligned noise turn (two-space gaps, half the lines cut short)
    builds one table of ~10^5 intersections, where the per-column index
    of find_cells matters; its cells equal the linear-scan reference."""
    rng = random.Random(0)
    line = ("a  b  cd  " * 151)[:1500]
    text = "\n".join(
        line[: rng.randrange(1, len(line))] if rng.random() < 0.5 else line
        for _ in range(300)
    )
    calls = []
    find_cells = G.find_cells

    def spy(inters, ups, downs):
        out = find_cells(inters, ups, downs)
        calls.append((inters, ups, downs, out))
        return out

    monkeypatch.setattr(G, "find_cells", spy)
    extract_turn(text)
    assert sum(len(c[0]) for c in calls) > 100_000
    for inters, ups, downs, out in calls:
        assert out == ref_find_cells(inters, ups, downs)
