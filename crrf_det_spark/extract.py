"""Turn extraction: tokens + cell/box assignment + segment assembly,
for a batch of turns at once.

Text-space analogue of the reference's word pipeline:

* tokenizer       ~ pdftotext -bbox word extraction
                    (/root/reference/src/tpdf/docmt.py:41-51,96-106)
* assignment      ~ aggr.collect_tables / collect_text with the half-area
                    coverage threshold and the used-words first-writer-wins
                    semi-join (/root/reference/src/tpdf/aggr.py:11-150),
                    vectorized: one ragged (box, token) overlap test over
                    the whole batch instead of a per-token Python loop
* reading order   ~ segments sorted by box[0]*10000+box[1]
                    (/root/reference/src/t-pdf:30)

Pure Python/numpy over one Arrow batch (see pipeline.py): the turns'
lines are stacked, so tokenization and the join run once per batch while
each turn keeps its own layout decisions (``extract_turns``).
``extract_turn`` and ``extract_turn_auto`` are batches of one.
"""

from __future__ import annotations

import re

import numpy as np

from . import grid as G
from .htmlx import html_segments, looks_like_html

# str.isspace over ASCII: the whitespace str.split splits on
_ASCII_SPACE = np.array([chr(c).isspace() for c in range(128)])

# Cap on the (box, candidate token) pairs of one chunk of the batched
# join in Tokens.take_overlapping_many.  At its peak a chunk holds six
# 8-byte arrays of one value per pair (the two pair indices, the x
# overlap and three 1-D coordinate gathers for y), so 4M pairs ~ 200 MB.
# Grid-budget-passing turns can still hold millions of tokens in one
# unbroken y-window (a single-paragraph log paste); cutting the boxes
# into chunks by pairs keeps the join's peak memory bounded.
MAX_JOIN_CELLS = 4_000_000


class Tokens:
    """Token texts + (ymin, xmin, ymax, xmax) boxes as numpy columns.

    ``thr`` is the per-token coverage threshold: half the token's area must
    sit inside a cell/box for assignment (aggr.py:29-32).
    """

    __slots__ = ("texts", "boxes", "thr", "used", "_y0", "_hmax")

    def __init__(self, texts: list[str], boxes: np.ndarray):
        self.texts = texts
        self.boxes = boxes  # (n, 4) float64
        if len(texts):
            w = boxes[:, 3] - boxes[:, 1]
            h = boxes[:, 2] - boxes[:, 0]
            self.thr = 0.5 * w * h
            # tokens are emitted line-by-line, so ymin is nondecreasing --
            # lets each containment probe binary-search its y-window
            self._y0 = boxes[:, 0]
            self._hmax = float(h.max())
        else:
            self.thr = np.empty(0)
            self._y0 = np.empty(0)
            self._hmax = 0.0
        self.used = np.zeros(len(texts), dtype=bool)

    def __len__(self):
        return len(self.texts)

    def _overlap(self, barr, bi, ti, lo: int, hi: int) -> np.ndarray:
        """Per-pair overlap of box ``bi`` and token ``ti`` along one axis
        (coordinates ``lo``/``hi``), one 1-D gather at a time."""
        ov = barr[bi, hi]
        np.minimum(ov, self.boxes[ti, hi], out=ov)
        start = barr[bi, lo]
        np.maximum(start, self.boxes[ti, lo], out=start)
        ov -= start
        return ov

    def take_overlapping_many(self, boxes: list) -> list[list[str]]:
        """Batched first-writer-wins join: one call for ALL boxes (in
        priority order) instead of one scan per box.

        Sequentially taking boxes one at a time is equivalent to assigning
        each token to the FIRST box in the list whose overlap exceeds the
        token's threshold (thresholds are static per token), so the join
        collapses to one ragged list of (box, candidate token) pairs --
        each box's candidates are its own y-window (ymin sorted =>
        searchsorted) -- and a min-box pick per token.  Boxes go in
        chunks of at most MAX_JOIN_CELLS pairs, so the temporaries stay
        bounded even for degenerate giant turns (a box whose window alone
        is larger goes by itself; the used mask carries between chunks,
        which keeps first-writer-wins exact)."""
        out: list[list[str]] = [[] for _ in range(len(boxes))]
        if not len(self.texts) or not len(boxes):
            return out
        barr = np.asarray(boxes, dtype=np.float64).reshape(-1, 4)
        lo = np.searchsorted(self._y0, barr[:, 0] - self._hmax)
        n = np.maximum(np.searchsorted(self._y0, barr[:, 2]) - lo, 0)
        cum = np.cumsum(n)  # pairs of boxes 0..b
        won_box, won_tok = [], []
        b0 = 0
        while b0 < len(barr):
            done = int(cum[b0 - 1]) if b0 else 0
            b1 = max(b0 + 1, int(np.searchsorted(cum, done + MAX_JOIN_CELLS, "right")))
            cnt = n[b0:b1]
            # pair p of box b is token lo[b] + (p - first pair of b)
            bi = np.repeat(np.arange(b0, b1), cnt)
            ti = np.arange(done, int(cum[b1 - 1])) + np.repeat(
                lo[b0:b1] + cnt - cum[b0:b1], cnt
            )
            b0 = b1
            x_ov = self._overlap(barr, bi, ti, 1, 3)
            hit = x_ov > 0
            y_ov = self._overlap(barr, bi, ti, 0, 2)
            hit &= y_ov > 0
            x_ov *= y_ov
            del y_ov
            hit &= x_ov > self.thr[ti]
            hit &= ~self.used[ti]
            # pairs run box-major, so after a stable sort by token each
            # token's first box leads its run
            ti = ti[hit]
            order = np.argsort(ti, kind="stable")
            ti = ti[order]
            first = np.ones(len(ti), dtype=bool)
            np.not_equal(ti[1:], ti[:-1], out=first[1:])
            ti = ti[first]
            self.used[ti] = True
            won_tok.append(ti)
            won_box.append(bi[hit][order][first])
        bi = np.concatenate(won_box)
        # each box's tokens come from one chunk, in reading order
        order = np.argsort(bi, kind="stable")
        texts = self.texts
        words = [texts[i] for i in np.concatenate(won_tok)[order].tolist()]
        i = 0
        for b, c in enumerate(np.bincount(bi, minlength=len(barr)).tolist()):
            if c:
                out[b] = words[i: i + c]
                i += c
        return out


def tokenize_lines(lines: list[str]) -> Tokens:
    """Whitespace tokens with (line, char) boxes, reading order.

    ``lines`` may be a whole batch of turns, one after the other: token
    y is the line's index in the list, so turns never overlap.  One
    ``str.split`` plus one mask of the whitespace it splits on, read off
    the UTF-32 code points (a lookup for ASCII, ``str.isspace`` once per
    distinct other code point); each token's line and in-line offsets
    come from the mask's edges and the cumulative line-start offsets."""
    text = "\n".join(lines)
    texts = text.split()
    if not texts:
        return Tokens([], np.empty((0, 4), dtype=np.float64))
    padded = f" {text} "  # every token has a space before and after
    cp = np.frombuffer(padded.encode("utf-32-le", "surrogatepass"), np.uint32)
    wide = cp > 0x7F
    space = _ASCII_SPACE[np.where(wide, 0, cp)]
    u, inv = np.unique(cp[wide], return_inverse=True)
    space[wide] = np.array([chr(c).isspace() for c in u.tolist()], bool)[inv]
    ink = ~space
    s = np.flatnonzero(space[:-1] & ink[1:])  # char index of token start
    e = np.flatnonzero(ink[:-1] & space[1:])  # char index of token end
    line_off = np.zeros(len(lines) + 1, dtype=np.int64)
    np.cumsum(np.fromiter(map(len, lines), np.int64, len(lines)) + 1, out=line_off[1:])
    li = np.searchsorted(line_off, s, side="right") - 1
    off = line_off[li]
    boxes = np.empty((len(texts), 4), dtype=np.float64)
    boxes[:, 0] = li * G.V_UNIT               # v_start(line)
    boxes[:, 1] = s - off
    boxes[:, 2] = li * G.V_UNIT + G.LINE_H    # v_end(line)
    boxes[:, 3] = e - off
    return Tokens(texts, boxes)


def collect_tables(
    results: list[dict], y_offsets: list[int], tokens: Tokens
) -> list[list[dict]]:
    """Cells x tokens containment join -> 2-D table grids
    (aggr.py:51-127), for a batch of turns: ``results[k]`` is turn k's
    parse_grid output, its tokens sit ``y_offsets[k]`` v-units down in
    ``tokens``.  Per turn, iteration order (sorted col_idx, then row
    group, then row-major cells) is preserved so the used-token semantics
    match the reference; boxes of different turns never share a token,
    so one join over the whole batch keeps every turn's order."""
    tables_per_turn = []
    tables = []
    all_cells: list[tuple] = []
    cell_meta: list[tuple[int, int, int]] = []  # (table_no, r, c)
    for pseg_results, dy in zip(results, y_offsets):
        columns = pseg_results["columns"]
        column_row_groups = pseg_results["column_row_groups"]
        build_tables = pseg_results["column_row_grp_build_table"]
        grp_cells = pseg_results["column_row_grp_cells"]
        bboxes = pseg_results.get("group_bboxes", {})
        turn_tables = []
        # gather every cell across every table in the reference's
        # deterministic order (sorted col_idx, sorted group, row-major
        # cells) -- the batched join below preserves exactly the
        # sequential first-writer-wins semantics over this order
        for col_idx in sorted(build_tables):
            column = columns[col_idx]
            for grp_idx in sorted(build_tables[col_idx]):
                table_rows, table_cols = build_tables[col_idx][grp_idx]
                if not table_rows and not table_cols:
                    continue
                rows = column_row_groups[col_idx][grp_idx]
                col_shift = int(column[0])
                row_shift = int(rows[0][0])
                _inters, _u, _d, cells = grp_cells[col_idx][grp_idx]
                cells = [
                    (y0 + row_shift, x0 + col_shift, y1 + row_shift, x1 + col_shift)
                    for (y0, x0, y1, x1) in cells
                ]
                if not cells:
                    continue
                cell_col_starts = sorted({x0 for (_y0, x0, _y1, _x1) in cells})
                cell_row_starts = sorted({y0 for (y0, _x0, _y1, _x1) in cells})
                col_pos = {x: i for i, x in enumerate(cell_col_starts)}
                row_pos = {y: i for i, y in enumerate(cell_row_starts)}
                table = [[""] * len(cell_col_starts) for _ in cell_row_starts]
                box = bboxes.get(
                    (col_idx, grp_idx),
                    (rows[0][0], column[0], rows[-1][1], column[1]),
                )
                tno = len(tables)
                seg = {"type": "table", "content": "", "rows": table, "box": box}
                tables.append(seg)
                turn_tables.append(seg)
                # cells are already in row-major order (find_cells sorts)
                for y0, x0, y1, x1 in cells:
                    all_cells.append((y0 + dy, x0, y1 + dy, x1))
                    cell_meta.append((tno, row_pos[y0], col_pos[x0]))
        tables_per_turn.append(turn_tables)

    # one batched cells x tokens containment join.
    # Divergence from aggr.py:120 (which overwrites on duplicate
    # (row, col) starts and silently drops the earlier words): append
    # instead, so token conservation holds even for the degenerate
    # overlapping-cell geometries find_cells can emit.
    for (tno, r, c), words in zip(
        cell_meta, tokens.take_overlapping_many(all_cells)
    ):
        if words:
            table = tables[tno]["rows"]
            joined = " ".join(words)
            table[r][c] = (
                f"{table[r][c]} {joined}" if table[r][c] else joined
            )
    for seg in tables:
        seg["content"] = flatten_table(seg["rows"])
    return tables_per_turn


def collect_text(
    results: list[dict], y_offsets: list[int], tokens: Tokens
) -> list[list[dict]]:
    """Leftover tokens -> text boxes (aggr.py:130-150), for a batch of
    turns laid out as in ``collect_tables``."""
    words = tokens.take_overlapping_many([
        (b[0] + dy, b[1], b[2] + dy, b[3])
        for res, dy in zip(results, y_offsets)
        for b in res["text_boxes"]
    ])
    it = iter(words)  # zip takes exactly each turn's boxes' share
    return [
        [{"type": "text", "content": " ".join(w), "rows": None, "box": box}
         for box, w in zip(res["text_boxes"], it) if w]
        for res in results
    ]


def flatten_table(rows: list[list[str]]) -> str:
    """Canonical table flattening: cells by tab, rows by newline
    (/root/reference/src/s-pdf:49-52)."""
    return "\n".join("\t".join(r) for r in rows)


def _flow_segments(lines: list[str]) -> list[dict]:
    """Budget-fallback extraction: one text segment per blank-line-
    separated paragraph, words space-joined — exactly the shape the grid
    kernel emits for simple single-column prose (row group -> text box),
    produced in O(chars) with no 2-D buffer.  Used when a degenerate
    turn's occupancy grid would exceed grid.MAX_GRID_CELLS (the
    reference never faces this: its 400px raster bounds analysis cost by
    construction, docmt -P 400)."""
    segs: list[dict] = []
    start = None
    words: list[str] = []
    width = 0
    for i, ln in enumerate(lines):
        w = ln.split()
        if w:
            if start is None:
                start = i
            words.extend(w)
            width = max(width, len(ln))
        elif start is not None:
            segs.append({
                "type": "text",
                "content": " ".join(words),
                "rows": None,
                "box": [start * G.V_UNIT, 0,
                        (i - 1) * G.V_UNIT + G.LINE_H, width],
            })
            start, words, width = None, [], 0
    if start is not None:
        segs.append({
            "type": "text",
            "content": " ".join(words),
            "rows": None,
            "box": [start * G.V_UNIT, 0,
                    (len(lines) - 1) * G.V_UNIT + G.LINE_H, width],
        })
    return segs


def extract_turns(
    texts: list[str | None], line_pxs: list | None = None
) -> list[list[dict]]:
    """Grid-kernel extraction of a batch of turns -> one ordered segment
    list per turn.

    Segment: {type: 'text'|'table', content: str, rows: list[list[str]]|None,
    box: [ymin, xmin, ymax, xmax]} with cindex = list position (reading
    order, stable sort by (ymin, xmin) like the reference's
    box[0]*10000+box[1] key, /root/reference/src/t-pdf:30).

    ``line_pxs[k]`` (optional): turn k's true per-line pixel ink bands
    ``[y0_px, y1_px)`` (a PDF payload's glyph coordinates), as
    ``{line_index: [y0, y1]}`` or as pdfmini.pdf_text_lines_geometries'
    ``(line indices, (k, 2) bands)`` arrays; its group sweep then runs
    the reference's own pixel thresholds (grid.py
    row_groups_from_column).

    Occupancy runs per turn; tokenization, the grid stages (grid.py
    parse_grids) and the word-in-box join run once over the batch, each
    turn's lines stacked below the previous turn's, cut where the held
    grids reach ``grid.MAX_GRID_CELLS`` (so at most two turn budgets are
    held).  A turn whose own grid would
    exceed the budget (multi-megabyte lines, million-line dumps) takes
    the O(chars) paragraph-flow fallback.
    """
    line_pxs = line_pxs or [None] * len(texts)
    out: list[list[dict]] = [[] for _ in texts]
    held: list[tuple] = []  # (index, grid, lines) awaiting the batch stages
    cells = 0
    for i, text in enumerate(texts):
        if text is None or not text.strip():
            continue
        try:
            grid, lines = G.occupancy_from_text(text)
        except G.GridBudgetExceeded:
            out[i] = _flow_segments(G.strip_boilerplate(
                [ln.expandtabs(4).rstrip("\n") for ln in text.split("\n")]
            ))
            continue
        held.append((i, grid, lines))
        cells += grid.size
        if cells >= G.MAX_GRID_CELLS:
            _extract_grids(held, line_pxs, out)
            held, cells = [], 0
    _extract_grids(held, line_pxs, out)
    return out


def _extract_grids(turns: list[tuple], line_pxs: list, out: list) -> None:
    """The batch stages of ``extract_turns`` over ``turns`` = (index,
    occupancy grid, lines); writes each turn's segments to ``out``."""
    tokens = tokenize_lines([ln for _i, _g, lines in turns for ln in lines])
    # turn k starts y_off[k] v-units down; a turn without tokens is empty
    y_off = np.zeros(len(turns) + 1, dtype=np.int64)
    np.cumsum([len(lines) * G.V_UNIT for _i, _g, lines in turns], out=y_off[1:])
    keep = np.flatnonzero(np.diff(np.searchsorted(tokens._y0, y_off)))
    offsets = y_off[keep].tolist()
    keep = [turns[k] for k in keep.tolist()]
    results = G.parse_grids(
        [grid for _i, grid, _l in keep],
        [
            [{"x0": 0, "x1": grid.shape[1], "lines": line_pxs[i]}]
            if line_pxs[i] else None
            for i, grid, _l in keep
        ],
    )
    tables = collect_tables(results, offsets, tokens)  # cells take first
    text_segs = collect_text(results, offsets, tokens)
    for (i, _g, _l), turn_tables, turn_texts in zip(keep, tables, text_segs):
        segments = sorted(
            turn_tables + turn_texts, key=lambda s: (s["box"][0], s["box"][1])
        )
        for seg in segments:
            seg["box"] = [int(v) for v in seg["box"]]
        out[i] = segments


def extract_turn(
    text: str, line_px: dict[int, list[float]] | None = None
) -> list[dict]:
    """``extract_turns`` on a batch of one turn."""
    return extract_turns([text], [line_px])[0]


def dom_segments(text: str | None) -> list[dict] | None:
    """Payload-aware dispatch: an HTML turn's DOM main-content segments
    (htmlx.py; same segment schema as the grid kernel), or None when the
    turn goes through the text-grid kernel.

    Mixed-prose guard: without a decisive document marker the dispatch
    heuristic can misfire on prose that quotes markup; in that ambiguous
    band the DOM result is accepted only if it keeps at least half of the
    turn's VISIBLE text (the input with tags stripped).  Comparing
    against visible text — not the raw parse — means a short tag-dense
    fragment like a bare ``<table>`` still takes the DOM path (its
    visible text is just the cell contents), while a turn whose payload
    the DOM parser discards (e.g. inside a skip-tag) falls back to the
    text grid.  The double parse is paid only for marker-less
    HTML-looking turns."""
    if not text:
        return None
    from .htmlx import has_html_marker

    if has_html_marker(text):
        return html_segments(text)
    if not looks_like_html(text):
        return None
    stripped = re.sub(r"<[^>]*>", " ", text)
    # markup share: a turn that is overwhelmingly plain text with one
    # tiny quoted tag is a TEXT turn — its grid layout (columns,
    # aligned tables) matters more than parsing the fragment, even
    # though the DOM parse would keep the characters.  (stripped
    # replaces each tag with one space, so the length difference
    # undercounts by one char per tag — immaterial at the 5% gate.)
    tag_chars = len(text) - len(stripped)
    if tag_chars * 20 < len(text):  # < 5% markup
        return None
    dom = html_segments(text)
    dom_chars = sum(len(s["content"]) for s in dom)
    visible_chars = len("".join(stripped.split()))
    return dom if dom_chars * 2 >= visible_chars else None


def extract_turns_auto(texts: list[str | None], line_pxs: list) -> list[list[dict]]:
    """``dom_segments`` per turn, then one ``extract_turns`` batch over
    every turn it leaves to the text grid.  ``line_pxs`` (true pixel line
    bands, see extract_turns) applies to the grid path only."""
    out = [dom_segments(text) for text in texts]
    grid = [i for i, segs in enumerate(out) if segs is None]
    for i, segs in zip(grid, extract_turns(
        [texts[i] for i in grid], [line_pxs[i] for i in grid]
    )):
        out[i] = segs
    return out


def extract_turn_auto(
    text: str, line_px: dict[int, list[float]] | None = None
) -> list[dict]:
    """One turn: ``dom_segments``, else ``extract_turn``."""
    dom = dom_segments(text)
    return extract_turn(text, line_px=line_px) if dom is None else dom


def extracted_text(segments: list[dict]) -> str:
    """Per-turn canonical extraction text: content joined over cindex asc
    (the per-turn text-equality invariant, FIXTURES.md section 2)."""
    return "\n".join(s["content"] for s in segments)
