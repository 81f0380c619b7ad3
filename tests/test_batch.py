"""Batch-at-a-time extraction: a turn extracts the same inside a mixed
Arrow batch as alone, and the batched grid stages stay inside the grid
cell budget."""

import glob
import os
import random

import pandas as pd

from crrf_det_spark import grid as G
from crrf_det_spark import synth
from crrf_det_spark.extract import extract_turn, extract_turns
from crrf_det_spark.pdfmini import make_pdf, make_pdf_cid, make_pdf_diff
from crrf_det_spark.pipeline import _extract_batches, extract_row

FIXTURES = os.path.join(os.path.dirname(__file__), "fixtures", "reference")

PRE_HTML = (
    "<html><body><article><p>Quarterly summary for the board.</p>"
    "<pre>name      q1      q2\nalpha     1.0     2.0\n"
    "beta      3.0     4.0\ngamma     5.0     6.0</pre>"
    "<p>Figures are unaudited.</p></article></body></html>"
)
NON_LATIN1 = (
    "Résumé — “quoted” text　with an ideographic space\n\n"
    "名前      値      備考\n"
    "アルファ   1.0     ok here\n"
    "ベータ     2.0     ✓"
)


def _mixed_values() -> list:
    rows, _ = synth.generate(n_convs=14, seed=3, skew_convs=1, skew_factor=5)
    values: list = [r["text"] for r in rows[:150]]
    values += [
        open(p, encoding="utf-8").read()
        for p in sorted(glob.glob(os.path.join(FIXTURES, "*.txt")))
    ]
    values += [
        PRE_HTML,
        PRE_HTML.encode("utf-8"),
        make_pdf(["Account      Q1      Q2", "Revenue      100     200", "",
                  "Totals are preliminary and unaudited."]),
        make_pdf(["alpha beta gamma", "delta epsilon", "zeta eta theta"],
                 leadings={2: 26}),
        make_pdf_diff(["Résumé of the café", "naïve   1.0   2.0"]),
        make_pdf_cid(["Item      Qty      Price", "Widget    3        9.50"]),
        None,
        b"",
        b"\xff\xfe\xfa not utf-8",
        NON_LATIN1,
        # 2 lines x 8.1M chars: over grid.MAX_GRID_CELLS -> flow fallback
        "ab " * 2_700_000 + "\ntail line",
    ]
    random.Random(7).shuffle(values)
    return values


def test_mixed_batch_equals_each_value_alone():
    values = _mixed_values()
    assert len(values) > 180
    batch = pd.DataFrame({
        "conv_id": ["c"] * len(values),
        "turn_idx": range(len(values)),
        "value": pd.Series(values, dtype=object),
    })
    (out,) = list(_extract_batches(iter([batch])))
    assert len(out) == len(values)
    assert list(out["turn_idx"]) == list(range(len(values)))
    kinds = set()
    for i, value in enumerate(values):
        alone = extract_row(value)
        assert tuple(out.iloc[i, 2:]) == alone, i
        kinds.update(s["type"] for s in alone[0])
    assert kinds == {"text", "table"}


def test_batched_grid_stacks_stay_within_budget(monkeypatch):
    """One turn exactly at the grid budget among ordinary turns: every
    stack the hspacings stage builds stays within MAX_GRID_CELLS, the
    grids held at once within two budgets, and every turn extracts as it
    does alone."""
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

    chunks = []
    stack_chunks = G._stack_chunks

    def spy(heights, widths):
        out = stack_chunks(heights, widths)
        for chunk in out:
            rows_ = sum(heights[i] for i in chunk) + len(chunk) - 1
            chunks.append(rows_ * max(widths[i] for i in chunk))
        return out

    held = []
    parse_grids = G.parse_grids

    def spy_parse(grids, *args):
        held.append(sum(g.size for g in grids))
        return parse_grids(grids, *args)

    monkeypatch.setattr(G, "_stack_chunks", spy)
    monkeypatch.setattr(G, "parse_grids", spy_parse)
    batch = extract_turns(texts)
    assert len(chunks) > 1
    assert max(chunks) <= budget
    # the batch is cut by grid cells: never more than two budgets held
    assert len(held) > 1
    assert max(held) < 2 * budget
    assert batch[texts.index(wide)]  # the budget turn took the grid path
    monkeypatch.setattr(G, "_stack_chunks", stack_chunks)
    assert batch == [extract_turn(t) for t in texts]
