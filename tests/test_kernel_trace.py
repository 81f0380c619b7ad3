"""The benchmark's kernel tracer (perfbench/kernel_trace.py) attributes
time by replacing kernel module attributes; every stage it names must
exist, and the batched stages must still run under those names."""

import importlib
import os
import sys
from types import SimpleNamespace

from crrf_det_spark import synth
from crrf_det_spark.pdfmini import make_pdf

TRACER = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "perfbench", "kernel_trace.py",
)


def _kernel_trace():
    """Load the tracer without writing bytecode next to it."""
    spec = importlib.util.spec_from_file_location("kernel_trace", TRACER)
    mod = importlib.util.module_from_spec(spec)
    dont_write = sys.dont_write_bytecode
    sys.dont_write_bytecode = True
    try:
        spec.loader.exec_module(mod)
    finally:
        sys.dont_write_bytecode = dont_write
    return mod


def test_every_traced_stage_resolves():
    kt = _kernel_trace()
    for mod_name, fn_name in kt.STAGES:
        mod = importlib.import_module(f"crrf_det_spark.{mod_name}")
        assert callable(getattr(mod, fn_name, None)), (mod_name, fn_name)


def test_trace_sees_the_batched_stages():
    kt = _kernel_trace()
    rows, _ = synth.generate(n_convs=14, seed=5, skew_convs=0, skew_factor=1)
    texts = [r["text"] for r in rows if "<" not in r["text"]]
    assert len(texts) >= 60
    sample = [t.encode("utf-8") for t in texts[:40]]
    sample += [make_pdf(t.split("\n")) for t in texts[40:60]]
    out = kt.trace(SimpleNamespace(name="pdf_payloads", sample=sample))
    for stage in ("grid.hspacings_s", "grid.rect_filters_s",
                  "grid.table_build_s", "extract.tokenize_lines_s",
                  "extract.collect_s", "pdfmini.parse_s",
                  "grid.columns_s", "grid.row_groups_s",
                  "pdfmini.geometry_share"):
        assert out[stage] > 0, stage
    assert out["extract.path_count.pdf"] == 20
    assert out["extract.path_count.grid"] == 40
