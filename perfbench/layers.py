"""Per-layer metrics of a traced run: names, units, and assembly from the
event-log reduction (eventlog.py) and the single-core kernel trace
(kernel_trace.py).

Which end-to-end metric each layer should move (NOTES.md has the table):
``pipeline.*`` moves units_per_s on every workload, except write_s
(transcripts only), python_boot_s / python_init_s (setup_s) and
sort_peak_mb / spill_bytes (run.peak_rss_mb); ``extract.*``, ``grid.*``
and ``htmlx.*`` move units_per_s on transcripts and, through the grid
stages, pdf_payloads; ``pdfmini.*`` moves pdf_payloads only.  ``ops.*``
come from a span-dedup pass the traced transcripts run adds after its
timed passes; they move no end-to-end metric of the two workloads.
"""

from __future__ import annotations

PATHS = ("grid", "html", "flow_fallback", "pdf")

PIPELINE = {
    "pipeline.python_run_s": "s",
    "pipeline.arrow_bytes_to_python": "B",
    "pipeline.arrow_bytes_from_python": "B",
    "pipeline.exchange_bytes": "B",
    "pipeline.shuffle_write_s": "s",
    "pipeline.fetch_wait_s": "s",
    "pipeline.sort_s": "s",
    "pipeline.gc_s": "s",
    "pipeline.task_skew": "ratio",
    "pipeline.slot_busy_share": "share",
    "pipeline.write_s": "s",
    "pipeline.python_boot_s": "s",
    "pipeline.python_init_s": "s",
    "pipeline.sort_peak_mb": "MB",
    "pipeline.spill_bytes": "B",
}
KERNEL = {
    "extract.turns_per_s_1core": "1/s",
    **{f"extract.kernel_us_p50.{p}": "us" for p in PATHS},
    **{f"extract.kernel_us_p99.{p}": "us" for p in PATHS},
    **{f"extract.path_count.{p}": "count" for p in PATHS},
    "extract.html_discard_share": "share",
    "extract.tokenize_lines_s": "s",
    "extract.collect_s": "s",
    "grid.occupancy_s": "s",
    "grid.columns_s": "s",
    "grid.row_groups_s": "s",
    "grid.hspacings_s": "s",
    "grid.rect_filters_s": "s",
    "grid.table_build_s": "s",
    "grid.group_bboxes_s": "s",
    "grid.table_yield": "share",
    "htmlx.html_segments_s": "s",
    "pdfmini.parse_s": "s",
    "pdfmini.bytes_per_s": "B/s",
    "pdfmini.geometry_share": "share",
}
OPS = {
    "ops.spans.spans_total": "count",
    "ops.spans.distinct_spans": "count",
    "ops.dedup.signature_s": "s",
    "ops.dedup.band_join_s": "s",
    "ops.dedup.candidate_pairs": "count",
    "ops.dedup.verified_pairs": "count",
    "ops.dedup.verify_yield": "share",
    "ops.components.rounds": "count",
    "ops.components.round_s": "s",
}
RUN = {
    "run.peak_rss_mb": "MB",
    "trace.units_per_s_traced": "1/s",
    "trace.overhead_units_per_s": "1/s",
}
PER_LAYER = {**PIPELINE, **KERNEL, **OPS, **RUN}

# Read from outside with a narrower meaning than the name suggests.
CAVEATS = {
    "pipeline.write_s": "task + job commit time of the parquet write; "
    "encoding runs inside the extraction stage's tasks and has no "
    "separate Spark metric",
    "pipeline.sort_peak_mb": "largest single-task Sort peak memory",
    "ops.dedup.signature_s": "MapInPandas Python run time: the minhash "
    "signatures are the only Python stage of strip_repeated_spans",
    "ops.dedup.band_join_s": "executor run time of the stages holding the "
    "band self-join (the join has no time metric of its own)",
}


def per_layer(plain: dict, traced: dict) -> tuple[dict, dict]:
    """(metrics, notes): every PER_LAYER value; ``notes`` names metrics
    that could not be read on this workload, and why."""
    ev = traced.get("eventlog", {})
    kern = traced.get("kernel", {})
    notes = {}
    out = {}
    for name in PIPELINE:
        out[name] = ev.get(name, 0.0)
    for name in OPS:
        out[name] = ev.get(name, 0.0)
    if traced["workload"] != "transcripts":
        notes["pipeline.write_s"] = "0: this workload writes no files"
    if "ops_check" not in traced:
        notes["ops.*"] = "0: the span-dedup pass runs in the traced transcripts run only"
    for name in KERNEL:
        out[name] = kern.get(name, 0.0)
    for p in PATHS:
        if not kern.get(f"extract.path_count.{p}"):
            notes[f"extract.kernel_us_*.{p}"] = (
                f"0: no unit of the {kern['sample_units']}-unit sample took this path")
    if not kern.get("pdfmini.parse_s"):
        notes["pdfmini.*"] = "0: no PDF payloads on this workload"
    out["run.peak_rss_mb"] = plain["peak_rss_mb"]
    out["trace.units_per_s_traced"] = traced["units_per_s"]
    out["trace.overhead_units_per_s"] = plain["units_per_s"] - traced["units_per_s"]
    return out, notes
