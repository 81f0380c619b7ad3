"""Single-core kernel tracing from outside the package.

The kernel modules' functions are wrapped with timers by replacing module
attributes (every ``crrf_det_spark`` module that holds a reference to the
function gets the wrapper), one pass runs over a fixed sample of the
workload's inputs in this process, and the originals are put back.  Spans
stay in memory; a stage's self time is its span minus its child spans.
"""

from __future__ import annotations

import statistics
import sys
import time

# (module, function) -> stage the function's self time is charged to
STAGES = {
    ("extract", "extract_turn_auto"): "extract.dispatch",
    ("extract", "extract_turn"): "extract.turn",
    ("extract", "tokenize_lines"): "extract.tokenize_lines_s",
    ("extract", "collect_tables"): "extract.collect_s",
    ("extract", "collect_text"): "extract.collect_s",
    ("extract", "_flow_segments"): "extract.flow_fallback",
    ("grid", "occupancy_from_text"): "grid.occupancy_s",
    ("grid", "parse_grid"): "grid.parse_grid",
    ("grid", "columns_from_grid"): "grid.columns_s",
    ("grid", "row_groups_from_column"): "grid.row_groups_s",
    ("grid", "row_hspacings_for_groups"): "grid.hspacings_s",
    ("grid", "vertical_lines_from_hspacings"): "grid.hspacings_s",
    ("grid", "group_adjacent_lines"): "grid.rect_filters_s",
    ("grid", "remove_smaller_adjacent_rectangles"): "grid.rect_filters_s",
    ("grid", "remove_edge_rectangles"): "grid.rect_filters_s",
    ("grid", "is_first_rectangle_column_valid"): "grid.rect_filters_s",
    ("grid", "remove_busy_column_rectangles"): "grid.rect_filters_s",
    ("grid", "build_table"): "grid.table_build_s",
    ("grid", "find_intersections"): "grid.table_build_s",
    ("grid", "find_cells"): "grid.table_build_s",
    ("grid", "group_bboxes"): "grid.group_bboxes_s",
    ("htmlx", "html_segments"): "htmlx.html_segments_s",
    ("pdfmini", "pdf_text_lines_geometry"): "pdfmini.parse_s",
    ("pdfmini", "_stream_lines_meta"): "pdfmini.geometry",
}
PATHS = ("grid", "html", "flow_fallback", "pdf")


class Tracer:
    def __init__(self) -> None:
        # [qualified name, start, end, parent index]
        self.spans: list[list] = []
        self._stack: list[int] = []

    def wrap(self, name: str, fn):
        spans, stack = self.spans, self._stack
        clock = time.perf_counter

        def timed(*args, **kwargs):
            idx = len(spans)
            spans.append([name, clock(), 0.0, stack[-1] if stack else -1])
            stack.append(idx)
            try:
                return fn(*args, **kwargs)
            finally:
                stack.pop()
                spans[idx][2] = clock()

        return timed


class Patched:
    """Context manager: wrap every STAGES function in every package
    module that references it, restore the originals on exit."""

    def __init__(self, tracer: Tracer) -> None:
        self.tracer = tracer
        self.saved: list[tuple] = []

    def __enter__(self) -> Tracer:
        import crrf_det_spark.extract  # noqa: F401  (loads grid, htmlx)
        import crrf_det_spark.pdfmini  # noqa: F401

        pkg = [m for n, m in sys.modules.items()
               if n.startswith("crrf_det_spark") and m is not None]
        for mod_name, fn_name in STAGES:
            orig = getattr(sys.modules[f"crrf_det_spark.{mod_name}"], fn_name)
            wrapper = self.tracer.wrap(f"{mod_name}.{fn_name}", orig)
            for m in pkg:
                if getattr(m, fn_name, None) is orig:
                    self.saved.append((m, fn_name, orig))
                    setattr(m, fn_name, wrapper)
        return self.tracer

    def __exit__(self, *exc) -> None:
        for m, fn_name, orig in reversed(self.saved):
            setattr(m, fn_name, orig)


def payload_kernel(payload: bytes) -> list[dict]:
    """Per-payload body of ``pipeline.extract_payload_turns``: PDF bytes
    through pdfmini then the kernel with true line geometry, anything
    else decoded as utf-8 through the auto dispatch."""
    from crrf_det_spark import extract, pdfmini

    if pdfmini.looks_like_pdf(payload):
        lines, geom = pdfmini.pdf_text_lines_geometry(payload)
        return extract.extract_turn_auto("\n".join(lines), line_px=geom)
    return extract.extract_turn_auto(payload.decode("utf-8"))


def _units(wl):
    from crrf_det_spark import extract

    if wl.name == "pdf_payloads":
        return payload_kernel
    return extract.extract_turn_auto


def _quantile(xs: list[float], q: float) -> float:
    if not xs:
        return 0.0
    if len(xs) == 1:
        return xs[0]
    return statistics.quantiles(xs, n=100, method="inclusive")[round(q * 100) - 1]


def trace(wl) -> dict:
    """Single-core pass over ``wl.sample`` untraced (throughput), then
    traced (stage self times, per-path latency, counts)."""
    fn = _units(wl)
    for unit in wl.sample[:50]:  # imports, regex compiles, allocator
        fn(unit)
    t = time.perf_counter()
    for unit in wl.sample:
        fn(unit)
    untraced_s = time.perf_counter() - t

    tracer = Tracer()
    roots = []
    with Patched(tracer):
        fn = _units(wl)  # the wrapped module attribute
        for unit in wl.sample:
            first = len(tracer.spans)
            t = time.perf_counter()
            fn(unit)
            roots.append((first, len(tracer.spans), time.perf_counter() - t))
    return summarize(tracer.spans, roots, wl, untraced_s)


def summarize(spans, roots, wl, untraced_s: float) -> dict:
    child = [0.0] * len(spans)
    for name, start, end, parent in spans:
        if parent >= 0:
            child[parent] += end - start
    self_s: dict[str, float] = {}
    for i, (name, start, end, _) in enumerate(spans):
        stage = STAGES[tuple(name.split(".", 1))]
        self_s[stage] = self_s.get(stage, 0.0) + (end - start) - child[i]

    latency = {p: [] for p in PATHS}
    dom_parses = dom_discarded = 0
    tables = candidate_groups = 0
    for first, last, dt in roots:
        names = [spans[i][0] for i in range(first, last)]
        html = "htmlx.html_segments" in names
        grid = "extract.extract_turn" in names
        dom_parses += names.count("htmlx.html_segments")
        dom_discarded += html and grid
        tables += names.count("grid.build_table")
        candidate_groups += names.count("grid.group_adjacent_lines")
        if "pdfmini.pdf_text_lines_geometry" in names:
            path = "pdf"
        elif "extract._flow_segments" in names:
            path = "flow_fallback"
        elif grid:
            path = "grid"
        else:
            path = "html"
        latency[path].append(dt * 1e6)

    pdf_bytes = sum(len(u) for u in wl.sample if isinstance(u, bytes) and u.startswith(b"%PDF"))
    parse_s = self_s.get("pdfmini.parse_s", 0.0) + self_s.get("pdfmini.geometry", 0.0)
    out = {
        "sample_units": len(wl.sample),
        "extract.turns_per_s_1core": len(wl.sample) / untraced_s,
        "extract.html_discard_share": dom_discarded / dom_parses if dom_parses else 0.0,
        "grid.table_yield": tables / candidate_groups if candidate_groups else 0.0,
        "pdfmini.parse_s": parse_s,
        "pdfmini.bytes_per_s": pdf_bytes / parse_s if parse_s else 0.0,
        "pdfmini.geometry_share": self_s.get("pdfmini.geometry", 0.0) / parse_s if parse_s else 0.0,
    }
    for stage in set(STAGES.values()):
        if stage.endswith("_s") and not stage.startswith("pdfmini."):
            out[stage] = self_s.get(stage, 0.0)
    for p in PATHS:
        out[f"extract.path_count.{p}"] = len(latency[p])
        out[f"extract.kernel_us_p50.{p}"] = _quantile(latency[p], 0.5)
        out[f"extract.kernel_us_p99.{p}"] = _quantile(latency[p], 0.99)
    return out
