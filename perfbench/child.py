"""One measured run in a fresh process: start a session, load the seeded
inputs, warm up, then run timed passes for ``--seconds`` and check every
pass against ground truth.  Writes its result as JSON to ``--out``.

``--mode traced`` runs the same passes with Spark's event log on (the
launcher sets it through PYSPARK_SUBMIT_ARGS), tags each pass's jobs,
then times the kernel single-core on a fixed sample, on transcripts adds
two checked span-dedup passes, and reduces the event log into per-layer
numbers.  Started by run.py; not meant to be run by hand.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time
import traceback

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import procs  # noqa: E402
import workloads  # noqa: E402

# Warm-up passes, covering the JIT / codegen ramp (NOTES.md): the first
# pass runs 3-4x slower than steady state and passes keep getting faster
# until about the fourth.
WARMUP_PASSES = 4
# The window runs at least this many timed passes, so the median absorbs
# a pass slowed by a GC or another process on the box.
MIN_TIMED_PASSES = 5
PASS_TAG = "perfbench.pass"


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--mode", choices=["plain", "traced"], required=True)
    ap.add_argument("--run-dir", required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    os.chdir(args.run_dir)
    nproc = os.cpu_count() or 1

    t = time.perf_counter()
    wl = workloads.WORKLOADS[args.workload](args.seed, args.run_dir)
    gen_s = time.perf_counter() - t

    from crrf_det_spark.pipeline import build_session

    t0 = time.perf_counter()
    spark = build_session(master=f"local[{nproc}]", shuffle_partitions=nproc)
    sc = spark.sparkContext
    sc.setLogLevel("ERROR")
    session_s = time.perf_counter() - t0
    wl.load(spark)

    check = workloads.Check()
    errors: list[str] = []

    def one_pass(wl, tag: str, check: workloads.Check) -> tuple[float, bool]:
        """Wall time of one pass (its output check runs after, untimed)
        and whether its job succeeded; a failed job fails all its units."""
        sc.setLocalProperty(PASS_TAG, tag)
        t = time.perf_counter()
        try:
            wl.run_pass(spark)
            ok = True
        except Exception:
            errors.append(traceback.format_exc(limit=3))
            check.fail_pass(wl.units)
            ok = False
        finally:
            sc.setLocalProperty(PASS_TAG, None)
        dt = time.perf_counter() - t
        if ok and hasattr(wl, "check_pass"):
            wl.check_pass(check)
        return dt, ok

    warmup = [one_pass(wl, f"warmup-{i}", check)[0] for i in range(WARMUP_PASSES)]
    setup_s = time.perf_counter() - t0

    pass_s: list[float] = []
    peaks: list[int] = []
    timed_units = 0
    with procs.PeakRss(os.getpid()) as rss:
        rss.take()
        t_window = time.perf_counter()
        while (time.perf_counter() - t_window < args.seconds
               or len(pass_s) < MIN_TIMED_PASSES):
            dt, ok = one_pass(wl, f"timed-{len(pass_s)}", check)
            peaks.append(rss.take())
            pass_s.append(dt)
            timed_units += wl.units if ok else 0
    if hasattr(wl, "verify"):
        wl.verify(check)

    result = {
        "workload": wl.name,
        "unit": wl.unit,
        "seed": args.seed,
        "units_per_pass": wl.units,
        "input_bytes": wl.input_bytes,
        "gen_s": gen_s,
        "session_s": session_s,
        "setup_s": setup_s,
        "warmup_pass_s": warmup,
        "timed_pass_s": pass_s,
        # median pass: one pass slowed by a neighbour on the box does
        # not move it
        "units_per_s": wl.units / statistics.median(pass_s) if timed_units else 0.0,
        "peak_rss_mb": statistics.median(peaks) / 2**20,
        "pass_peak_rss_mb": [p / 2**20 for p in peaks],
        "check": check.as_dict(),
        "errors": errors,
        "spark_version": spark.version,
    }
    if args.mode == "traced":
        import kernel_trace

        result["kernel"] = kernel_trace.trace(wl)
        if wl.name == "transcripts":
            # the span-dedup layers, traced on a seeded Zipf corpus: one
            # warm-up and one measured pass, both checked (NOTES.md)
            dedup = workloads.SpanDedup(args.seed, args.run_dir)
            dedup.load(spark)
            ops_check = workloads.Check()
            result["ops_pass_s"] = [
                one_pass(dedup, tag, ops_check)[0] for tag in ("ops-warmup", "ops-0")
            ]
            result["ops_check"] = ops_check.as_dict()
            result["ops_corpus"] = {
                "documents": dedup.units, "spans": dedup.n_spans,
                "planted_pairs": dedup.n_planted,
                "reference_edges": dedup.n_reference_edges,
            }
    spark.stop()
    if args.mode == "traced":
        import eventlog

        log_dir = os.path.join(args.run_dir, "eventlog")
        (path,) = [os.path.join(log_dir, f) for f in os.listdir(log_dir)]
        result["eventlog"] = eventlog.reduce_file(path, nproc)

    with open(args.out, "w") as f:
        json.dump(result, f)
    return 0


if __name__ == "__main__":
    sys.exit(main())
