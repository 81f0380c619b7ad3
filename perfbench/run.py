"""Extraction benchmark: one closed-loop client, one job at a time, at
local[nproc], in a fresh subprocess per run.

    python3 perfbench/run.py --workload transcripts --seed 1 --seconds 10 --trace 0

Run from the root of a source checkout (the package is imported from
there).  Workloads: transcripts, pdf_payloads (workloads.py).

``--trace 0`` starts one child (child.py) that sets up, warms up, runs
timed passes for ``--seconds`` and checks every pass; it prints the
end-to-end metrics.  ``--trace 1`` runs that untraced child and then a
traced one (event log on, kernel stages timed single-core in the driver)
and prints the per-layer metrics plus the tracing overhead.

stdout: one ``{"record": ...}`` line with the box, versions, input sizes
and per-pass times, then, as the last line, the result object
``{"correct", "attempted", "failed", "metrics"}``.  Exit code 0 only when
every run finished; a correctness error sets ``correct`` to false.  A run
refuses to start while a process of an earlier run is alive.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import procs  # noqa: E402

DEADLINE_S = 170  # the whole command, both children of a traced run included
# pdf_payloads reports its golden mismatches as measured (pdfmini + the
# geometry path mismatch ~0.5% of turns today); a share above this
# ceiling is a correctness failure, not a measurement.
PDF_MISMATCH_CEILING = 0.05

END_TO_END = {
    "units_per_s": "1/s",
    "setup_s": "s",
    "correct_share": "share",
}


def fail(msg: str, code: int = 2) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def memtotal_kb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1])
    return 0


def kill_tree(root: int) -> None:
    for sig in (signal.SIGTERM, signal.SIGKILL):
        for pid in reversed(procs.tree(root)):
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        time.sleep(1)


def run_child(args, mode: str, checkout: str, deadline: float) -> dict:
    run_dir = os.path.join(
        checkout, ".perfbench_run", f"{args.workload}-{args.seed}-{mode}-{os.getpid()}"
    )
    shutil.rmtree(run_dir, ignore_errors=True)
    for sub in ("local", "tmp", "eventlog"):
        os.makedirs(os.path.join(run_dir, sub))
    submit = ["--conf", "spark.ui.showConsoleProgress=false"]
    if mode == "traced":
        submit += [
            "--conf", "spark.eventLog.enabled=true",
            "--conf", f"spark.eventLog.dir=file://{run_dir}/eventlog",
            "--conf", "spark.eventLog.compress=false",
            "--conf", "spark.eventLog.rolling.enabled=false",
        ]
    env = dict(
        os.environ,
        PYTHONPATH=checkout,
        PYSPARK_PYTHON=sys.executable,
        PYSPARK_SUBMIT_ARGS=" ".join(submit + ["pyspark-shell"]),
        SPARK_LOCAL_DIRS=os.path.join(run_dir, "local"),
        TMPDIR=os.path.join(run_dir, "tmp"),
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={run_dir}/tmp -XX:-UsePerfData",
        **{procs.MARK: run_dir},
    )
    env.pop("PYSPARK_DRIVER_PYTHON", None)
    out = os.path.join(run_dir, "result.json")
    log_path = os.path.join(run_dir, "child.log")
    cmd = [
        sys.executable, os.path.join(HERE, "child.py"),
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--mode", mode,
        "--run-dir", run_dir, "--out", out,
    ]
    with open(log_path, "w") as log:
        child = subprocess.Popen(
            cmd, cwd=run_dir, env=env, stdout=log, stderr=subprocess.STDOUT
        )
        try:
            rc = child.wait(timeout=max(1.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            kill_tree(child.pid)
            child.wait()
            rc = None
    # the JVM and its Python workers exit once the driver is gone; wait
    t = time.monotonic()
    while procs.marked(run_dir) and time.monotonic() - t < 20:
        time.sleep(0.2)
    leftover = procs.marked(run_dir)
    for pid in leftover:
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    result = None
    if rc == 0 and os.path.isfile(out):
        with open(out) as f:
            result = json.load(f)
    if result is None or leftover:
        with open(log_path, errors="replace") as f:
            tail = f.read()[-4000:]
        shutil.rmtree(run_dir, ignore_errors=True)
        why = "timed out" if rc is None else f"exit code {rc}"
        if leftover:
            why += f"; processes {leftover} outlived the driver"
        fail(f"{mode} child failed ({why}); log tail:\n{tail}", 3)
    shutil.rmtree(run_dir, ignore_errors=True)
    return result


def verdict(res: dict) -> tuple[bool, int, float]:
    """(correct, failed units, correct share) of one child's checks."""
    c = res["check"]
    lost = c["failed"] + c["missing"] + c["duplicated"]
    share = 1.0 - (lost + c["unequal"]) / c["attempted"]
    if res["workload"] == "pdf_payloads":
        ok = lost == 0 and c["unequal"] <= PDF_MISMATCH_CEILING * c["attempted"]
    else:
        ok = lost == 0 and c["unequal"] == 0
    ops = res.get("ops_check")  # the traced run's span-dedup passes
    if ops:
        ok = ok and not (ops["failed"] or ops["missing"] or ops["duplicated"]
                         or ops["unequal"])
    return ok and not res["errors"], lost, share


def record(res: dict, nproc: int) -> dict:
    import pyarrow

    keep = (
        "workload", "unit", "seed", "units_per_pass", "input_bytes", "gen_s",
        "session_s", "setup_s", "warmup_pass_s", "timed_pass_s", "check",
        "errors", "pass_peak_rss_mb", "ops_pass_s", "ops_check", "ops_corpus",
    )
    out = {k: res[k] for k in keep if k in res}
    c = res["check"]
    out["error_rate"] = 1.0 - verdict(res)[2]
    out["mismatch_units"] = c["unequal"]
    out.update(
        nproc=nproc,
        memtotal_kb=memtotal_kb(),
        spark=res["spark_version"],
        python=platform.python_version(),
        pyarrow=pyarrow.__version__,
    )
    return out


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["transcripts", "pdf_payloads"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    deadline = time.monotonic() + DEADLINE_S

    checkout = os.getcwd()
    if not os.path.isfile(os.path.join(checkout, "crrf_det_spark", "__init__.py")):
        fail("run from the root of a source checkout: crrf_det_spark/ not found")
    stale = procs.marked()
    if stale:
        fail(f"processes of an earlier run (JVM or Python workers) are still alive: {stale}", 4)
    nproc = os.cpu_count() or 1

    plain = run_child(args, "plain", checkout, deadline)
    ok, lost, share = verdict(plain)
    attempted = plain["check"]["attempted"]
    if not args.trace:
        print(json.dumps({"record": record(plain, nproc)}))
        metrics = {
            "units_per_s": plain["units_per_s"],
            "setup_s": plain["setup_s"],
            "correct_share": share,
        }
        units = END_TO_END
    else:
        import layers

        traced = run_child(args, "traced", checkout, deadline)
        t_ok, t_lost, _ = verdict(traced)
        ok, lost = ok and t_ok, lost + t_lost
        attempted += traced["check"]["attempted"]
        metrics, notes = layers.per_layer(plain, traced)
        rec = record(traced, nproc)
        rec["unreadable"] = notes
        rec["metric_notes"] = layers.CAVEATS
        print(json.dumps({"record": rec}))
        units = layers.PER_LAYER
    print(json.dumps({
        "correct": ok,
        "attempted": attempted,
        "failed": lost,
        "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in units},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
