"""Re-record the small event logs that test_eventlog.py reduces.

    python3 perfbench/testdata/record.py

Run from the root of a source checkout.  Runs run.py's traced child on
tiny inputs (two timed passes per workload, no warm-up; the transcripts
run adds its span-dedup passes on 12 documents) and keeps only the events
and fields eventlog.py reads.
"""

from __future__ import annotations

import gzip
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path.insert(0, BENCH)

import procs  # noqa: E402

SEED = 7
SIZES = {"transcripts": "TRANSCRIPT_CONVS=6", "pdf_payloads": "PAYLOAD_CONVS=6"}

DROP_EVENTS = {
    "SparkListenerTaskStart", "SparkListenerStageSubmitted",
    "SparkListenerBlockManagerAdded", "SparkListenerEnvironmentUpdate",
    "SparkListenerExecutorAdded", "SparkListenerResourceProfileAdded",
    "SparkListenerLogStart", "SparkListenerApplicationStart",
    "SparkListenerApplicationEnd", "SparkListenerUnpersistRDD",
    "SparkListenerStageCompleted", "SparkListenerBlockUpdated",
}


# the SQL metrics eventlog.py reads
METRICS = {
    "number of output rows", "time to run Python workers",
    "time to start Python workers", "time to initialize Python workers",
    "data sent to Python workers", "data returned from Python workers",
    "sort time", "peak memory", "task commit time", "job commit time",
}


# operators whose description eventlog.py matches
DESCRIBED = ("Join", "InMemoryTableScan", "Filter", "HashAggregate")


def trim_plan(info: dict) -> list[dict]:
    """The node with only the metrics eventlog.py reads; codegen wrapper
    nodes are spliced out (their children take their place)."""
    children = [t for c in info.get("children", []) for t in trim_plan(c)]
    if info["nodeName"].startswith("WholeStageCodegen"):
        return children
    node = {"nodeName": info["nodeName"]}
    if any(d in info["nodeName"] for d in DESCRIBED):
        node["simpleString"] = info.get("simpleString", "")[:100]
    metrics = [{"name": m["name"], "accumulatorId": m["accumulatorId"]}
               for m in info.get("metrics", []) if m["name"] in METRICS]
    if metrics:
        node["metrics"] = metrics
    if children:
        node["children"] = children
    return [node]


def trim(e: dict, plan_accs: set) -> dict | None:
    kind = e["Event"]
    if kind in DROP_EVENTS:
        return None
    if "sparkPlanInfo" in e:
        (plan,) = trim_plan(e["sparkPlanInfo"])
        out = {"Event": kind, "executionId": e["executionId"], "sparkPlanInfo": plan}
        if "time" in e:
            out["time"] = e["time"]
        return out
    if kind == "SparkListenerJobStart":
        keep = ("perfbench.pass", "spark.sql.execution.id", "callSite.short")
        return {"Event": kind, "Job ID": e["Job ID"],
                "Submission Time": e["Submission Time"],
                "Stage IDs": e["Stage IDs"],
                "Properties": {k: v for k, v in (e.get("Properties") or {}).items()
                               if k in keep}}
    if kind == "SparkListenerTaskEnd":
        info, m = e["Task Info"], e.get("Task Metrics") or {}
        return {
            "Event": kind, "Stage ID": e["Stage ID"],
            "Task End Reason": {"Reason": e["Task End Reason"]["Reason"]},
            "Task Info": {"Accumulables": [
                {"ID": a["ID"], "Update": a.get("Update")}
                for a in info.get("Accumulables", []) if a["ID"] in plan_accs]},
            "Task Metrics": {
                k: m.get(k) for k in ("Executor Run Time", "JVM GC Time",
                                      "Disk Bytes Spilled")
            } | {
                "Shuffle Read Metrics": {"Fetch Wait Time": m.get(
                    "Shuffle Read Metrics", {}).get("Fetch Wait Time", 0)},
                "Shuffle Write Metrics": {
                    k: m.get("Shuffle Write Metrics", {}).get(k, 0)
                    for k in ("Shuffle Write Time", "Shuffle Bytes Written")},
            },
        }
    return e


def plan_accumulators(events: list[dict]) -> set:
    accs = set()

    def walk(info):
        accs.update(m["accumulatorId"] for m in info.get("metrics", [])
                    if m["name"] in METRICS)
        for c in info.get("children", []):
            walk(c)

    for e in events:
        if "sparkPlanInfo" in e:
            walk(e["sparkPlanInfo"])
    return accs


def record(workload: str) -> None:
    run_dir = os.path.abspath(os.path.join(".perfbench_run", f"record-{workload}"))
    shutil.rmtree(run_dir, ignore_errors=True)
    for sub in ("local", "tmp", "eventlog"):
        os.makedirs(os.path.join(run_dir, sub))
    name, value = SIZES[workload].split("=")
    code = (
        "import sys; sys.path.insert(0, sys.argv[1]);"
        "import workloads, child;"
        f"workloads.{name} = {value}; workloads.DEDUP_DOCS = 12;"
        "child.WARMUP_PASSES = 0; child.MIN_TIMED_PASSES = 2; import kernel_trace;"
        "kernel_trace.trace = lambda wl: {};"
        "sys.argv = sys.argv[1:]; sys.argv[0] = 'child.py'; sys.exit(child.main())"
    )
    env = dict(
        os.environ, PYTHONPATH=os.getcwd(), PYSPARK_PYTHON=sys.executable,
        SPARK_LOCAL_DIRS=f"{run_dir}/local", TMPDIR=f"{run_dir}/tmp",
        **{procs.MARK: run_dir},
        PYSPARK_SUBMIT_ARGS=" ".join([
            "--conf spark.ui.showConsoleProgress=false",
            "--conf spark.eventLog.enabled=true",
            f"--conf spark.eventLog.dir=file://{run_dir}/eventlog",
            "--conf spark.eventLog.compress=false",
            "--conf spark.eventLog.rolling.enabled=false",
            "pyspark-shell",
        ]),
    )
    subprocess.run(
        [sys.executable, "-c", code, BENCH, "--workload", workload,
         "--seed", str(SEED), "--seconds", "0", "--mode", "traced",
         "--run-dir", run_dir, "--out", f"{run_dir}/result.json"],
        env=env, check=True, cwd=run_dir, stdout=subprocess.DEVNULL,
        stderr=subprocess.DEVNULL,
    )
    (log,) = os.listdir(f"{run_dir}/eventlog")
    with open(f"{run_dir}/eventlog/{log}") as f:
        events = [json.loads(line) for line in f]
    accs = plan_accumulators(events)
    seen = set()
    path = os.path.join(HERE, f"{workload}_eventlog.jsonl.gz")
    with gzip.open(path, "wt") as f:
        for e in events:
            t = trim(e, accs)
            line = json.dumps(t, separators=(",", ":"))
            if t is not None and line not in seen:  # AQE repeats plans
                seen.add(line)
                f.write(line + "\n")
    shutil.rmtree(run_dir)


if __name__ == "__main__":
    for w in SIZES:
        record(w)
