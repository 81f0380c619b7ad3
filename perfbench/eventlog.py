"""Reduce a Spark event log (uncompressed JSON lines) into per-layer
numbers, with no hook in the package.

Sources, all of which Spark records with the UI off:

* SQL plan trees (``SparkListenerSQLExecutionStart`` and the AQE
  ``SparkListenerSQLAdaptiveExecutionUpdate``) map every SQL-metric
  accumulator id to its operator and metric name.
* Task ends carry each task's accumulator updates and task metrics (run
  time, GC, shuffle read/write, spill).
* Job starts carry the local property the benchmark sets around each
  pass (``perfbench.pass`` = ``warmup-<i>`` / ``timed-<i>``, and
  ``ops-warmup`` / ``ops-0`` for the traced span-dedup passes), the SQL
  execution id and the call site, which attributes tasks, driver-side
  accumulator updates and executions to a pass.

``reduce_file`` returns totals per timed pass (the mean over the timed
passes); Python worker start/initialise times are totals over all passes
of the run, warm-up included, because that is where they are paid.
"""

from __future__ import annotations

import collections
import json
import statistics

SQL = "org.apache.spark.sql.execution.ui."
TAG = "perfbench.pass"


def _number(v) -> int | None:
    if isinstance(v, int):
        return v
    if isinstance(v, str) and v.lstrip("-").isdigit():
        return int(v)
    return None


class Node:
    __slots__ = ("name", "desc", "parent", "metrics")

    def __init__(self, name: str, desc: str, parent: Node | None) -> None:
        self.name = name
        self.desc = desc
        self.parent = parent
        self.metrics: dict[str, int] = {}  # metric name -> accumulator id

    def ancestors(self):
        n = self.parent
        while n is not None:
            yield n
            n = n.parent


class Log:
    """Everything the reducer needs from one event log."""

    def __init__(self, lines) -> None:
        self.acc_node: dict[int, tuple[Node, str]] = {}
        self.nodes: list[Node] = []
        self.stage_tag: dict[int, str] = {}
        self.exec_tag: dict[int, str] = {}
        self.exec_time: dict[int, list] = {}  # id -> [start, end]
        self.exec_callsite: dict[int, str] = {}
        self.jobs: dict[int, dict] = {}
        # accumulator id -> stage id -> summed task updates
        self.acc_stage: dict[int, dict[int, int]] = collections.defaultdict(
            lambda: collections.defaultdict(int))
        self.acc_max: dict[int, int] = collections.defaultdict(int)
        self.driver_acc: dict[tuple[int, int], int] = collections.defaultdict(int)
        self.tasks: list[dict] = []
        for line in lines:
            self._event(json.loads(line))

    def _plan(self, info: dict, parent: Node | None = None) -> None:
        node = Node(info["nodeName"], info.get("simpleString", ""), parent)
        self.nodes.append(node)
        for m in info.get("metrics", []):
            node.metrics[m["name"]] = m["accumulatorId"]
            self.acc_node[m["accumulatorId"]] = (node, m["name"])
        for child in info.get("children", []):
            self._plan(child, node)

    def _event(self, e: dict) -> None:
        kind = e["Event"]
        if kind in (SQL + "SparkListenerSQLExecutionStart",
                    SQL + "SparkListenerSQLAdaptiveExecutionUpdate"):
            self._plan(e["sparkPlanInfo"])
            if kind.endswith("ExecutionStart"):
                self.exec_time[e["executionId"]] = [e["time"], e["time"]]
        elif kind == SQL + "SparkListenerSQLExecutionEnd":
            if e["executionId"] in self.exec_time:
                self.exec_time[e["executionId"]][1] = e["time"]
        elif kind == SQL + "SparkListenerDriverAccumUpdates":
            for acc, value in e["accumUpdates"]:
                self.driver_acc[(e["executionId"], acc)] += _number(value) or 0
        elif kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            tag = props.get(TAG)
            exec_id = props.get("spark.sql.execution.id")
            self.jobs[e["Job ID"]] = {
                "tag": tag, "start": e["Submission Time"], "end": None,
            }
            if tag:
                for sid in e["Stage IDs"]:
                    self.stage_tag.setdefault(sid, tag)
                if exec_id is not None:
                    self.exec_tag.setdefault(int(exec_id), tag)
                    self.exec_callsite.setdefault(
                        int(exec_id), props.get("callSite.short", ""))
        elif kind == "SparkListenerJobEnd":
            if e["Job ID"] in self.jobs:
                self.jobs[e["Job ID"]]["end"] = e["Completion Time"]
        elif kind == "SparkListenerTaskEnd":
            if e.get("Task End Reason", {}).get("Reason") != "Success":
                return
            sid = e["Stage ID"]
            info, m = e["Task Info"], e.get("Task Metrics") or {}
            accs = []
            for a in info.get("Accumulables", []):
                # SQL metric updates are logged as strings
                acc, upd = a["ID"], _number(a.get("Update"))
                if acc in self.acc_node and upd is not None:
                    self.acc_stage[acc][sid] += upd
                    self.acc_max[acc] = max(self.acc_max[acc], upd)
                    accs.append(acc)
            sr = m.get("Shuffle Read Metrics", {})
            sw = m.get("Shuffle Write Metrics", {})
            self.tasks.append({
                "stage": sid,
                "run_ms": m.get("Executor Run Time", 0),
                "gc_ms": m.get("JVM GC Time", 0),
                "fetch_wait_ms": sr.get("Fetch Wait Time", 0),
                "shuffle_write_ns": sw.get("Shuffle Write Time", 0),
                "shuffle_bytes": sw.get("Shuffle Bytes Written", 0),
                "spill_bytes": m.get("Disk Bytes Spilled", 0),
                "accs": accs,
            })

    # -- queries ---------------------------------------------------------

    def tag_of_stage(self, sid: int) -> str:
        return self.stage_tag.get(sid, "")

    def metric_sum(self, node_name: str, metric: str, prefixes=("timed-",)) -> float:
        """Sum of a SQL metric over every node named ``node_name``, from
        task updates in stages, and driver-side updates in executions, of
        passes whose tag starts with one of ``prefixes``."""
        prefixes = tuple(prefixes)
        total = 0.0
        for acc, (node, name) in self.acc_node.items():
            if node.name != node_name or name != metric:
                continue
            for sid, v in self.acc_stage.get(acc, {}).items():
                if self.tag_of_stage(sid).startswith(prefixes):
                    total += v
        for (exec_id, acc), v in self.driver_acc.items():
            hit = self.acc_node.get(acc)
            if hit and hit[0].name == node_name and hit[1] == metric:
                if self.exec_tag.get(exec_id, "").startswith(prefixes):
                    total += v
        return total

    def metric_max(self, node_name: str, metric: str) -> float:
        """Largest single-task update of a metric in timed passes."""
        best = 0.0
        for acc, (node, name) in self.acc_node.items():
            if node.name == node_name and name == metric:
                stages = self.acc_stage.get(acc, {})
                if any(self.tag_of_stage(s).startswith("timed-") for s in stages):
                    best = max(best, self.acc_max[acc])
        return best

    def rows_per_stage(self, match, tag: str) -> float:
        """Largest per-stage output row count of nodes ``match`` accepts,
        within one pass: one full evaluation of the node."""
        best = 0.0
        for node in self.nodes:
            acc = node.metrics.get("number of output rows")
            if acc is None or not match(node):
                continue
            for sid, v in self.acc_stage.get(acc, {}).items():
                if self.tag_of_stage(sid) == tag:
                    best = max(best, v)
        return best

    def stages_with(self, match) -> set[int]:
        """Stages whose tasks updated a metric of a node ``match`` accepts."""
        accs = {a for a, (node, _) in self.acc_node.items() if match(node)}
        return {t["stage"] for t in self.tasks if accs.intersection(t["accs"])}

    def tags(self, prefix: str) -> list[str]:
        return sorted({j["tag"] for j in self.jobs.values()
                       if j["tag"] and j["tag"].startswith(prefix)})

    def pass_wall_ms(self, tag: str) -> float:
        js = [j for j in self.jobs.values() if j["tag"] == tag and j["end"]]
        return max(j["end"] for j in js) - min(j["start"] for j in js) if js else 0.0


def _is_band_join(node: Node) -> bool:
    return "Join" in node.name and "band#" in node.desc and "bucket#" in node.desc


def reduce_log(log: Log, nproc: int) -> dict:
    tags = log.tags("timed-")
    n = max(len(tags), 1)
    timed = [t for t in log.tasks if log.tag_of_stage(t["stage"]).startswith("timed-")]
    wall_ms = sum(log.pass_wall_ms(t) for t in tags)

    mip_stages = log.stages_with(lambda nd: nd.name == "MapInPandas")
    skews = []
    for sid in mip_stages:
        if not log.tag_of_stage(sid).startswith("timed-"):
            continue
        runs = [t["run_ms"] for t in timed if t["stage"] == sid]
        if len(runs) >= 2 and statistics.median(runs) > 0:
            skews.append(max(runs) / statistics.median(runs))

    out = {
        "timed_passes": len(tags),
        "pipeline.python_run_s": log.metric_sum("MapInPandas", "time to run Python workers") / 1e3 / n,
        "pipeline.python_boot_s": log.metric_sum("MapInPandas", "time to start Python workers", ("warmup-", "timed-")) / 1e3,
        "pipeline.python_init_s": log.metric_sum("MapInPandas", "time to initialize Python workers", ("warmup-", "timed-")) / 1e3,
        "pipeline.arrow_bytes_to_python": log.metric_sum("MapInPandas", "data sent to Python workers") / n,
        "pipeline.arrow_bytes_from_python": log.metric_sum("MapInPandas", "data returned from Python workers") / n,
        "pipeline.exchange_bytes": sum(t["shuffle_bytes"] for t in timed) / n,
        "pipeline.shuffle_write_s": sum(t["shuffle_write_ns"] for t in timed) / 1e9 / n,
        "pipeline.fetch_wait_s": sum(t["fetch_wait_ms"] for t in timed) / 1e3 / n,
        "pipeline.sort_s": log.metric_sum("Sort", "sort time") / 1e3 / n,
        "pipeline.sort_peak_mb": log.metric_max("Sort", "peak memory") / 2**20,
        "pipeline.spill_bytes": sum(t["spill_bytes"] for t in timed) / n,
        "pipeline.gc_s": sum(t["gc_ms"] for t in timed) / 1e3 / n,
        "pipeline.task_skew": statistics.median(skews) if skews else 0.0,
        "pipeline.slot_busy_share": sum(t["run_ms"] for t in timed) / (wall_ms * nproc) if wall_ms else 0.0,
        "pipeline.write_s": (
            log.metric_sum("Execute InsertIntoHadoopFsRelationCommand", "task commit time")
            + log.metric_sum("Execute InsertIntoHadoopFsRelationCommand", "job commit time")
        ) / 1e3 / n,
    }
    out.update(_ops(log, log.tags("ops-0")))
    return out


def _ops(log: Log, tags: list[str]) -> dict:
    """Span-dedup layers (spans, minhash / band join / verify, star
    rounds), per pass tagged ``tags``."""
    n = max(len(tags), 1)

    def per_pass(match) -> float:
        return sum(log.rows_per_stage(match, t) for t in tags) / n

    band_join = [nd for nd in log.nodes if _is_band_join(nd)]
    band_ids = {id(nd) for nd in band_join}
    # distinct (doc_a, doc_b) candidates: the first HashAggregate above
    # the first Exchange above the band join
    cand_aggs = set()
    for nd in band_join:
        seen_exchange = False
        for anc in nd.ancestors():
            if "Exchange" in anc.name or "QueryStage" in anc.name:
                seen_exchange = True
            elif seen_exchange and anc.name == "HashAggregate":
                cand_aggs.add(id(anc))
                break

    band_stages = log.stages_with(lambda nd: id(nd) in band_ids)
    band_ms = sum(t["run_ms"] for t in log.tasks
                  if t["stage"] in band_stages
                  and log.tag_of_stage(t["stage"]) in tags)
    candidates = per_pass(lambda nd: id(nd) in cand_aggs)
    # the Jaccard filter is folded into the verify join's condition
    verified = per_pass(lambda nd: "Join" in nd.name and "array_intersect" in nd.desc)

    rounds, round_ms = [], []
    for tag in tags:
        ends = sorted(
            log.exec_time[e][1] for e, t in log.exec_tag.items()
            if t == tag and "components.py" in log.exec_callsite.get(e, "")
            and log.exec_callsite[e].startswith("collect")
        )
        if len(ends) >= 2:
            rounds.append(len(ends) - 1)
            round_ms.append((ends[-1] - ends[0]) / (len(ends) - 1))
    return {
        "ops.spans.spans_total": per_pass(
            lambda nd: nd.name == "Filter" and "trim(span_text" in nd.desc),
        # the digest groups are cached; the scan of their rep column
        # yields one row per distinct span
        "ops.spans.distinct_spans": per_pass(
            lambda nd: nd.name == "InMemoryTableScan"
            and nd.desc.startswith("InMemoryTableScan [rep#")),
        "ops.dedup.signature_s": log.metric_sum(
            "MapInPandas", "time to run Python workers", tags) / 1e3 / n,
        "ops.dedup.band_join_s": band_ms / 1e3 / n,
        "ops.dedup.candidate_pairs": candidates,
        "ops.dedup.verified_pairs": verified,
        "ops.dedup.verify_yield": verified / candidates if candidates else 0.0,
        "ops.components.rounds": statistics.mean(rounds) if rounds else 0.0,
        "ops.components.round_s": statistics.mean(round_ms) / 1e3 if round_ms else 0.0,
    }


def reduce_file(path: str, nproc: int) -> dict:
    with open(path) as f:
        return reduce_log(Log(f), nproc)
