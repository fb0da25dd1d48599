"""Per-execution Spark counters parsed from a Spark event log.

Every job execution in the traced child runs under its own job
description (``cold``, ``warm:3``, ``prefix:...``).  Task metrics are
attributed to a label through job -> stage, and SQL metrics through
accumulator -> plan node -> SQL execution.
"""

from __future__ import annotations

import json
from collections import defaultdict

_PY_NODES = ("ArrowEvalPython", "BatchEvalPython", "MapInPandas", "MapInArrow",
             "FlatMapCoGroupsInPandas", "FlatMapGroupsInPandas")
_SQL = "org.apache.spark.sql.execution.ui."


def _nodes(info):
    yield info
    for child in info.get("children", []):
        yield from _nodes(child)


def parse(path: str) -> dict[str, dict[str, float]]:
    exec_label: dict[int, str] = {}
    acc_node: dict[int, tuple[int, str, str, str]] = {}
    stage_label: dict[int, str] = {}
    acc_sum: dict[int, float] = defaultdict(float)
    out: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))

    def plan(exec_id: int, info: dict) -> None:
        for node in _nodes(info):
            for m in node.get("metrics", []):
                acc_node[m["accumulatorId"]] = (
                    exec_id, node["nodeName"], node.get("simpleString", ""), m["name"])

    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == _SQL + "SparkListenerSQLExecutionStart":
                exec_label[ev["executionId"]] = ev.get("description", "")
                plan(ev["executionId"], ev["sparkPlanInfo"])
            elif kind == _SQL + "SparkListenerSQLAdaptiveExecutionUpdate":
                plan(ev["executionId"], ev["sparkPlanInfo"])
            elif kind == _SQL + "SparkListenerDriverAccumUpdates":
                for acc_id, value in ev["accumUpdates"]:
                    acc_sum[acc_id] += float(value)
            elif kind == "SparkListenerJobStart":
                label = (ev.get("Properties") or {}).get("spark.job.description", "")
                out[label]["jobs"] += 1
                for sid in ev["Stage IDs"]:
                    stage_label[sid] = label
            elif kind == "SparkListenerStageCompleted":
                sid = ev["Stage Info"]["Stage ID"]
                out[stage_label.get(sid, "")]["stages"] += 1
            elif kind == "SparkListenerTaskEnd":
                rec = out[stage_label.get(ev["Stage ID"], "")]
                rec["tasks"] += 1
                tm = ev.get("Task Metrics") or {}
                rec["run_s"] += tm.get("Executor Run Time", 0) / 1e3
                rec["cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
                rec["gc_s"] += tm.get("JVM GC Time", 0) / 1e3
                sw = tm.get("Shuffle Write Metrics") or {}
                rec["shuffle_write_mb"] += sw.get("Shuffle Bytes Written", 0) / 2**20
                sr = tm.get("Shuffle Read Metrics") or {}
                rec["shuffle_read_mb"] += (sr.get("Remote Bytes Read", 0)
                                           + sr.get("Local Bytes Read", 0)) / 2**20
                for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
                    if acc.get("Metadata") == "sql" and "Update" in acc:
                        acc_sum[acc["ID"]] += float(acc["Update"])

    for acc_id, value in acc_sum.items():
        if acc_id not in acc_node:
            continue
        exec_id, node, text, metric = acc_node[acc_id]
        rec = out[exec_label.get(exec_id, "")]
        if node in _PY_NODES:
            if metric == "number of output rows":
                rec["python_rows"] += value
                if "_pip(" in text:
                    rec["raycast_rows"] += value
                if "_map_batches" in text or "_summarize" in text:
                    rec["burn_rows"] += value
            elif metric == "data sent to Python workers":
                rec["mb_to_python"] += value / 2**20
            elif metric == "data returned from Python workers":
                rec["mb_from_python"] += value / 2**20
        elif node == "BroadcastExchange" and metric == "data size" and value > 0:
            rec["broadcast_count"] += 1
            rec["broadcast_mb"] += value / 2**20
        elif node == "Filter" and metric == "number of output rows" and "isnull(s_cc" in text:
            # the CASE branch's filter of rows still undecided after the
            # cell joins: exactly the rows that reach the ray-cast
            rec["raycast_rows"] += value
    return {k: dict(v) for k, v in out.items()}
