"""Read a Spark event log and total its work per job group.

Spark 4.1 writes the log as a rolling directory
(``eventlog_v2_<app>/events_<n>_<app>``); older layouts are one file.
Each job carries the job group that was set on the calling thread
when it started, so every job, stage and task — and the SQL metrics of
the plan nodes they ran — can be charged to that group.

Per group the totals are: jobs, stages, tasks, executor CPU and run
time, shuffle bytes read and written, spill, per-stage task-time skew,
rows out of joins, exchanges and ``WindowGroupLimit`` nodes, and
bytes written by file writes.
"""

from __future__ import annotations

import glob
import json
import os
import re
from collections import defaultdict
from statistics import median

# (plan node name test, SQL metric name) -> counter name
_ROW_METRICS = (
    (lambda n: "Join" in n, "number of output rows", "join_rows"),
    (lambda n: n == "Exchange", "shuffle records written", "exchange_rows"),
    (lambda n: n == "WindowGroupLimit", "number of output rows", "window_rows"),
    (lambda n: n.startswith("Execute InsertIntoHadoopFsRelationCommand"), "written output",
     "written_bytes"),
)


def _log_files(root: str) -> list[str]:
    rolled = glob.glob(os.path.join(root, "eventlog_v2_*", "events_*"))
    if rolled:
        return sorted(rolled, key=lambda p: int(re.search(r"events_(\d+)_", p).group(1)))
    return sorted(p for p in glob.glob(os.path.join(root, "*")) if os.path.isfile(p))


def _walk(plan: dict, out: dict) -> None:
    name = plan.get("nodeName", "")
    for m in plan.get("metrics", []):
        for test, metric, counter in _ROW_METRICS:
            if m["name"] == metric and test(name):
                out[m["accumulatorId"]] = counter
    for child in plan.get("children", []):
        _walk(child, out)


def totals_by_group(root: str) -> dict[str, dict]:
    """{job group: totals}. Jobs started with no group are totalled
    under the key ``None``."""
    groups: dict = defaultdict(lambda: defaultdict(float))
    job_ids: dict = defaultdict(list)
    stage_group: dict[int, str | None] = {}
    exec_group: dict[int, str | None] = {}
    stage_task_ms: dict[int, list[float]] = defaultdict(list)
    acc_counter: dict[int, str] = {}
    for path in _log_files(root):
        with open(path) as f:
            for line in f:
                e = json.loads(line)
                kind = e["Event"]
                if kind == "SparkListenerJobStart":
                    props = e.get("Properties") or {}
                    g = props.get("spark.jobGroup.id")
                    groups[g]["jobs"] += 1
                    job_ids[g].append(e["Job ID"])
                    for sid in e["Stage IDs"]:
                        stage_group[sid] = g
                    xid = props.get("spark.sql.execution.id")
                    if xid is not None:
                        exec_group.setdefault(int(xid), g)
                elif kind == "SparkListenerStageCompleted":
                    sid = e["Stage Info"]["Stage ID"]
                    groups[stage_group.get(sid)]["stages"] += 1
                elif kind == "SparkListenerTaskEnd":
                    sid = e["Stage ID"]
                    t = groups[stage_group.get(sid)]
                    m = e.get("Task Metrics") or {}
                    t["tasks"] += 1
                    t["cpu_ns"] += m.get("Executor CPU Time", 0)
                    t["run_ms"] += m.get("Executor Run Time", 0)
                    t["spill_bytes"] += m.get("Disk Bytes Spilled", 0)
                    sw = m.get("Shuffle Write Metrics") or {}
                    sr = m.get("Shuffle Read Metrics") or {}
                    t["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
                    t["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get(
                        "Local Bytes Read", 0)
                    stage_task_ms[sid].append(float(m.get("Executor Run Time", 0)))
                    for acc in (e.get("Task Info") or {}).get("Accumulables", []):
                        counter = acc_counter.get(acc.get("ID"))
                        if counter is not None and acc.get("Update") is not None:
                            t[counter] += float(acc["Update"])
                elif "sparkPlanInfo" in e:  # SQL execution start / AQE plan update
                    _walk(e["sparkPlanInfo"], acc_counter)
                elif kind.endswith("SparkListenerDriverAccumUpdates"):
                    t = groups[exec_group.get(e["executionId"])]
                    for acc_id, value in e["accumUpdates"]:
                        counter = acc_counter.get(acc_id)
                        if counter is not None:
                            t[counter] += float(value)
    for sid, times in stage_task_ms.items():
        if len(times) >= 2:
            groups[stage_group.get(sid)].setdefault("skews", []).append(
                max(times) / max(median(times), 1.0))
    out = {}
    for g, t in groups.items():
        out[g] = dict(t)
        out[g]["job_ids"] = job_ids[g]
    return out
