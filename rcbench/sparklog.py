"""Per-job-group totals read back from a Spark event log.

The traced run sets one Spark job group per request or query phase
(``sc.setJobGroup``), so every job, its tasks and its SQL execution
carry the group id. This module sums, per group: jobs, tasks, executor
CPU, JVM GC time, shuffle bytes written, bytes spilled and the parquet
files the scans read (the scan node's ``number of files read`` driver
metric).
"""

from __future__ import annotations

import glob
import json
import os
from collections import defaultdict

_SQL = "org.apache.spark.sql.execution.ui."
COUNTERS = ("jobs", "tasks", "cpu_ms", "gc_ms", "shuffle_mb", "spill_mb", "files")


def _scan_file_accums(node: dict, out: set[int]) -> None:
    if node["nodeName"].startswith("Scan parquet"):
        for m in node["metrics"]:
            if m["name"] == "number of files read":
                out.add(m["accumulatorId"])
    for child in node["children"]:
        _scan_file_accums(child, out)


def group_totals(log_dir: str) -> dict[str, dict[str, float]]:
    """group id → counter → total, over every event log in ``log_dir``
    (uncompressed, non-rolling)."""
    totals: dict[str, dict[str, float]] = defaultdict(lambda: dict.fromkeys(COUNTERS, 0.0))
    stage_group: dict[int, str] = {}
    exec_group: dict[int, str] = {}
    exec_accums: dict[int, set[int]] = defaultdict(set)
    for path in glob.glob(os.path.join(log_dir, "*")):
        with open(path) as fh:
            for line in fh:
                e = json.loads(line)
                kind = e["Event"]
                if kind == "SparkListenerJobStart":
                    group = e.get("Properties", {}).get("spark.jobGroup.id")
                    if group is None:
                        continue
                    totals[group]["jobs"] += 1
                    for sid in e["Stage IDs"]:
                        stage_group.setdefault(sid, group)
                elif kind == "SparkListenerTaskEnd":
                    group = stage_group.get(e["Stage ID"])
                    tm = e.get("Task Metrics")
                    if group is None or tm is None:
                        continue
                    t = totals[group]
                    t["tasks"] += 1
                    t["cpu_ms"] += tm["Executor CPU Time"] / 1e6
                    t["gc_ms"] += tm["JVM GC Time"]
                    t["shuffle_mb"] += tm["Shuffle Write Metrics"]["Shuffle Bytes Written"] / 2**20
                    t["spill_mb"] += (tm["Memory Bytes Spilled"] + tm["Disk Bytes Spilled"]) / 2**20
                elif kind in (_SQL + "SparkListenerSQLExecutionStart",
                              _SQL + "SparkListenerSQLAdaptiveExecutionUpdate"):
                    xid = e["executionId"]
                    if e.get("jobGroupId"):
                        exec_group[xid] = e["jobGroupId"]
                    _scan_file_accums(e["sparkPlanInfo"], exec_accums[xid])
                elif kind == _SQL + "SparkListenerDriverAccumUpdates":
                    xid = e["executionId"]
                    group = exec_group.get(xid)
                    if group is None:
                        continue
                    for acc, value in e["accumUpdates"]:
                        if acc in exec_accums[xid]:
                            totals[group]["files"] += value
    return dict(totals)
