"""Spark event-log reader: per-job-group layer totals (stdlib json only).

Spark writes ``<dir>/eventlog_v2_<app>/events_1_<app>`` (one JSON object
per line) when ``spark.eventLog.enabled=true`` and
``spark.eventLog.compress=false``; the ``appstatus_<app>`` file beside it
is an empty marker. The benchmark tags every pass with
``SparkContext.setJobGroup``; the group id is on each job's properties and
on each SQL execution, so every job, stage, task and executed plan can be
attributed to the pass (and to its build or execute phase) that caused it.

``window(groups)`` sums one set of job groups. Scan bytes are the on-disk
size of the files the executed scans listed, not the task
``input.bytesRead`` counter (fed by Hadoop FS thread statistics, which
the vectorized parquet reader mostly bypasses). The Python-worker init
time is checked against the executor run time of the same tasks before it
is trusted (``plausibility``).
"""

from __future__ import annotations

import glob
import json
import os

SQL_PREFIX = "org.apache.spark.sql.execution.ui."

# SQL metric names (task accumulables) summed per window
PY_RUN = "time to run Python workers"
PY_INIT = "time to initialize Python workers"
PY_SENT = "data sent to Python workers"
PY_RETURNED = "data returned from Python workers"
SCAN_TIME = "scan time"


def find_log(log_dir: str) -> str:
    """The single ``events_1_*`` file under ``log_dir``."""
    hits = glob.glob(os.path.join(log_dir, "eventlog_v2_*", "events_1_*"))
    if len(hits) != 1:
        raise FileNotFoundError(f"expected one events_1_* file in {log_dir}, found {hits}")
    return hits[0]


def load(path: str) -> list[dict]:
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]


def _walk(node: dict):
    yield node
    for c in node.get("children", []):
        yield from _walk(c)


def _metric_id(node: dict, name: str) -> int | None:
    for m in node.get("metrics", []):
        if m["name"] == name:
            return m["accumulatorId"]
    return None


class EventLog:
    def __init__(self, events: list[dict]):
        self.job_group: dict[int, str | None] = {}
        self.stage_group: dict[int, str | None] = {}
        self.tasks: list[dict] = []
        # executionId -> (jobGroupId, final sparkPlanInfo)
        self.executions: dict[int, list] = {}
        # accumulatorId -> summed update posted outside tasks (scan file listing)
        self.listing_accums: dict[int, int] = {}
        for e in events:
            kind = e["Event"]
            if kind == "SparkListenerJobStart":
                g = (e.get("Properties") or {}).get("spark.jobGroup.id")
                self.job_group[e["Job ID"]] = g
                for s in e["Stage IDs"]:
                    self.stage_group.setdefault(s, g)
            elif kind == "SparkListenerTaskEnd":
                if e.get("Task End Reason", {}).get("Reason") == "Success":
                    self.tasks.append(e)
            elif kind == SQL_PREFIX + "SparkListenerSQLExecutionStart":
                self.executions[e["executionId"]] = [
                    e.get("jobGroupId"), e["sparkPlanInfo"]
                ]
            elif kind == SQL_PREFIX + "SparkListenerSQLAdaptiveExecutionUpdate":
                if e["executionId"] in self.executions:
                    self.executions[e["executionId"]][1] = e["sparkPlanInfo"]
            elif kind == SQL_PREFIX + "SparkListenerDriverAccumUpdates":
                for acc, v in e["accumUpdates"]:
                    self.listing_accums[acc] = self.listing_accums.get(acc, 0) + v

    def groups(self) -> set[str]:
        return {g for g in self.job_group.values() if g} | {
            g for g, _ in self.executions.values() if g
        }

    def window(self, groups) -> dict:
        """Totals over every job, task and SQL execution whose job group
        is in ``groups``."""
        groups = set(groups)
        m = dict.fromkeys(
            (
                "jobs", "tasks", "exec_run_ms", "exec_cpu_ms", "gc_ms",
                "spill_bytes", "shuffle_write_bytes", "shuffle_read_bytes",
                "scan_ms", "python_run_ms", "python_init_ms",
                "python_task_run_ms", "python_rows", "arrow_bytes_sent",
                "arrow_bytes_returned", "file_scans", "scan_bytes",
                "exchanges",
            ),
            0,
        )
        m["jobs"] = sum(1 for g in self.job_group.values() if g in groups)
        # plan shape: distinct executed node instances. A cached subplan
        # reappears (same accumulator ids) in every plan that reads the
        # cache, so nodes are keyed by accumulator id, not counted per plan.
        scans: dict[int, int] = {}
        exchanges: set[int] = set()
        udf_rows: set[int] = set()
        for group, plan in self.executions.values():
            if group not in groups:
                continue
            for node in _walk(plan):
                name = node["nodeName"]
                files_id = _metric_id(node, "number of files read")
                if name.startswith("Scan ") and files_id in self.listing_accums:
                    # the scan listed its files, so it ran
                    scans[files_id] = self.listing_accums.get(
                        _metric_id(node, "size of files read"), 0)
                elif name in ("Exchange", "BroadcastExchange"):
                    exchanges.add(node["metrics"][0]["accumulatorId"])
                elif name == "ArrowEvalPython":
                    udf_rows.add(_metric_id(node, "number of output rows"))
        m["file_scans"] = len(scans)
        m["scan_bytes"] = sum(scans.values())
        m["exchanges"] = len(exchanges)
        for t in self.tasks:
            if self.stage_group.get(t["Stage ID"]) not in groups:
                continue
            tm = t["Task Metrics"]
            m["tasks"] += 1
            m["exec_run_ms"] += tm["Executor Run Time"]
            m["exec_cpu_ms"] += tm["Executor CPU Time"] / 1e6
            m["gc_ms"] += tm["JVM GC Time"]
            m["spill_bytes"] += tm["Memory Bytes Spilled"] + tm["Disk Bytes Spilled"]
            m["shuffle_write_bytes"] += tm["Shuffle Write Metrics"]["Shuffle Bytes Written"]
            sr = tm["Shuffle Read Metrics"]
            m["shuffle_read_bytes"] += sr["Remote Bytes Read"] + sr["Local Bytes Read"]
            by_name, by_id = {}, {}
            for a in t["Task Info"].get("Accumulables", []):
                if isinstance(a.get("Update"), (int, str)) and str(a["Update"]).lstrip("-").isdigit():
                    by_name[a["Name"]] = by_name.get(a["Name"], 0) + int(a["Update"])
                    by_id[a["ID"]] = int(a["Update"])
            m["scan_ms"] += by_name.get(SCAN_TIME, 0)
            m["python_rows"] += sum(by_id.get(i, 0) for i in udf_rows)
            if PY_RUN in by_name:
                m["python_run_ms"] += by_name[PY_RUN]
                m["python_init_ms"] += by_name.get(PY_INIT, 0)
                m["python_task_run_ms"] += tm["Executor Run Time"]
                m["arrow_bytes_sent"] += by_name.get(PY_SENT, 0)
                m["arrow_bytes_returned"] += by_name.get(PY_RETURNED, 0)
        return m


def plausibility(m: dict) -> list[str]:
    """Names of fields in a ``window`` result that must not be published.

    - ``python_init_ms``: a worker's init time is part of the task that
      waits for it, so its sum cannot exceed those tasks' run time.
    """
    flags = []
    if m["python_init_ms"] > m["python_task_run_ms"]:
        flags.append("python_init_ms")
    return flags
