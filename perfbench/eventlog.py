"""Fold a Spark event log into per-job-group totals.

The benchmark tags every Spark job it causes with ``setJobGroup`` (one group
per pipeline stage, serving call or update step).  Spark's event log, when
written uncompressed and non-rolling, is one JSON object per line; this
module reads it once and sums, per job group:

- ``jobs``, ``tasks``, executor ``cpu_s`` and ``run_s`` (task run time);
- ``shuffle_write_bytes`` and ``spill_bytes`` (disk spill);
- ``python_s``: the SQL metric "time to run Python workers", summed over
  every plan node that reports it (ArrowEvalPython, MapInPandas,
  MapInArrow, ...);
- ``files_written`` ("number of written files" on write commands),
  ``files_read`` and ``scan_rows`` ("number of files read" / "number of
  output rows" on file scans).

Jobs whose call site matches ``lineage_callsite`` are also counted per
group in ``lineage_jobs``, ``lineage_wall_s`` (job wall time) and
``lineage_rows`` (input records read).  Only the standard library is used.
"""

from __future__ import annotations

import json
import re
from collections import defaultdict

PYTHON_TIME = "time to run Python workers"
FILES_WRITTEN = "number of written files"
FILES_READ = "number of files read"
OUTPUT_ROWS = "number of output rows"
SQL_START = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart"
SQL_AQE = "org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate"
DRIVER_ACCUM = "org.apache.spark.sql.execution.ui.SparkListenerDriverAccumUpdates"

_FIELDS = (
    "jobs",
    "tasks",
    "cpu_s",
    "run_s",
    "shuffle_write_bytes",
    "spill_bytes",
    "python_s",
    "files_written",
    "files_read",
    "scan_rows",
    "lineage_jobs",
    "lineage_wall_s",
    "lineage_rows",
)


def _plan_accums(node: dict, execution: int, out: dict) -> None:
    """accumulator id → (execution id, node name, metric name)."""
    name = node.get("nodeName", "")
    for m in node.get("metrics", ()):
        out[m["accumulatorId"]] = (execution, name, m["name"])
    for child in node.get("children", ()):
        _plan_accums(child, execution, out)


def fold(path: str, lineage_callsite: str | None = None) -> dict:
    """Read the event log at ``path``; return ``{group: totals}`` (group
    ``""`` holds untagged jobs)."""
    lineage_re = re.compile(lineage_callsite) if lineage_callsite else None
    stage_job: dict[int, int] = {}
    job_group: dict[int, str] = {}
    job_start: dict[int, int] = {}
    lineage_jobs: set[int] = set()
    exec_group: dict[int, str] = {}
    accums: dict[int, tuple] = {}
    accum_total: dict[int, float] = defaultdict(float)
    groups: dict[str, dict] = defaultdict(lambda: dict.fromkeys(_FIELDS, 0))

    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                jid = ev["Job ID"]
                props = ev.get("Properties") or {}
                job_group[jid] = props.get("spark.jobGroup.id", "")
                job_start[jid] = ev.get("Submission Time", 0)
                for sid in ev.get("Stage IDs", ()):
                    stage_job.setdefault(sid, jid)
                groups[job_group[jid]]["jobs"] += 1
                if lineage_re and lineage_re.search(props.get("callSite.short", "")):
                    lineage_jobs.add(jid)
                    groups[job_group[jid]]["lineage_jobs"] += 1
            elif kind == "SparkListenerJobEnd":
                jid = ev["Job ID"]
                if jid in lineage_jobs:
                    groups[job_group[jid]]["lineage_wall_s"] += (
                        ev.get("Completion Time", 0) - job_start.get(jid, 0)
                    ) / 1e3
            elif kind == "SparkListenerTaskEnd":
                jid = stage_job.get(ev["Stage ID"])
                g = groups[job_group.get(jid, "")]
                tm = ev.get("Task Metrics") or {}
                g["tasks"] += 1
                g["cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
                g["run_s"] += tm.get("Executor Run Time", 0) / 1e3
                g["shuffle_write_bytes"] += (tm.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0
                )
                g["spill_bytes"] += tm.get("Disk Bytes Spilled", 0)
                if jid in lineage_jobs:
                    g["lineage_rows"] += (tm.get("Input Metrics") or {}).get(
                        "Records Read", 0
                    )
                for acc in (ev.get("Task Info") or {}).get("Accumulables", ()):
                    if "Update" in acc:
                        try:
                            accum_total[acc["ID"]] += float(acc["Update"])
                        except (TypeError, ValueError):
                            pass  # non-numeric accumulators carry no metric we sum
            elif kind == SQL_START:
                exec_group[ev["executionId"]] = ev.get("jobGroupId") or ""
                _plan_accums(ev["sparkPlanInfo"], ev["executionId"], accums)
            elif kind == SQL_AQE:
                _plan_accums(ev["sparkPlanInfo"], ev["executionId"], accums)
            elif kind == DRIVER_ACCUM:
                for aid, value in ev.get("accumUpdates", ()):
                    accum_total[aid] += float(value)

    for aid, total in accum_total.items():
        if aid not in accums:
            continue
        execution, node, metric = accums[aid]
        g = groups[exec_group.get(execution, "")]
        if metric == PYTHON_TIME:
            g["python_s"] += total / 1e3  # SQL timing metrics are in ms
        elif metric == FILES_WRITTEN:
            g["files_written"] += int(total)
        elif metric == FILES_READ and node.startswith("Scan"):
            g["files_read"] += int(total)
        elif metric == OUTPUT_ROWS and node.startswith("Scan"):
            g["scan_rows"] += int(total)
    return dict(groups)
