"""Fold a Spark event log into per-job-group layer metrics.

The traced run tags every Spark job with a job group named after the
pipeline layer it serves (``taro:<layer>``) and writes an uncompressed
local event log. This module reads that log back — plain JSON lines, one
listener event per line — and sums, per job group:

  jobs            : jobs started under the group
  job_s           : wall time covered by the group's jobs (the union of
                    their [submission, completion] intervals, so
                    concurrent broadcast/subquery jobs are not counted
                    twice)
  executor_cpu_s  : task executor CPU time
  shuffle_bytes   : shuffle bytes written
  spill_bytes     : memory + disk bytes spilled
  node_rows       : output rows per physical plan node name (for example
                    ``MapInPandas``), from the SQL metrics that tasks
                    report as accumulator updates

Only the standard listener event schema is used, so the fold needs no
Spark session and works on a fixture log in the tests.
"""

from __future__ import annotations

import glob
import json
import os
from collections import defaultdict
from dataclasses import dataclass, field


@dataclass
class GroupStats:
    jobs: int = 0
    job_s: float = 0.0
    executor_cpu_s: float = 0.0
    shuffle_bytes: int = 0
    spill_bytes: int = 0
    node_rows: "dict[str, int]" = field(default_factory=dict)

    def minus(self, other: "GroupStats | None") -> "GroupStats":
        """Difference of two prefixes' totals (node rows are not kept)."""
        if other is None:
            return self
        return GroupStats(
            self.jobs - other.jobs,
            self.job_s - other.job_s,
            self.executor_cpu_s - other.executor_cpu_s,
            self.shuffle_bytes - other.shuffle_bytes,
            self.spill_bytes - other.spill_bytes,
        )


def event_log_lines(log_dir: str):
    """Yield the JSON lines of every event-log file under `log_dir`
    (a rolling ``eventlog_v2_*`` directory or a single file per app)."""
    paths = sorted(
        p
        for p in glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)
        if os.path.isfile(p) and "appstatus" not in os.path.basename(p)
    )
    for path in paths:
        with open(path) as f:
            yield from f


def _union_seconds(intervals: "list[tuple[int, int]]") -> float:
    total = 0
    end = None
    for s, e in sorted(intervals):
        if end is None or s > end:
            total += e - s
            end = e
        elif e > end:
            total += e - end
            end = e
    return total / 1000.0


def _plan_row_metrics(plan: dict, out: "dict[int, str]") -> None:
    for m in plan.get("metrics", []):
        if m.get("name") == "number of output rows":
            out[int(m["accumulatorId"])] = plan.get("nodeName", "")
    for child in plan.get("children", []):
        _plan_row_metrics(child, out)


def fold(lines, alias: "dict[str, str] | None" = None) -> "dict[str, GroupStats]":
    """Per-job-group stats from event-log JSON lines. `alias` renames job
    groups (a streaming query runs its micro-batch jobs under its run id;
    the caller maps that id to the layer that started the query). Jobs
    with no group are reported under the empty string."""
    alias = alias or {}
    job_group: "dict[int, str]" = {}
    job_start: "dict[int, int]" = {}
    job_end: "dict[int, int]" = {}
    stage_job: "dict[int, int]" = {}
    row_accums: "dict[int, str]" = {}
    tasks: "list[dict]" = []
    for line in lines:
        if not line.strip():
            continue
        ev = json.loads(line)
        kind = ev.get("Event", "")
        if kind == "SparkListenerJobStart":
            jid = ev["Job ID"]
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
            job_group[jid] = alias.get(group, group)
            job_start[jid] = ev["Submission Time"]
            for sid in ev.get("Stage IDs", []):
                stage_job.setdefault(sid, jid)
        elif kind == "SparkListenerJobEnd":
            job_end[ev["Job ID"]] = ev["Completion Time"]
        elif kind == "SparkListenerTaskEnd":
            tasks.append(ev)
        elif kind.endswith(("SQLExecutionStart", "SQLAdaptiveExecutionUpdate")):
            plan = ev.get("sparkPlanInfo")
            if plan:
                _plan_row_metrics(plan, row_accums)

    stats: "dict[str, GroupStats]" = defaultdict(GroupStats)
    intervals: "dict[str, list]" = defaultdict(list)
    for jid, group in job_group.items():
        stats[group].jobs += 1
        if jid in job_end:
            intervals[group].append((job_start[jid], job_end[jid]))
    for group, ivs in intervals.items():
        stats[group].job_s = _union_seconds(ivs)
    for ev in tasks:
        jid = stage_job.get(ev.get("Stage ID"))
        if jid is None:
            continue
        st = stats[job_group[jid]]
        tm = ev.get("Task Metrics") or {}
        st.executor_cpu_s += tm.get("Executor CPU Time", 0) / 1e9
        st.shuffle_bytes += (tm.get("Shuffle Write Metrics") or {}).get(
            "Shuffle Bytes Written", 0
        )
        st.spill_bytes += tm.get("Memory Bytes Spilled", 0) + tm.get(
            "Disk Bytes Spilled", 0
        )
        for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
            node = row_accums.get(int(acc.get("ID", -1)))
            if node is not None:
                st.node_rows[node] = st.node_rows.get(node, 0) + int(acc["Update"])
    return dict(stats)
