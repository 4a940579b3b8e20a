"""Spark event-log parser: one layer record per benchmark op.

The benchmark tags every job an op starts with the job description
``pb|<index>|<op>|<phase>`` (see harness.Spans). This module reads an
uncompressed, non-rolling event log (JSON lines) and sums, per tag, the
jobs, stages and tasks the tag started, their task metrics, the
Python-runner stages among them and the last physical plan of each SQL
execution.
"""

from __future__ import annotations

import json
import re
from dataclasses import dataclass, field

# A stage runs Python when one of its RDDs is a PythonRDD or comes from a
# Python exec node (MapInPandas, ArrowEvalPython, FlatMapGroupsInPandas...)
_PY_SCOPE = re.compile(r"Python|Pandas|InArrow")


@dataclass
class TagRecord:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    python_stages: int = 0
    python_task_run_s: float = 0.0
    run_s: float = 0.0
    cpu_s: float = 0.0
    gc_s: float = 0.0
    rows_read: int = 0
    bytes_read: int = 0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    plans: list[str] = field(default_factory=list)

    def add(self, other: "TagRecord") -> None:
        for k, v in vars(other).items():
            if k == "plans":
                self.plans.extend(v)
            else:
                setattr(self, k, getattr(self, k) + v)


def _is_python_stage(info: dict) -> bool:
    for rdd in info.get("RDD Info", []):
        if rdd.get("Name") == "PythonRDD":
            return True
        scope = rdd.get("Scope")
        if scope and _PY_SCOPE.search(json.loads(scope).get("name", "")):
            return True
    return False


def parse(lines) -> dict[str, TagRecord]:
    """Event-log lines -> {job description: TagRecord}. Jobs without a
    description are ignored. Only stages that ran count (a stage a job
    lists but skips, because its shuffle output exists, starts no
    task)."""
    stage_tag: dict[int, str] = {}
    exec_tag: dict[int, str] = {}
    plans: dict[int, str] = {}
    stage_tasks: dict[int, list[dict]] = {}
    stage_info: dict[int, dict] = {}
    jobs: dict[str, int] = {}
    for line in lines:
        if not line.strip():
            continue
        ev = json.loads(line)
        kind = ev.get("Event", "")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            tag = props.get("spark.job.description")
            if not tag:
                continue
            jobs[tag] = jobs.get(tag, 0) + 1
            for sid in ev.get("Stage IDs", []):
                stage_tag[sid] = tag
            if "spark.sql.execution.id" in props:
                exec_tag.setdefault(int(props["spark.sql.execution.id"]), tag)
        elif kind == "SparkListenerTaskEnd":
            stage_tasks.setdefault(ev["Stage ID"], []).append(ev.get("Task Metrics") or {})
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            stage_info[info["Stage ID"]] = info
        elif kind.endswith("SparkListenerSQLExecutionStart") or kind.endswith(
            "SparkListenerSQLAdaptiveExecutionUpdate"
        ):
            plans[ev["executionId"]] = ev.get("physicalPlanDescription", "")

    out: dict[str, TagRecord] = {tag: TagRecord(jobs=n) for tag, n in jobs.items()}
    for sid, tasks in stage_tasks.items():
        tag = stage_tag.get(sid)
        if tag is None:
            continue
        rec = out[tag]
        rec.stages += 1
        rec.tasks += len(tasks)
        python = _is_python_stage(stage_info.get(sid, {}))
        rec.python_stages += python
        for m in tasks:
            run_s = m.get("Executor Run Time", 0) / 1e3
            rec.run_s += run_s
            rec.cpu_s += m.get("Executor CPU Time", 0) / 1e9
            rec.gc_s += m.get("JVM GC Time", 0) / 1e3
            if python:
                rec.python_task_run_s += run_s
            inp = m.get("Input Metrics") or {}
            rec.rows_read += inp.get("Records Read", 0)
            rec.bytes_read += inp.get("Bytes Read", 0)
            sr = m.get("Shuffle Read Metrics") or {}
            rec.shuffle_read_bytes += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
            rec.shuffle_write_bytes += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
            rec.spill_bytes += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
    for eid, tag in exec_tag.items():
        if eid in plans:
            out[tag].plans.append(plans[eid])
    return out


def split_tag(tag: str) -> tuple[str, str, str] | None:
    """'pb|<index>|<op>|<phase>' -> (index, op, phase); None otherwise."""
    parts = tag.split("|")
    if len(parts) != 4 or parts[0] != "pb":
        return None
    return parts[1], parts[2], parts[3]
