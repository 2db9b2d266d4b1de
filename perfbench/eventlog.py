"""Spark event-log reader for the traced run.

Reads the JSON-lines event log Spark writes when ``spark.eventLog.enabled``
is set and joins its records into task -> stage -> job -> SQL execution, so
the benchmark can attribute engine counters to a wall-clock window (the
pipeline's concurrent sink jobs all fall inside the call's window) and task
time to the table an SQL execution wrote (its output path).
"""

from __future__ import annotations

import json
import os
import re
from statistics import median
from typing import Dict, Iterable, List, Optional

# the plan's detail section: "(9) Execute InsertIntoHadoopFsRelationCommand"
# then "Input [...]" and "Arguments: file:/out/root/table, false, ..."
_INSERT = re.compile(r"Execute InsertIntoHadoopFsRelationCommand\n"
                     r"(?:.*\n)*?Arguments: ([^,\s]+),")
_SQL_START = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart"
_SQL_ADAPTIVE = ("org.apache.spark.sql.execution.ui."
                 "SparkListenerSQLAdaptiveExecutionUpdate")

# SQL metric names of an ArrowEvalPython node (PythonSQLMetrics) -> key
PYTHON_METRICS = {
    "time to run Python workers": "total_s",
    "time to initialize Python workers": "init_s",
    "data sent to Python workers": "bytes_sent",
    "data returned from Python workers": "bytes_returned",
    "number of output rows": "rows",
}
# SQL metric type -> factor to seconds (sizes and counts stay as they are)
_SCALE = {"timing": 1e-3, "nsTiming": 1e-9}


def _plan_python_accums(info: dict, out: Dict[int, tuple]) -> None:
    """accumulator id -> (PYTHON_METRICS key, scale) for every Python node."""
    if "Python" in info.get("nodeName", ""):
        for m in info.get("metrics", []):
            key = PYTHON_METRICS.get(m.get("name"))
            if key:
                out[int(m["accumulatorId"])] = (
                    key, _SCALE.get(m.get("metricType"), 1.0))
    for child in info.get("children", []):
        _plan_python_accums(child, out)


class EventLog:
    def __init__(self, path: str):
        self.jobs: Dict[int, dict] = {}
        self.stage_job: Dict[int, int] = {}
        self.tasks: List[dict] = []
        self.execs: Dict[int, dict] = {}
        with open(path) as f:
            for line in f:
                self._add(json.loads(line))

    @classmethod
    def from_dir(cls, d: str) -> "EventLog":
        files = [os.path.join(d, f) for f in os.listdir(d)
                 if not f.startswith(".")]
        if len(files) != 1:
            raise RuntimeError(f"expected one event log in {d}, got {files}")
        return cls(files[0])

    def _add(self, ev: dict) -> None:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            eid = props.get("spark.sql.execution.id")
            self.jobs[ev["Job ID"]] = {
                "submit_ms": ev["Submission Time"],
                "exec_id": int(eid) if eid is not None else None,
            }
            for sid in ev["Stage IDs"]:
                self.stage_job[sid] = ev["Job ID"]
        elif kind == "SparkListenerTaskEnd":
            info, m = ev["Task Info"], ev.get("Task Metrics") or {}
            sr = m.get("Shuffle Read Metrics") or {}
            sw = m.get("Shuffle Write Metrics") or {}
            self.tasks.append({
                "stage": ev["Stage ID"],
                "dur_ms": info["Finish Time"] - info["Launch Time"],
                "run_ms": m.get("Executor Run Time", 0),
                "cpu_ns": m.get("Executor CPU Time", 0),
                "gc_ms": m.get("JVM GC Time", 0),
                "shuffle_read": (sr.get("Remote Bytes Read", 0)
                                 + sr.get("Local Bytes Read", 0)),
                "shuffle_write": sw.get("Shuffle Bytes Written", 0),
                "accums": {int(a["ID"]): a.get("Update")
                           for a in info.get("Accumulables", [])
                           if "Update" in a},
            })
        elif kind in (_SQL_START, _SQL_ADAPTIVE):
            e = self.execs.setdefault(ev["executionId"],
                                      {"table": None, "python": {}})
            hit = _INSERT.search(ev.get("physicalPlanDescription") or "")
            if hit:
                e["table"] = os.path.basename(hit.group(1).rstrip("/"))
            _plan_python_accums(ev.get("sparkPlanInfo") or {}, e["python"])

    # ---- selections --------------------------------------------------------

    def jobs_between(self, t0_ms: float, t1_ms: float) -> List[int]:
        return [j for j, v in self.jobs.items()
                if t0_ms <= v["submit_ms"] <= t1_ms]

    def tasks_of(self, jobs: Iterable[int]) -> List[dict]:
        jobs = set(jobs)
        return [t for t in self.tasks if self.stage_job.get(t["stage"]) in jobs]

    def table_of_job(self, job: int) -> Optional[str]:
        eid = self.jobs[job]["exec_id"]
        return self.execs.get(eid, {}).get("table") if eid is not None else None

    # ---- reductions --------------------------------------------------------

    def engine_counters(self, jobs: List[int]) -> Dict[str, float]:
        tasks = self.tasks_of(jobs)
        return {
            "jobs": len(jobs),
            "stages": len({t["stage"] for t in tasks}),
            "tasks": len(tasks),
            "executor_run_s": sum(t["run_ms"] for t in tasks) / 1e3,
            "executor_cpu_s": sum(t["cpu_ns"] for t in tasks) / 1e9,
            "gc_s": sum(t["gc_ms"] for t in tasks) / 1e3,
            "shuffle_write_bytes": sum(t["shuffle_write"] for t in tasks),
            "shuffle_read_bytes": sum(t["shuffle_read"] for t in tasks),
        }

    def task_s_by_table(self, jobs: List[int]) -> Dict[str, float]:
        """Executor run time of every task, summed per written table."""
        out: Dict[str, float] = {}
        for j in jobs:
            table = self.table_of_job(j)
            if table is None:
                continue
            run = sum(t["run_ms"] for t in self.tasks_of([j])) / 1e3
            out[table] = out.get(table, 0.0) + run
        return out

    def task_skew(self, jobs: List[int], table: str) -> float:
        """max/median task duration in the busiest stage writing ``table``."""
        mine = [j for j in jobs if self.table_of_job(j) == table]
        by_stage: Dict[int, List[int]] = {}
        for t in self.tasks_of(mine):
            by_stage.setdefault(t["stage"], []).append(t)
        if not by_stage:
            raise RuntimeError(f"no task wrote {table}")
        busiest = max(by_stage.values(),
                      key=lambda ts: sum(t["run_ms"] for t in ts))
        durs = [t["dur_ms"] for t in busiest]
        return max(durs) / max(median(durs), 1)

    def python_metrics(self, jobs: List[int]) -> Dict[str, float]:
        """Summed ArrowEvalPython SQL metrics over the jobs' tasks."""
        ids: Dict[int, tuple] = {}
        for j in jobs:
            eid = self.jobs[j]["exec_id"]
            if eid is not None and eid in self.execs:
                ids.update(self.execs[eid]["python"])
        out = {k: 0.0 for k in set(PYTHON_METRICS.values())}
        for t in self.tasks_of(jobs):
            for aid, upd in t["accums"].items():
                if aid in ids:
                    key, scale = ids[aid]
                    out[key] += float(upd) * scale
        return out
