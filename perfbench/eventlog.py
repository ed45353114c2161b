"""Fold a Spark event log into one row per job description.

The benchmark tags every public call it times with
``setJobDescription("<workload>:<call>")``; PySpark leaves the call site
empty, so the tag is what ties stages, tasks and executed plans back to a
call.  Read with ``spark.eventLog.compress=false``: the default zstd codec
needs a package this environment does not have.
"""

from __future__ import annotations

import glob
import json
import os
import statistics

# one row per job description; FIELDS is the schema the tests pin
FIELDS = {
    "description": str,
    "jobs": int, "stages": int, "tasks": int,
    "wall_s": float,            # first job submitted -> last job completed
    "cpu_s": float, "run_s": float, "gc_s": float,
    "input_bytes": int, "output_bytes": int,
    "shuffle_read_bytes": int, "shuffle_write_bytes": int,
    "spill_bytes": int,
    "scan_s": float,
    "python_start_s": float, "python_init_s": float, "python_run_s": float,
    "python_bytes_out": int, "python_bytes_in": int,
    "commit_s": float,
    "widest_stage_tasks": int,
    "task_max_s": float, "task_median_s": float,   # in the widest stage
    "scan_locations": list,     # one entry per file scan in executed plans
}

# SQL metric name -> (field, is_time); scale comes from the plan's metricType
_SQL_METRICS = {
    "scan time": ("scan_s", True),
    "time to start Python workers": ("python_start_s", True),
    "time to initialize Python workers": ("python_init_s", True),
    "time to run Python workers": ("python_run_s", True),
    "data sent to Python workers": ("python_bytes_out", False),
    "data returned from Python workers": ("python_bytes_in", False),
    "task commit time": ("commit_s", True),
    "job commit time": ("commit_s", True),
}
_SCALE = {"timing": 1e-3, "nsTiming": 1e-9}


def event_files(event_dir: str) -> list[list[str]]:
    """The events files under an event-log dir, one list per application:
    a rolling log's ``eventlog_v2_*/events_<n>_*`` in roll order, or a
    single-file log."""
    apps = [sorted(glob.glob(os.path.join(d, "events_*")), key=_roll_index)
            for d in sorted(glob.glob(os.path.join(event_dir,
                                                   "eventlog_v2_*")))]
    apps += [[f] for f in sorted(glob.glob(os.path.join(event_dir, "*")))
             if os.path.isfile(f)]
    return [a for a in apps if a]


def _roll_index(path: str) -> int:
    try:
        return int(os.path.basename(path).split("_")[1])
    except (IndexError, ValueError):
        return 0


def _read(files: list[str]):
    for path in files:
        with open(path) as f:
            for line in f:
                if line.strip():
                    yield json.loads(line)


def _plan_nodes(info: dict):
    todo = [info]
    while todo:
        n = todo.pop()
        yield n
        todo.extend(n.get("children", ()))


def fold(event_dir: str) -> list[dict]:
    """Rows keyed by job description, summed over every application whose
    log is under ``event_dir``.  Untagged jobs fold under ``""``."""
    rows: dict[str, dict] = {}
    for files in event_files(event_dir):
        _fold_app(_read(files), rows)
    return [{k: rows[d][k] for k in FIELDS} for d in sorted(rows)]


def _new_row(desc: str) -> dict:
    row = {k: t() for k, t in FIELDS.items()}
    row["description"] = desc
    row["_first"], row["_last"], row["_widest"] = None, None, []
    return row


def _fold_app(events, rows: dict) -> None:
    stage_desc, exec_desc, job_desc = {}, {}, {}
    acc_kind: dict[int, tuple[str, str]] = {}   # accumulator id -> name, type
    final_plan: dict[int, dict] = {}
    stage_tasks: dict[int, list[float]] = {}
    driver_accums: list[tuple[int, int, int]] = []
    stage_accums: list[tuple[int, list]] = []

    def row(desc):
        return rows.setdefault(desc, _new_row(desc))

    def learn(info):
        for n in _plan_nodes(info):
            for m in n.get("metrics", ()):
                acc_kind[m["accumulatorId"]] = (m["name"], m["metricType"])

    for e in events:
        kind = e["Event"].rsplit(".", 1)[-1]
        if kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            desc = props.get("spark.job.description") or ""
            r = row(desc)
            r["jobs"] += 1
            t = e["Submission Time"] / 1e3
            r["_first"] = t if r["_first"] is None else min(r["_first"], t)
            job_desc[e["Job ID"]] = desc
            for sid in e["Stage IDs"]:
                stage_desc.setdefault(sid, desc)
            if "spark.sql.execution.id" in props:
                exec_desc.setdefault(int(props["spark.sql.execution.id"]),
                                     desc)
        elif kind == "SparkListenerJobEnd":
            r = row(job_desc.get(e["Job ID"], ""))
            t = e["Completion Time"] / 1e3
            r["_last"] = t if r["_last"] is None else max(r["_last"], t)
        elif kind == "SparkListenerTaskEnd":
            m = e.get("Task Metrics")
            if not m:
                continue
            r = row(stage_desc.get(e["Stage ID"], ""))
            r["tasks"] += 1
            r["run_s"] += m["Executor Run Time"] / 1e3
            r["cpu_s"] += m["Executor CPU Time"] / 1e9
            r["gc_s"] += m["JVM GC Time"] / 1e3
            r["input_bytes"] += m["Input Metrics"]["Bytes Read"]
            r["output_bytes"] += m["Output Metrics"]["Bytes Written"]
            sr = m["Shuffle Read Metrics"]
            r["shuffle_read_bytes"] += (sr["Remote Bytes Read"]
                                        + sr["Local Bytes Read"])
            r["shuffle_write_bytes"] += \
                m["Shuffle Write Metrics"]["Shuffle Bytes Written"]
            r["spill_bytes"] += m["Disk Bytes Spilled"]
            info = e["Task Info"]
            stage_tasks.setdefault(e["Stage ID"], []).append(
                (info["Finish Time"] - info["Launch Time"]) / 1e3)
        elif kind == "SparkListenerStageCompleted":
            si = e["Stage Info"]
            row(stage_desc.get(si["Stage ID"], ""))["stages"] += 1
            stage_accums.append((si["Stage ID"], si.get("Accumulables", [])))
        elif kind in ("SparkListenerSQLExecutionStart",
                      "SparkListenerSQLAdaptiveExecutionUpdate"):
            learn(e["sparkPlanInfo"])
            final_plan[e["executionId"]] = e["sparkPlanInfo"]
        elif kind == "SparkListenerSQLAdaptiveSQLMetricUpdates":
            for m in e.get("sqlPlanMetrics", ()):
                acc_kind[m["accumulatorId"]] = (m["name"], m["metricType"])
        elif kind == "SparkListenerDriverAccumUpdates":
            driver_accums += [(e["executionId"], a, v)
                              for a, v in e["accumUpdates"]]

    def add_sql(r, acc_id, name, value):
        name, mtype = acc_kind.get(acc_id, (name, "sum"))
        field = _SQL_METRICS.get(name)
        if field is None:
            return
        col, is_time = field
        v = float(value)
        r[col] += v * _SCALE.get(mtype, 1e-3) if is_time else int(v)

    for sid, accs in stage_accums:
        r = row(stage_desc.get(sid, ""))
        for a in accs:
            if a.get("Value") is not None:
                add_sql(r, a["ID"], a["Name"], a["Value"])
    for eid, acc_id, v in driver_accums:
        add_sql(row(exec_desc.get(eid, "")), acc_id, "", v)
    for eid, plan in final_plan.items():
        r = row(exec_desc.get(eid, ""))
        for n in _plan_nodes(plan):
            if n["nodeName"].startswith("Scan "):
                r["scan_locations"].append(
                    n.get("metadata", {}).get("Location", n["nodeName"]))
    for sid, times in stage_tasks.items():
        r = row(stage_desc.get(sid, ""))
        if len(times) > len(r["_widest"]):
            r["_widest"] = times

    for r in rows.values():
        if r["_first"] is not None and r["_last"] is not None:
            r["wall_s"] = r["_last"] - r["_first"]
        if r["_widest"]:
            r["widest_stage_tasks"] = len(r["_widest"])
            r["task_max_s"] = max(r["_widest"])
            r["task_median_s"] = statistics.median(r["_widest"])

