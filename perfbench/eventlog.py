"""Spark event-log parser: task metrics and SQL accumulables per op.

The benchmark sets the Spark job description to the id of the operation it
is timing (trace.Tracer), so every job, and through the job's stage ids
every task, belongs to one op. The log must be plain JSON lines: the
benchmark's traced session sets ``spark.eventLog.compress=false`` and
``spark.eventLog.rolling.enabled=false``.
"""

from __future__ import annotations

import json

# SQL accumulables (Metadata "sql") summed per op, by their name in the log
SQL_ACCUMS = {
    "time to run Python workers": "python_run_ms",
    "data sent to Python workers": "python_bytes_in",
    "data returned from Python workers": "python_bytes_out",
}


def _new_op() -> dict:
    return {
        "n_jobs": 0,
        "first_job_start": None,
        "last_job_end": None,
        "n_stages": 0,
        "n_tasks": 0,
        "failed_tasks": 0,
        "task_s": 0.0,
        "task_wall_s": 0.0,
        "task_cpu_s": 0.0,
        "gc_s": 0.0,
        "input_bytes": 0,
        "input_records": 0,
        "shuffle_read_bytes": 0,
        "shuffle_write_bytes": 0,
        "spill_bytes": 0,
        **{v: 0.0 for v in SQL_ACCUMS.values()},
    }


def parse_events(lines) -> dict[str, dict]:
    """Group an event log's task metrics by job description.

    ``lines`` is any iterable of JSON-lines strings. Returns
    ``{description: metrics}``; jobs without a description are grouped
    under ``""``. Times are in seconds (job times as epoch seconds), byte
    and record counts as integers.
    """
    ops: dict[str, dict] = {}
    op_of_stage: dict[int, str] = {}
    op_of_job: dict[int, str] = {}
    for line in lines:
        line = line.strip()
        if not line:
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            desc = (ev.get("Properties") or {}).get("spark.job.description") or ""
            op = ops.setdefault(desc, _new_op())
            op["n_jobs"] += 1
            start = ev["Submission Time"] / 1000.0
            if op["first_job_start"] is None or start < op["first_job_start"]:
                op["first_job_start"] = start
            for sid in ev.get("Stage IDs", []):
                op_of_stage[sid] = desc
            op_of_job[ev["Job ID"]] = desc
        elif kind == "SparkListenerJobEnd":
            desc = op_of_job.get(ev["Job ID"])
            if desc is None:
                continue
            op = ops[desc]
            end = ev["Completion Time"] / 1000.0
            if op["last_job_end"] is None or end > op["last_job_end"]:
                op["last_job_end"] = end
        elif kind == "SparkListenerStageCompleted":
            desc = op_of_stage.get(ev["Stage Info"]["Stage ID"])
            if desc is not None:
                ops[desc]["n_stages"] += 1
        elif kind == "SparkListenerTaskEnd":
            desc = op_of_stage.get(ev["Stage ID"])
            if desc is None:
                continue
            _add_task(ops[desc], ev)
    return ops


def _add_task(op: dict, ev: dict) -> None:
    info = ev.get("Task Info") or {}
    tm = ev.get("Task Metrics") or {}
    op["n_tasks"] += 1
    reason = (ev.get("Task End Reason") or {}).get("Reason", "Success")
    if info.get("Failed") or reason != "Success":
        op["failed_tasks"] += 1
    if info.get("Launch Time") is not None and info.get("Finish Time") is not None:
        op["task_wall_s"] += (info["Finish Time"] - info["Launch Time"]) / 1000.0
    op["task_s"] += tm.get("Executor Run Time", 0) / 1000.0
    op["task_cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
    op["gc_s"] += tm.get("JVM GC Time", 0) / 1000.0
    op["spill_bytes"] += tm.get("Disk Bytes Spilled", 0)
    inp = tm.get("Input Metrics") or {}
    op["input_bytes"] += inp.get("Bytes Read", 0)
    op["input_records"] += inp.get("Records Read", 0)
    sr = tm.get("Shuffle Read Metrics") or {}
    op["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
    sw = tm.get("Shuffle Write Metrics") or {}
    op["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
    for acc in info.get("Accumulables") or []:
        key = SQL_ACCUMS.get(acc.get("Name"))
        if key is not None and acc.get("Metadata") == "sql":
            op[key] += float(acc.get("Update") or 0)


def parse_file(path: str) -> dict[str, dict]:
    with open(path) as f:
        return parse_events(f)
