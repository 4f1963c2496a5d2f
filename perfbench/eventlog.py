"""Offline parser for Spark's JSON event log (stdlib only).

Jobs are grouped by their `spark.job.description`, which the benchmark
sets around each public call it times.  For each group it sums task
metrics (run and CPU time, GC, shuffle, spill), the Python UDF byte
counters and the join output rows of the SQL plans, and keeps per-stage
task times for the skew figure.
"""

from __future__ import annotations

import glob
import json
import os
import statistics

_JOIN_ROWS = "number of output rows"
_PY_SENT = "data sent to Python workers"
_PY_RETURNED = "data returned from Python workers"


def read_events(path: str):
    """Events of one log file, or of every event file under a directory
    (the rolling `eventlog_v2_*` layout), in file order."""
    if os.path.isdir(path):
        files = sorted(f for f in glob.glob(os.path.join(path, "**", "*"), recursive=True)
                       if os.path.isfile(f) and os.path.basename(f).startswith(("events_", "local-", "app-"))
                       and not f.endswith(".crc"))
        files.sort(key=lambda f: (os.path.dirname(f), _index(f)))
    else:
        files = [path]
    for f in files:
        with open(f) as fh:
            for line in fh:
                line = line.strip()
                if line:
                    yield json.loads(line)


def _index(f: str) -> int:
    parts = os.path.basename(f).split("_")
    return int(parts[1]) if len(parts) > 2 and parts[1].isdigit() else 0


def _join_row_accums(plan: dict, out: set):
    if "Join" in plan.get("nodeName", ""):
        for m in plan.get("metrics", []):
            if m.get("name") == _JOIN_ROWS:
                out.add(m["accumulatorId"])
    for ch in plan.get("children", []):
        _join_row_accums(ch, out)


def _new_group() -> dict:
    return {"jobs": 0, "stages": 0, "tasks": 0, "executor_run_s": 0.0,
            "executor_cpu_s": 0.0, "gc_s": 0.0, "shuffle_read_bytes": 0,
            "shuffle_write_bytes": 0, "spill_bytes": 0, "python_bytes_sent": 0,
            "python_bytes_returned": 0, "join_output_rows": 0,
            "stage_task_s": {}, "stage_python_bytes": {}}


def summarize(events) -> dict[str, dict]:
    """{job description: sums} over every job that carried a description."""
    stage_desc: dict[int, str] = {}
    join_ids: set = set()
    groups: dict[str, dict] = {}
    for e in events:
        kind = e.get("Event", "")
        if kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            desc = props.get("spark.job.description")
            if not desc:
                continue
            g = groups.setdefault(desc, _new_group())
            g["jobs"] += 1
            for sid in e.get("Stage IDs", []):
                stage_desc[sid] = desc
        elif kind.endswith(("SQLExecutionStart", "SQLAdaptiveExecutionUpdate")):
            _join_row_accums(e.get("sparkPlanInfo") or {}, join_ids)
        elif kind == "SparkListenerStageCompleted":
            sid = e["Stage Info"]["Stage ID"]
            if sid in stage_desc:
                groups[stage_desc[sid]]["stages"] += 1
        elif kind == "SparkListenerTaskEnd":
            sid = e.get("Stage ID")
            desc = stage_desc.get(sid)
            if desc is None:
                continue
            g = groups[desc]
            tm = e.get("Task Metrics") or {}
            g["tasks"] += 1
            run_s = tm.get("Executor Run Time", 0) / 1e3
            g["executor_run_s"] += run_s
            g["executor_cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
            g["gc_s"] += tm.get("JVM GC Time", 0) / 1e3
            sr = tm.get("Shuffle Read Metrics") or {}
            g["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
            g["shuffle_write_bytes"] += (tm.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
            g["spill_bytes"] += tm.get("Memory Bytes Spilled", 0) + tm.get("Disk Bytes Spilled", 0)
            g["stage_task_s"].setdefault(sid, []).append(run_s)
            for a in (e.get("Task Info") or {}).get("Accumulables", []):
                name, upd = a.get("Name"), a.get("Update")
                if not isinstance(upd, (int, float)) and not (isinstance(upd, str) and upd.isdigit()):
                    continue
                upd = int(upd)
                if name == _PY_SENT:
                    g["python_bytes_sent"] += upd
                    g["stage_python_bytes"][sid] = g["stage_python_bytes"].get(sid, 0) + upd
                elif name == _PY_RETURNED:
                    g["python_bytes_returned"] += upd
                elif name == _JOIN_ROWS:
                    g.setdefault("_row_updates", []).append((a.get("ID"), upd))
    # plan events can follow the tasks they describe (adaptive re-plans)
    for g in groups.values():
        g["join_output_rows"] = sum(upd for aid, upd in g.pop("_row_updates", [])
                                    if aid in join_ids)
    return groups


def arrow_stage_skew(group: dict) -> float | None:
    """max ÷ median task time of the group's stage that sent the most
    bytes to Python workers (the per-document Arrow stage)."""
    if not group["stage_python_bytes"]:
        return None
    sid = max(group["stage_python_bytes"], key=group["stage_python_bytes"].get)
    times = group["stage_task_s"].get(sid, [])
    med = statistics.median(times) if times else 0.0
    return max(times) / med if med > 0 else None


def arrow_stage_run_s(group: dict) -> float:
    """Executor run time of every stage that sent bytes to Python."""
    return sum(sum(group["stage_task_s"].get(sid, []))
               for sid in group["stage_python_bytes"])


def merge(groups: dict[str, dict], prefix: str) -> dict:
    """Sum of the groups whose description starts with `prefix`."""
    out = _new_group()
    for desc, g in groups.items():
        if not desc.startswith(prefix):
            continue
        for k, v in g.items():
            if isinstance(v, dict):
                for sid, val in v.items():
                    if isinstance(val, list):
                        out[k].setdefault(sid, []).extend(val)
                    else:
                        out[k][sid] = out[k].get(sid, 0) + val
            else:
                out[k] += v
    return out
