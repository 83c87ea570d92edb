"""Reduce a Spark event log (plain JSON lines) to per-tag job metrics.

Each job is charged to the tag in its ``spark.job.description``
property (``<trace>:<span name>``, set by ``spans.Tracer``). Task
metrics roll up from task to stage to job to tag. Broadcast sizes come
from the ``data size`` SQL metric of ``BroadcastExchange`` nodes, which
the driver posts as ``SparkListenerDriverAccumUpdates``; they are
charged to the SQL execution's description.
"""

from __future__ import annotations

import json
from typing import Dict, Iterable, List

TASK_FIELDS = ("task_s", "cpu_s", "gc_s", "python_s",
               "shuffle_write_bytes", "spill_bytes")

_PYTHON_TIME = "time to run Python workers"  # SQL metric, milliseconds


def _zero() -> dict:
    return {k: 0.0 for k in TASK_FIELDS}


def _task_metrics(ev: dict) -> dict:
    m = ev.get("Task Metrics") or {}
    out = {
        "task_s": m.get("Executor Run Time", 0) / 1e3,
        "cpu_s": m.get("Executor CPU Time", 0) / 1e9,
        "gc_s": m.get("JVM GC Time", 0) / 1e3,
        "python_s": 0.0,
        "shuffle_write_bytes": float(
            (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)),
        "spill_bytes": float(m.get("Disk Bytes Spilled", 0)),
    }
    for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
        if acc.get("Name") == _PYTHON_TIME:
            out["python_s"] += float(acc.get("Update") or 0) / 1e3
    return out


def _broadcast_size_ids(plan: dict, out: set) -> None:
    if plan.get("nodeName") == "BroadcastExchange":
        for m in plan.get("metrics", []):
            if m.get("name") == "data size":
                out.add(m["accumulatorId"])
    for c in plan.get("children", []):
        _broadcast_size_ids(c, out)


def reduce_events(lines: Iterable[str]) -> dict:
    """Returns ``{"jobs": [...], "tags": {tag: {...}}}``.

    ``jobs`` holds one entry per job: id, tag (or None), submit and end
    times in seconds since the epoch. ``tags`` holds, per tag, the job
    count, the summed task metrics of its jobs and the broadcast bytes
    of its SQL executions."""
    jobs: Dict[int, dict] = {}
    stage_job: Dict[int, int] = {}
    stage_tot: Dict[int, dict] = {}
    exec_desc: Dict[int, str] = {}
    bcast_ids: Dict[int, set] = {}
    bcast_val: Dict[int, Dict[int, float]] = {}
    for line in lines:
        try:
            ev = json.loads(line)
        except json.JSONDecodeError:
            continue  # a log cut mid-line by a crash
        kind = ev.get("Event", "")
        if kind == "SparkListenerJobStart":
            desc = (ev.get("Properties") or {}).get("spark.job.description")
            jobs[ev["Job ID"]] = {"id": ev["Job ID"], "tag": desc,
                                  "submit": ev["Submission Time"] / 1e3,
                                  "end": None}
            for sid in ev.get("Stage IDs", []):
                stage_job[sid] = ev["Job ID"]
        elif kind == "SparkListenerJobEnd":
            j = jobs.get(ev["Job ID"])
            if j is not None:
                j["end"] = ev["Completion Time"] / 1e3
        elif kind == "SparkListenerTaskEnd":
            tot = stage_tot.setdefault(ev["Stage ID"], _zero())
            for k, v in _task_metrics(ev).items():
                tot[k] += v
        elif kind.endswith("SQLExecutionStart") or kind.endswith("SQLAdaptiveExecutionUpdate"):
            eid = ev["executionId"]
            if ev.get("description") is not None:
                exec_desc[eid] = ev["description"]
            _broadcast_size_ids(ev.get("sparkPlanInfo") or {},
                                bcast_ids.setdefault(eid, set()))
        elif kind.endswith("DriverAccumUpdates"):
            vals = bcast_val.setdefault(ev["executionId"], {})
            for acc_id, value in ev.get("accumUpdates", []):
                vals[acc_id] = float(value)

    tags: Dict[str, dict] = {}

    def _tag(name: str) -> dict:
        return tags.setdefault(name, dict(_zero(), jobs=0, broadcast_bytes=0.0))

    for j in jobs.values():
        if j["tag"] is not None:
            _tag(j["tag"])["jobs"] += 1
    for sid, tot in stage_tot.items():
        j = jobs.get(stage_job.get(sid))
        if j is None or j["tag"] is None:
            continue
        t = _tag(j["tag"])
        for k in TASK_FIELDS:
            t[k] += tot[k]
    for eid, ids in bcast_ids.items():
        desc = exec_desc.get(eid)
        if desc is None:
            continue
        vals = bcast_val.get(eid, {})
        size = sum(vals.get(i, 0.0) for i in ids)
        if size:
            _tag(desc)["broadcast_bytes"] += size
    return {"jobs": sorted(jobs.values(), key=lambda j: j["id"]), "tags": tags}


def read_log(path: str) -> dict:
    with open(path) as f:
        return reduce_events(f)


def jobs_in(jobs: List[dict], lo: float, hi: float) -> List[dict]:
    """Jobs submitted inside ``[lo, hi]``."""
    return [j for j in jobs if lo <= j["submit"] <= hi]
