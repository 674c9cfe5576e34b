"""Spark-side counts and metrics, attributed to benchmark calls.

Every call the benchmark makes into a Spark layer runs under a job
group whose id is unique to that call and whose description is
``{workload}/{entry}/{phase}``. Two sources read them back:

* :func:`group_counts` asks ``statusTracker()`` for the jobs, stages and
  tasks of one group. It is cheap and exact, so every run records it.
* :func:`parse_event_log` reads the Spark event log, which only the
  traced run enables, and sums executor and Python-worker metrics per
  job description, plus each job's submission and completion time.
"""

from __future__ import annotations

import json
import os
from contextlib import contextmanager


@contextmanager
def job_group(sc, group_id: str, description: str):
    sc.setJobGroup(group_id, description)
    try:
        yield
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


def group_counts(sc, group_id: str) -> dict:
    """Jobs, stages that ran, and their tasks for one job group."""
    st = sc.statusTracker()
    stage_ids: set[int] = set()
    jobs = st.getJobIdsForGroup(group_id)
    for jid in jobs:
        info = st.getJobInfo(jid)
        if info is not None:
            stage_ids.update(info.stageIds)
    stages = tasks = 0
    for sid in stage_ids:
        sinfo = st.getStageInfo(sid)
        # stages whose shuffle output was reused are skipped: no tasks ran
        if sinfo is not None and sinfo.numCompletedTasks + sinfo.numFailedTasks > 0:
            stages += 1
            tasks += sinfo.numTasks
    return {"jobs": len(jobs), "stages": stages, "tasks": tasks}


# per-description metric key -> unit, as the benchmark reports them
METRIC_UNITS = {
    "executor_run_s": "s",
    "executor_cpu_s": "s",
    "python_worker_s": "s",
    "python_bytes": "bytes",
    "shuffle_bytes": "bytes",
    "input_bytes": "bytes",
}

# accumulable name -> (metric key, scale to base unit); the Python
# entries are SQL metrics of the Arrow/pandas Python exec nodes
_STAGE_METRICS = {
    "internal.metrics.executorRunTime": ("executor_run_s", 1e-3),
    "internal.metrics.executorCpuTime": ("executor_cpu_s", 1e-9),
    "internal.metrics.input.bytesRead": ("input_bytes", 1.0),
    "internal.metrics.shuffle.write.bytesWritten": ("shuffle_bytes", 1.0),
    "time to run Python workers": ("python_worker_s", 1e-3),
    "data sent to Python workers": ("python_bytes", 1.0),
    "data returned from Python workers": ("python_bytes", 1.0),
}


def event_log_files(root: str) -> list[str]:
    out = []
    for dirpath, _dirs, files in os.walk(root):
        for f in files:
            if not f.startswith("."):
                out.append(os.path.join(dirpath, f))
    # rolling logs are events_<n>_<app>: order by the sequence number
    def key(p):
        parts = os.path.basename(p).split("_")
        return (os.path.dirname(p), int(parts[1]) if len(parts) > 2 and parts[1].isdigit() else 0)

    return sorted(out, key=key)


def parse_event_log(root: str) -> dict:
    """Per job description: summed stage metrics, job count, and the
    list of (submit_s, complete_s) job intervals in epoch seconds."""
    # job and stage ids restart in every application (the benchmark
    # restarts its SparkContext during set-up): key them by log source
    job_desc: dict[tuple, str] = {}
    stage_job: dict[tuple, tuple] = {}
    jobs: dict[tuple, list] = {}
    per_desc: dict[str, dict] = {}
    stage_events = []
    for path in event_log_files(root):
        app = os.path.dirname(path) if os.path.dirname(path) != root else path
        with open(path, encoding="utf-8") as fh:
            for line in fh:
                line = line.strip()
                if not line.startswith("{"):
                    continue
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    jid = (app, ev["Job ID"])
                    props = ev.get("Properties") or {}
                    job_desc[jid] = props.get("spark.job.description") or ""
                    for sid in ev.get("Stage IDs", []):
                        stage_job[(app, sid)] = jid
                    jobs[jid] = [ev.get("Submission Time", 0) / 1e3, None]
                elif kind == "SparkListenerJobEnd":
                    jid = (app, ev["Job ID"])
                    if jid in jobs:
                        jobs[jid][1] = ev.get("Completion Time", 0) / 1e3
                elif kind == "SparkListenerStageCompleted":
                    stage_events.append((app, ev["Stage Info"]))
    for jid, desc in job_desc.items():
        d = per_desc.setdefault(desc, _empty())
        d["jobs"] += 1
        if jobs[jid][1] is not None:
            d["intervals"].append(tuple(jobs[jid]))
    for app, info in stage_events:
        jid = stage_job.get((app, info["Stage ID"]))
        if jid is None:
            continue
        d = per_desc.setdefault(job_desc.get(jid, ""), _empty())
        d["stages"] += 1
        d["tasks"] += info.get("Number of Tasks", 0)
        for acc in info.get("Accumulables", []):
            name = acc.get("Name") or ""
            hit = _STAGE_METRICS.get(name)
            if hit is None:
                continue
            key, scale = hit
            try:
                d[key] += float(acc.get("Value", 0)) * scale
            except (TypeError, ValueError):
                continue
    return per_desc


def _empty() -> dict:
    return {"jobs": 0, "stages": 0, "tasks": 0, "intervals": [],
            **dict.fromkeys(METRIC_UNITS, 0.0)}
