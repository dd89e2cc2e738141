"""Spark event-log summariser: per job group (``spark.jobGroup.id``), the
job count and wall time, Python-worker time and bytes, shuffle, spill and
task-time skew.  Reads the uncompressed JSON-lines log of one application,
single-file or rolling (``eventlog_v2_<app>/events_<n>_<app>``)."""

from __future__ import annotations

import glob
import json
import os
import statistics
from collections import defaultdict
from typing import Dict, Iterator, List

_PY_SENT = "data sent to Python workers"
_PY_RETURNED = "data returned from Python workers"
_PY_RUN = "time to run Python workers"  # a timing metric, milliseconds


def _event_files(log_dir: str, app_id: str) -> List[str]:
    rolling = os.path.join(log_dir, f"eventlog_v2_{app_id}")
    if os.path.isdir(rolling):
        files = glob.glob(os.path.join(rolling, "events_*"))
        return sorted(files, key=lambda f: int(os.path.basename(f).split("_")[1]))
    single = os.path.join(log_dir, app_id)
    return [single] if os.path.isfile(single) else []


def _events(log_dir: str, app_id: str) -> Iterator[dict]:
    files = _event_files(log_dir, app_id)
    if not files:
        raise FileNotFoundError(f"no event log for {app_id} in {log_dir}")
    for path in files:
        with open(path) as fh:
            for line in fh:
                yield json.loads(line)


class _Group:
    def __init__(self) -> None:
        self.jobs: Dict[int, dict] = {}
        self.task_ms: List[int] = []
        self.py_bytes_in = 0
        self.py_bytes_out = 0
        self.py_run_ms = 0
        self.shuffle_read = 0
        self.shuffle_write = 0
        self.spill = 0

    def summary(self) -> dict:
        jobs = list(self.jobs.values())
        med = statistics.median(self.task_ms) if self.task_ms else 0
        return {
            "jobs": len(jobs),
            "job_s": sum(j["s"] for j in jobs),
            "python_job_s": sum(j["s"] for j in jobs if j["python"]),
            "tasks": len(self.task_ms),
            "task_max_over_median": (max(self.task_ms) / med) if med else 0.0,
            "py_bytes_in": self.py_bytes_in,
            "py_bytes_out": self.py_bytes_out,
            "py_run_s": self.py_run_ms / 1000,
            "shuffle_read_bytes": self.shuffle_read,
            "shuffle_write_bytes": self.shuffle_write,
            "spill_bytes": self.spill,
        }


def summarize(log_dir: str, app_id: str) -> Dict[str, dict]:
    """``{job group: metrics}`` for every tagged group of application
    ``app_id``; untagged jobs are ignored."""
    groups: Dict[str, _Group] = defaultdict(_Group)
    stage_job: Dict[int, tuple] = {}
    for ev in _events(log_dir, app_id):
        kind = ev["Event"]
        if kind == "SparkListenerJobStart":
            name = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            if name is None:
                continue
            job = {"start": ev["Submission Time"], "s": 0.0, "python": False}
            groups[name].jobs[ev["Job ID"]] = job
            for sid in ev["Stage IDs"]:
                stage_job.setdefault(sid, (name, job))
        elif kind == "SparkListenerJobEnd":
            for g in groups.values():
                job = g.jobs.get(ev["Job ID"])
                if job is not None:
                    job["s"] = (ev["Completion Time"] - job["start"]) / 1000
        elif kind == "SparkListenerTaskEnd" and ev["Stage ID"] in stage_job:
            name, job = stage_job[ev["Stage ID"]]
            g = groups[name]
            info = ev["Task Info"]
            g.task_ms.append(info["Finish Time"] - info["Launch Time"])
            m = ev.get("Task Metrics") or {}
            sr = m.get("Shuffle Read Metrics", {})
            g.shuffle_read += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
            g.shuffle_write += m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
            g.spill += m.get("Disk Bytes Spilled", 0)
            for acc in info.get("Accumulables", []):
                name_ = acc.get("Name")
                if name_ in (_PY_SENT, _PY_RETURNED, _PY_RUN):
                    v = int(acc.get("Update") or 0)
                    job["python"] = True
                    if name_ == _PY_SENT:
                        g.py_bytes_in += v
                    elif name_ == _PY_RETURNED:
                        g.py_bytes_out += v
                    else:
                        g.py_run_ms += v
    return {k: g.summary() for k, g in groups.items()}
