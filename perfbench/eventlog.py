"""Roll Spark's event log up into per-interval job and task totals.

The benchmark enables the event log (``spark.eventLog.*`` through
``get_spark(extra_conf=...)``) on its traced run only. Each Spark job is
assigned to the caller-supplied interval that contains its submission time;
its tasks' metrics are summed into that interval. Only the job-start,
job-end and task-end events are parsed (the SQL plan events, which make up
most of the log's bytes, are skipped by their line prefix).
"""

from __future__ import annotations

import json
import os

_WANTED = tuple('{"Event":"%s"' % e for e in
                ("SparkListenerJobStart", "SparkListenerJobEnd", "SparkListenerTaskEnd"))
_MIB = float(1 << 20)


def _lines(log_dir: str):
    for root, _dirs, files in os.walk(log_dir):
        for name in sorted(files):
            if name.startswith(".") or name.startswith("appstatus"):
                continue
            with open(os.path.join(root, name)) as f:
                for line in f:
                    if line.startswith(_WANTED):
                        yield json.loads(line)


def load(log_dir: str) -> list[dict]:
    """Jobs with submission/completion time (s since the epoch) and summed
    task metrics: cpu_s, gc_s, shuffle_write_mib, spill_mib,
    python_run_s, python_start_s."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    for ev in _lines(log_dir):
        kind = ev["Event"]
        if kind == "SparkListenerJobStart":
            jid = ev["Job ID"]
            jobs[jid] = {"submit": ev["Submission Time"] / 1000.0, "end": None,
                         "cpu_s": 0.0, "gc_s": 0.0,
                         "shuffle_write_mib": 0.0, "spill_mib": 0.0,
                         "python_run_s": 0.0, "python_start_s": 0.0}
            for sid in ev["Stage IDs"]:
                stage_job.setdefault(sid, jid)
        elif kind == "SparkListenerJobEnd":
            if ev["Job ID"] in jobs:
                jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000.0
        else:
            job = jobs.get(stage_job.get(ev["Stage ID"], -1))
            tm = ev.get("Task Metrics")
            if job is None or not tm:
                continue
            job["cpu_s"] += tm["Executor CPU Time"] / 1e9
            job["gc_s"] += tm["JVM GC Time"] / 1e3
            job["shuffle_write_mib"] += tm["Shuffle Write Metrics"]["Shuffle Bytes Written"] / _MIB
            job["spill_mib"] += tm["Disk Bytes Spilled"] / _MIB
            # the Python-runner SQL metrics are millisecond timings
            for acc in ev["Task Info"].get("Accumulables", []):
                name = acc.get("Name")
                if name == "time to run Python workers":
                    job["python_run_s"] += float(acc["Update"]) / 1e3
                elif name in ("time to start Python workers",
                              "time to initialize Python workers"):
                    job["python_start_s"] += float(acc["Update"]) / 1e3
    return [j for j in jobs.values() if j["end"] is not None]


def assign(jobs: list[dict], intervals: dict[str, tuple[float, float]]) -> dict[str, list[dict]]:
    """Group jobs by the named interval holding their submission time; jobs
    outside every interval go under ``None``."""
    out: dict = {name: [] for name in intervals}
    out[None] = []
    for job in jobs:
        for name, (lo, hi) in intervals.items():
            if lo <= job["submit"] <= hi:
                out[name].append(job)
                break
        else:
            out[None].append(job)
    return out


def total(jobs: list[dict], key: str) -> float:
    return sum(j[key] for j in jobs)
