"""Spark event-log parser: jobs, stages, tasks, executor run time and
shuffle bytes, per job.

Each job keeps the properties that tag it: Spark's own
``sql.streaming.queryId`` / ``streaming.sql.batchId`` on streaming
triggers, and the ``<workload>:trigger=<n>`` job group the benchmark sets
around each orchestrator trigger. The log is read after the session
stops, when Spark has flushed and closed it.
"""

from __future__ import annotations

import json
import os


def _log_files(log_dir: str) -> list[str]:
    """Plain logs, and the ``events_<n>_*`` parts of rolling logs in
    order (Spark 4 writes an ``eventlog_v2_*`` directory per app)."""
    out = []
    for d, _, names in sorted(os.walk(log_dir)):
        parts = sorted(
            (n for n in names if not n.startswith((".", "appstatus"))),
            key=lambda n: int(n.split("_")[1]) if n.startswith("events_") else 0,
        )
        out += [os.path.join(d, n) for n in parts]
    return out


def parse(log_dir: str) -> list[dict]:
    jobs: dict[int, dict] = {}
    job_of_stage: dict[int, int] = {}
    for path in _log_files(log_dir):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    group = props.get("spark.jobGroup.id") or ""
                    batch = props.get("streaming.sql.batchId")
                    if batch is None and ":trigger=" in group:
                        group, batch = group.split(":trigger=")
                    jobs[ev["Job ID"]] = {
                        "group": group,
                        "query": props.get("sql.streaming.queryId"),
                        "batch": None if batch is None else int(batch),
                        "stages": 0,
                        "tasks": 0,
                        "executor_run_ms": 0,
                        "shuffle_write_bytes": 0,
                    }
                    for sid in ev.get("Stage IDs", []):
                        job_of_stage[sid] = ev["Job ID"]
                elif kind == "SparkListenerStageCompleted":
                    job = jobs.get(job_of_stage.get(ev["Stage Info"]["Stage ID"]))
                    if job is not None:
                        job["stages"] += 1
                elif kind == "SparkListenerTaskEnd":
                    job = jobs.get(job_of_stage.get(ev["Stage ID"]))
                    if job is None:
                        continue
                    m = ev.get("Task Metrics") or {}
                    job["tasks"] += 1
                    job["executor_run_ms"] += m.get("Executor Run Time", 0)
                    job["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0
                    )
    return list(jobs.values())


def summarize(jobs: list[dict], triggers: int) -> dict[str, float]:
    """The ``spark.*`` counters over the selected jobs."""
    return {
        "spark.jobs": len(jobs),
        "spark.stages": sum(j["stages"] for j in jobs),
        "spark.tasks": sum(j["tasks"] for j in jobs),
        "spark.jobs_per_trigger": len(jobs) / max(1, triggers),
        "spark.executor_run_s": sum(j["executor_run_ms"] for j in jobs) / 1000.0,
        "spark.shuffle_write_bytes": sum(j["shuffle_write_bytes"] for j in jobs),
    }
