"""Spark event-log parser (stdlib `json` only).

Reads an uncompressed event log, either one file or a rolling
`eventlog_v2_*` directory, into jobs with their submission and
completion times and per-stage sums of task metrics, including the
Python-worker accumulables that Arrow/pandas UDF stages report. Jobs are
attributed to a caller's time interval by submission time, because job
groups do not reach streaming micro-batch jobs.

"time to initialize Python workers" grows with the age of a reused
worker (a task on a worker spawned 30 s earlier reports about 30 s), so
each task's value is capped at that task's own duration.
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field
from pathlib import Path

# Accumulable names of Python UDF stages -> metric keys.
PYTHON_ACCUMS = {
    "time to run Python workers": "python_run_ms",
    "data sent to Python workers": "python_bytes_in",
    "data returned from Python workers": "python_bytes_out",
    "time to initialize Python workers": "python_init_ms",
}
TASK_KEYS = (
    "tasks", "run_ms", "cpu_ns", "gc_ms", "scan_bytes", "scan_rows",
    "shuffle_write_bytes", "shuffle_read_bytes", "fetch_wait_ms",
    "spill_bytes", "scheduler_delay_ms", "python_tasks", *PYTHON_ACCUMS.values(),
)


@dataclass
class Job:
    job_id: int
    submit_ms: int
    stage_ids: list[int]
    end_ms: int | None = None


@dataclass
class EventLog:
    jobs: list[Job] = field(default_factory=list)
    # stage id -> summed task metrics (TASK_KEYS)
    stages: dict[int, dict[str, float]] = field(default_factory=dict)
    completed_stages: set[int] = field(default_factory=set)

    def jobs_between(self, start_s: float, end_s: float) -> list[Job]:
        """Jobs submitted within [start_s, end_s] (epoch seconds)."""
        lo, hi = start_s * 1000.0, end_s * 1000.0
        return [j for j in self.jobs if lo <= j.submit_ms <= hi]

    def totals(self, jobs: list[Job]) -> dict[str, float]:
        """Summed task metrics over the stages of `jobs` that ran,
        plus job and stage counts."""
        out = dict.fromkeys(TASK_KEYS, 0.0)
        sids = {s for j in jobs for s in j.stage_ids if s in self.stages}
        for s in sids:
            for k, v in self.stages[s].items():
                out[k] += v
        out["jobs"] = float(len(jobs))
        out["stages"] = float(len(sids & self.completed_stages))
        return out


def _files(path: Path) -> list[Path]:
    if path.is_dir():
        return sorted(
            path.glob("events_*"), key=lambda p: int(p.name.split("_")[1])
        )
    return [path]


def _task_metrics(ev: dict) -> dict[str, float]:
    info = ev.get("Task Info", {})
    m = ev.get("Task Metrics") or {}
    sr = m.get("Shuffle Read Metrics", {})
    sw = m.get("Shuffle Write Metrics", {})
    inp = m.get("Input Metrics", {})
    run = m.get("Executor Run Time", 0)
    duration = info.get("Finish Time", 0) - info.get("Launch Time", 0)
    delay = duration - run - m.get("Executor Deserialize Time", 0) \
        - m.get("Result Serialization Time", 0) - info.get("Getting Result Time", 0)
    out = {
        "tasks": 1.0,
        "run_ms": run,
        "cpu_ns": m.get("Executor CPU Time", 0),
        "gc_ms": m.get("JVM GC Time", 0),
        "scan_bytes": inp.get("Bytes Read", 0),
        "scan_rows": inp.get("Records Read", 0),
        "shuffle_write_bytes": sw.get("Shuffle Bytes Written", 0),
        "shuffle_read_bytes": sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
        "fetch_wait_ms": sr.get("Fetch Wait Time", 0),
        "spill_bytes": m.get("Disk Bytes Spilled", 0),
        "scheduler_delay_ms": max(delay, 0),
        "python_tasks": 0.0,
    }
    for acc in info.get("Accumulables", []):
        key = PYTHON_ACCUMS.get(acc.get("Name"))
        if key is not None:
            v = float(acc.get("Update") or 0)
            if key == "python_init_ms":
                v = min(v, duration)
            out[key] = out.get(key, 0.0) + v
            out["python_tasks"] = 1.0
    return out


def parse(path: Path) -> EventLog:
    log = EventLog()
    by_id: dict[int, Job] = {}
    for f in _files(Path(path)):
        with open(f, encoding="utf-8") as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    job = Job(ev["Job ID"], ev["Submission Time"], list(ev["Stage IDs"]))
                    by_id[job.job_id] = job
                    log.jobs.append(job)
                elif kind == "SparkListenerJobEnd":
                    if ev["Job ID"] in by_id:
                        by_id[ev["Job ID"]].end_ms = ev["Completion Time"]
                elif kind == "SparkListenerTaskEnd":
                    st = log.stages.setdefault(ev["Stage ID"], dict.fromkeys(TASK_KEYS, 0.0))
                    for k, v in _task_metrics(ev).items():
                        st[k] += v
                elif kind == "SparkListenerStageCompleted":
                    log.completed_stages.add(ev["Stage Info"]["Stage ID"])
    return log


def union_seconds(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of [start, end] intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total
