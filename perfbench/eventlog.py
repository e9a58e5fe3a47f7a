"""Spark event-log parsing and job-to-layer attribution.

The benchmark tags every job it wants attributed with the job
description ``kgbench:<layer>`` (``TAG``).  ``parse_events`` reads the
JSON-lines log Spark writes with ``spark.eventLog.compress=false``;
``attribute`` sums each job's task counters under its layer.  Pure
Python: nothing here needs a Spark session.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass, field

TAG = "kgbench:"


@dataclass
class Counters:
    jobs: int = 0
    task_s: float = 0.0
    gc_s: float = 0.0
    rows_in: int = 0
    shuffle_write_mb: float = 0.0
    bytes_written_mb: float = 0.0
    rows_out: int = 0

    def add_task(self, m: dict) -> None:
        self.task_s += m.get("Executor Run Time", 0) / 1000
        self.gc_s += m.get("JVM GC Time", 0) / 1000
        self.rows_in += m.get("Input Metrics", {}).get("Records Read", 0)
        sw = m.get("Shuffle Write Metrics", {})
        self.shuffle_write_mb += sw.get("Shuffle Bytes Written", 0) / 2**20
        out = m.get("Output Metrics", {})
        self.bytes_written_mb += out.get("Bytes Written", 0) / 2**20
        self.rows_out += out.get("Records Written", 0)


@dataclass
class Job:
    job_id: int
    description: str | None
    submit_ms: int
    end_ms: int | None = None


@dataclass
class EventLog:
    jobs: dict[int, Job] = field(default_factory=dict)
    stage_job: dict[int, int] = field(default_factory=dict)
    # (stage id, task metrics) for every finished task
    tasks: list[tuple[int, dict]] = field(default_factory=list)


def parse_events(lines) -> EventLog:
    """Jobs, their stages and task metrics from event-log JSON lines."""
    log = EventLog()
    for line in lines:
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            jid = ev["Job ID"]
            desc = (ev.get("Properties") or {}).get("spark.job.description")
            log.jobs[jid] = Job(jid, desc, ev["Submission Time"])
            for s in ev["Stage IDs"]:
                # a stage shared by several jobs runs under the first
                log.stage_job.setdefault(s, jid)
        elif kind == "SparkListenerJobEnd":
            job = log.jobs.get(ev["Job ID"])
            if job is not None:
                job.end_ms = ev["Completion Time"]
        elif kind == "SparkListenerTaskEnd" and ev.get("Task Metrics"):
            log.tasks.append((ev["Stage ID"], ev["Task Metrics"]))
    return log


def read_event_log(log_dir: str) -> EventLog:
    paths = sorted(
        os.path.join(dp, f) for dp, _, fs in os.walk(log_dir) for f in fs
        if not f.startswith(".") and not f.endswith(".crc")
    )
    lines = []
    for p in paths:
        with open(p) as f:
            lines.extend(line for line in f if line.strip())
    return parse_events(lines)


def layer_of(description: str | None) -> str | None:
    """``kgbench:<layer>`` -> layer; any other description -> None."""
    if description and description.startswith(TAG):
        return description[len(TAG):]
    return None


def attribute(log: EventLog, window_ms: tuple[int, int] | None = None) -> dict[str, Counters]:
    """Sum task counters per layer; jobs are counted per layer too.

    ``window_ms`` keeps only jobs submitted inside [start, end); key
    ``"*"`` totals every kept job whatever its description.
    """

    def kept(job: Job) -> bool:
        return window_ms is None or window_ms[0] <= job.submit_ms < window_ms[1]

    out: dict[str, Counters] = {"*": Counters()}
    for job in log.jobs.values():
        if kept(job):
            out["*"].jobs += 1
            layer = layer_of(job.description)
            if layer is not None:
                out.setdefault(layer, Counters()).jobs += 1
    for stage, metrics in log.tasks:
        job = log.jobs.get(log.stage_job.get(stage, -1))
        if job is None or not kept(job):
            continue
        out["*"].add_task(metrics)
        layer = layer_of(job.description)
        if layer is not None:
            out.setdefault(layer, Counters()).add_task(metrics)
    return out


def idle_s(jobs: list[Job], window_ms: tuple[int, int]) -> float:
    """Time inside the window during which no job was running."""
    lo, hi = window_ms
    spans = sorted(
        (max(lo, j.submit_ms), min(hi, j.end_ms if j.end_ms is not None else hi))
        for j in jobs
    )
    busy, cur_s, cur_e = 0, None, None
    for s, e in spans:
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                busy += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        busy += cur_e - cur_s
    return (hi - lo - busy) / 1000
