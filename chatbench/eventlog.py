"""Read Spark's JSON event log and streaming-listener progress, and
attribute jobs to the benchmark's spans.

The session must write the log uncompressed and non-rolling
(`spark.eventLog.compress=false`, `spark.eventLog.rolling.enabled=false`):
one JSON object per line.

Attribution: a job whose job group is one the benchmark set belongs to
that span label. Any other job -- e.g. one started by a streaming
`foreachBatch`, which runs on the stream thread with the query's own
group and `sql.streaming.queryId` -- belongs to the innermost span whose
time window holds the job's submission time.
"""

from __future__ import annotations

import json
import os
from collections import defaultdict
from dataclasses import dataclass, field

GROUP_PREFIX = "cb:"


@dataclass
class Job:
    job_id: int
    submit_ms: float
    end_ms: float | None = None
    group: str | None = None
    query_id: str | None = None
    stage_ids: list[int] = field(default_factory=list)
    stages: int = 0          # stages that ran tasks
    tasks: int = 0
    exchanges: int = 0       # stages that wrote shuffle output
    executor_cpu_s: float = 0.0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    input_bytes: int = 0


def read_jobs(path: str) -> list[Job]:
    """Jobs of one event-log file, with their task metrics rolled up."""
    jobs: dict[int, Job] = {}
    stage_job: dict[int, int] = {}
    stage_stats: dict[int, dict] = defaultdict(lambda: defaultdict(float))
    with open(path, encoding="utf-8") as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                job = Job(ev["Job ID"], float(ev["Submission Time"]),
                          group=props.get("spark.jobGroup.id"),
                          query_id=props.get("sql.streaming.queryId"),
                          stage_ids=list(ev.get("Stage IDs", [])))
                jobs[job.job_id] = job
                for sid in job.stage_ids:
                    stage_job.setdefault(sid, job.job_id)
            elif kind == "SparkListenerJobEnd":
                if ev["Job ID"] in jobs:
                    jobs[ev["Job ID"]].end_ms = float(ev["Completion Time"])
            elif kind == "SparkListenerTaskEnd":
                m = ev.get("Task Metrics") or {}
                st = stage_stats[ev["Stage ID"]]
                st["tasks"] += 1
                st["cpu_ns"] += m.get("Executor CPU Time", 0)
                st["shuffle_write"] += (m.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0)
                st["spill"] += m.get("Memory Bytes Spilled", 0) + m.get(
                    "Disk Bytes Spilled", 0)
                st["input"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
    for sid, st in stage_stats.items():
        job = jobs.get(stage_job.get(sid, -1))
        if job is None:
            continue
        job.stages += 1
        job.tasks += int(st["tasks"])
        job.exchanges += st["shuffle_write"] > 0
        job.executor_cpu_s += st["cpu_ns"] / 1e9
        job.shuffle_write_bytes += int(st["shuffle_write"])
        job.spill_bytes += int(st["spill"])
        job.input_bytes += int(st["input"])
    return sorted(jobs.values(), key=lambda j: j.job_id)


def find_log(event_log_dir: str) -> str:
    """The single finished application log in `event_log_dir`."""
    names = [n for n in os.listdir(event_log_dir) if not n.endswith(".inprogress")]
    if len(names) != 1:
        raise ValueError(f"expected one finished event log, found {names}")
    return os.path.join(event_log_dir, names[0])


def attribute(jobs: list[Job], spans: list[tuple[str, float, float]]) -> dict[str, list[Job]]:
    """{span label: jobs}. `spans` are (label, start_ms, end_ms)."""
    out: dict[str, list[Job]] = defaultdict(list)
    for job in jobs:
        if job.group and job.group.startswith(GROUP_PREFIX):
            out[job.group[len(GROUP_PREFIX):]].append(job)
            continue
        holding = [s for s in spans if s[1] <= job.submit_ms <= s[2]]
        if holding:
            label = min(holding, key=lambda s: s[2] - s[1])[0]
            out[label].append(job)
    return out


def covered_ms(jobs: list[Job], lo: float, hi: float) -> float:
    """Length of the union of the jobs' run intervals, clipped to [lo, hi]."""
    iv = sorted((max(j.submit_ms, lo), min(j.end_ms or hi, hi)) for j in jobs)
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in iv:
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def parse_progress(progress_json: list[str]) -> list[dict]:
    """Streaming-listener progress events that processed data:
    [{batch_id, rows, durations: {phase: ms}}]."""
    out = []
    for s in progress_json:
        p = json.loads(s)
        if not p.get("numInputRows"):
            continue
        out.append({"batch_id": p["batchId"], "rows": p["numInputRows"],
                    "query_id": p.get("id"),
                    "durations": dict(p.get("durationMs") or {})})
    return out
