"""Spark event-log parser written with the standard library only.

Reads one uncompressed, non-rolling event log (one JSON object per line,
as Spark writes with `spark.eventLog.compress=false` and
`spark.eventLog.rolling.enabled=false`) and folds it into per-job-group
counters: jobs, stages, tasks, executor run/CPU/GC time, input/output
bytes, shuffle read/write bytes, spill, the Python/Arrow SQL metrics and
the wall-clock interval of every job, so a caller can compute the driver
gap (op wall time minus the union of job spans).

Every job also keeps the `perfbench.span` local property it was
submitted under, which lets the span recorder charge eager jobs to the
wrapped call that launched them.
"""

from __future__ import annotations

import json
import statistics
from dataclasses import dataclass, field

# SQL metric names (task accumulables) -> report keys
SQL_METRICS = {
    "data sent to Python workers": "arrow_to_python_bytes",
    "data returned from Python workers": "arrow_from_python_bytes",
    "time to run Python workers": "python_eval_ms",
}


@dataclass
class Job:
    job_id: int
    group: str | None
    span: str | None
    start_ms: int
    end_ms: int | None = None
    stage_ids: list[int] = field(default_factory=list)
    succeeded: bool | None = None


@dataclass
class Stage:
    stage_id: int
    attempt: int
    tasks: int = 0
    task_run_ms: list[int] = field(default_factory=list)
    submit_ms: int | None = None
    complete_ms: int | None = None


@dataclass
class GroupTotals:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    executor_run_ms: int = 0
    executor_cpu_ns: int = 0
    gc_ms: int = 0
    input_bytes: int = 0
    output_bytes: int = 0
    shuffle_write_bytes: int = 0
    shuffle_read_bytes: int = 0
    spill_bytes: int = 0
    arrow_to_python_bytes: int = 0
    arrow_from_python_bytes: int = 0
    python_eval_ms: int = 0


@dataclass
class EventLog:
    jobs: dict[int, Job] = field(default_factory=dict)
    stages: dict[tuple[int, int], Stage] = field(default_factory=dict)
    stage_job: dict[int, int] = field(default_factory=dict)
    totals: dict[str | None, GroupTotals] = field(default_factory=dict)

    def group_of_stage(self, stage_id: int) -> str | None:
        job = self.jobs.get(self.stage_job.get(stage_id, -1))
        return job.group if job else None

    def jobs_of(self, group: str) -> list[Job]:
        return sorted(
            (j for j in self.jobs.values() if j.group == group),
            key=lambda j: j.job_id,
        )

    def stages_of(self, group: str) -> list[Stage]:
        ids = {s for j in self.jobs_of(group) for s in j.stage_ids}
        return [st for (sid, _), st in self.stages.items() if sid in ids and st.tasks]

    def task_skew(self, group: str) -> float | None:
        """Slowest task time / median task time in the group's longest
        stage (by submit-to-complete wall time)."""
        stages = [
            s for s in self.stages_of(group)
            if s.submit_ms is not None and s.complete_ms is not None and s.task_run_ms
        ]
        if not stages:
            return None
        longest = max(stages, key=lambda s: s.complete_ms - s.submit_ms)
        med = statistics.median(longest.task_run_ms)
        return max(longest.task_run_ms) / med if med > 0 else 1.0


def _totals(log: EventLog, group: str | None) -> GroupTotals:
    t = log.totals.get(group)
    if t is None:
        t = log.totals[group] = GroupTotals()
    return t


def _on_job_start(log: EventLog, e: dict) -> None:
    props = e.get("Properties") or {}
    job = Job(
        job_id=e["Job ID"],
        group=props.get("spark.jobGroup.id"),
        span=props.get("perfbench.span"),
        start_ms=e["Submission Time"],
        stage_ids=list(e.get("Stage IDs", [])),
    )
    log.jobs[job.job_id] = job
    for sid in job.stage_ids:
        log.stage_job[sid] = job.job_id
    _totals(log, job.group).jobs += 1


def _on_job_end(log: EventLog, e: dict) -> None:
    job = log.jobs.get(e["Job ID"])
    if job is not None:
        job.end_ms = e["Completion Time"]
        job.succeeded = e.get("Job Result", {}).get("Result") == "JobSucceeded"


def _stage(log: EventLog, info: dict) -> Stage:
    key = (info["Stage ID"], info.get("Stage Attempt ID", 0))
    st = log.stages.get(key)
    if st is None:
        st = log.stages[key] = Stage(*key)
    return st


def _on_stage_completed(log: EventLog, e: dict) -> None:
    info = e["Stage Info"]
    st = _stage(log, info)
    st.submit_ms = info.get("Submission Time")
    st.complete_ms = info.get("Completion Time")
    _totals(log, log.group_of_stage(st.stage_id)).stages += 1


def _on_task_end(log: EventLog, e: dict) -> None:
    st = _stage(log, {"Stage ID": e["Stage ID"], "Stage Attempt ID": e.get("Stage Attempt ID", 0)})
    t = _totals(log, log.group_of_stage(st.stage_id))
    m = e.get("Task Metrics") or {}
    st.tasks += 1
    st.task_run_ms.append(int(m.get("Executor Run Time", 0)))
    t.tasks += 1
    t.executor_run_ms += int(m.get("Executor Run Time", 0))
    t.executor_cpu_ns += int(m.get("Executor CPU Time", 0))
    t.gc_ms += int(m.get("JVM GC Time", 0))
    t.spill_bytes += int(m.get("Memory Bytes Spilled", 0)) + int(m.get("Disk Bytes Spilled", 0))
    t.input_bytes += int((m.get("Input Metrics") or {}).get("Bytes Read", 0))
    t.output_bytes += int((m.get("Output Metrics") or {}).get("Bytes Written", 0))
    t.shuffle_write_bytes += int((m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0))
    sr = m.get("Shuffle Read Metrics") or {}
    t.shuffle_read_bytes += int(sr.get("Local Bytes Read", 0)) + int(sr.get("Remote Bytes Read", 0))
    for acc in (e.get("Task Info") or {}).get("Accumulables", []):
        key = SQL_METRICS.get(acc.get("Name"))
        if key is not None:
            setattr(t, key, getattr(t, key) + int(acc.get("Update") or 0))


HANDLERS = {
    "SparkListenerJobStart": _on_job_start,
    "SparkListenerJobEnd": _on_job_end,
    "SparkListenerStageCompleted": _on_stage_completed,
    "SparkListenerTaskEnd": _on_task_end,
}


def parse_lines(lines) -> EventLog:
    log = EventLog()
    for line in lines:
        line = line.strip()
        if not line:
            continue
        e = json.loads(line)
        handler = HANDLERS.get(e.get("Event"))
        if handler is not None:
            handler(log, e)
    return log


def parse(path: str) -> EventLog:
    with open(path, encoding="utf-8") as f:
        return parse_lines(f)


def union_ms(intervals: list[tuple[float, float]]) -> float:
    """Total length of the union of [start, end) intervals."""
    total = 0.0
    cur_s = cur_e = None
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
