"""Reduce a Spark event log into per-op layer records.

The benchmark runs every op under its own job group
(``SparkContext.setJobGroup``), so ``spark.jobGroup.id`` in each
``SparkListenerJobStart`` names the op that launched the job.  This
module reads the uncompressed JSON-lines log Spark writes under
``spark.eventLog.dir`` (the rolling ``eventlog_v2_<appid>/events_*``
layout) and folds jobs, stages and task
metrics into one :class:`OpTrace` per job group.

Only the standard library is used: the reducer must run wherever the
benchmark runs.
"""

from __future__ import annotations

import glob
import json
import os
import re
from dataclasses import dataclass, field
from typing import Iterable, Iterator

# Result-stage call sites of jobs that materialize a table for later
# reuse rather than produce an op's output.
CHECKPOINT_CALLS = ("localCheckpoint", "checkpoint", "persist", "cache")

_WANTED = (
    "SparkListenerJobStart",
    "SparkListenerJobEnd",
    "SparkListenerStageSubmitted",
    "SparkListenerStageCompleted",
    "SparkListenerTaskEnd",
)


@dataclass
class Job:
    job_id: int
    group: str | None
    submit_ms: int
    stage_ids: list[int]
    call_site: str
    end_ms: int | None = None
    ran_stages: int = 0

    @property
    def is_checkpoint(self) -> bool:
        return self.call_site.startswith(CHECKPOINT_CALLS)


@dataclass
class OpTrace:
    """Everything Spark did for one job group."""

    jobs: list[Job] = field(default_factory=list)
    stage_tasks: dict[int, int] = field(default_factory=dict)
    tasks: int = 0
    task_run_ms: int = 0
    task_cpu_ns: int = 0
    gc_ms: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    input_bytes: int = 0

    @property
    def stages(self) -> int:
        return len(self.stage_tasks)

    @property
    def stages_skipped(self) -> int:
        return sum(len(j.stage_ids) - j.ran_stages for j in self.jobs)

    def intervals(
        self, checkpoint_only: bool = False, since_ms: float = 0
    ) -> list[tuple[int, int]]:
        return [
            (j.submit_ms, j.end_ms)
            for j in self.jobs
            if j.end_ms is not None
            and j.submit_ms >= since_ms
            and (j.is_checkpoint or not checkpoint_only)
        ]

    def job_wall_ms(self) -> int:
        """Sum of job walls; exceeds :meth:`busy_ms` when jobs overlap."""
        return sum(end - start for start, end in self.intervals())

    def busy_ms(self, checkpoint_only: bool = False, since_ms: float = 0) -> int:
        """Length of the union of job intervals (of jobs submitted at
        or after ``since_ms``)."""
        return union_ms(self.intervals(checkpoint_only, since_ms))

    def jobs_before(self, t_ms: float) -> int:
        return sum(1 for j in self.jobs if j.submit_ms < t_ms)

    @property
    def checkpoint_jobs(self) -> int:
        return sum(1 for j in self.jobs if j.is_checkpoint)


def union_ms(intervals: Iterable[tuple[int, int]]) -> int:
    total, cur_start, cur_end = 0, None, None
    for start, end in sorted(intervals):
        if cur_end is None or start > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = start, end
        else:
            cur_end = max(cur_end, end)
    if cur_end is not None:
        total += cur_end - cur_start
    return total


def log_files(log_dir: str) -> list[str]:
    """Event files of every application logged under ``log_dir``, in
    write order (Spark 4 rolls each log into numbered ``events_<n>_``
    files)."""

    def index(path: str) -> tuple[str, int]:
        n = re.match(r"events_(\d+)_", os.path.basename(path)).group(1)
        return os.path.dirname(path), int(n)

    return sorted(
        glob.glob(os.path.join(log_dir, "eventlog_v2_*", "events_*")), key=index
    )


def read_events(paths: Iterable[str]) -> Iterator[dict]:
    """The events the reducer uses; SQL plan events (most of the
    bytes) are skipped before JSON parsing."""
    for path in paths:
        with open(path, encoding="utf-8") as fh:
            for line in fh:
                head = line[:60]
                if any(name in head for name in _WANTED):
                    yield json.loads(line)


def reduce_events(events: Iterable[dict]) -> dict[str | None, OpTrace]:
    """Fold events into one :class:`OpTrace` per job group (``None``
    holds jobs run outside any group)."""
    ops: dict[str | None, OpTrace] = {}
    active: dict[int, Job] = {}
    stage_job: dict[int, Job] = {}
    for ev in events:
        kind = ev["Event"]
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            infos = ev.get("Stage Infos") or []
            last = max(infos, key=lambda s: s["Stage ID"], default={})
            job = Job(
                job_id=ev["Job ID"],
                group=props.get("spark.jobGroup.id"),
                submit_ms=ev["Submission Time"],
                stage_ids=list(ev.get("Stage IDs") or []),
                call_site=props.get("callSite.short")
                or last.get("Stage Name", ""),
            )
            active[job.job_id] = job
            ops.setdefault(job.group, OpTrace()).jobs.append(job)
        elif kind == "SparkListenerJobEnd":
            job = active.pop(ev["Job ID"], None)
            if job is not None:
                job.end_ms = ev["Completion Time"]
        elif kind == "SparkListenerStageSubmitted":
            sid = ev["Stage Info"]["Stage ID"]
            owners = [j for j in active.values() if sid in j.stage_ids]
            if owners and sid not in stage_job:
                owner = max(owners, key=lambda j: j.job_id)
                owner.ran_stages += 1
                stage_job[sid] = owner
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            job = stage_job.get(info["Stage ID"])
            if job is not None:
                op = ops[job.group]
                op.stage_tasks[info["Stage ID"]] = info["Number of Tasks"]
        elif kind == "SparkListenerTaskEnd":
            job = stage_job.get(ev["Stage ID"])
            metrics = ev.get("Task Metrics")
            if job is None or not metrics:
                continue
            op = ops[job.group]
            op.tasks += 1
            op.task_run_ms += metrics.get("Executor Run Time", 0)
            op.task_cpu_ns += metrics.get("Executor CPU Time", 0)
            op.gc_ms += metrics.get("JVM GC Time", 0)
            op.spill_bytes += metrics.get("Disk Bytes Spilled", 0)
            op.shuffle_write_bytes += (
                metrics.get("Shuffle Write Metrics") or {}
            ).get("Shuffle Bytes Written", 0)
            op.input_bytes += (metrics.get("Input Metrics") or {}).get(
                "Bytes Read", 0
            )
    return ops


def reduce_dir(log_dir: str) -> dict[str | None, OpTrace]:
    return reduce_events(read_events(log_files(log_dir)))
