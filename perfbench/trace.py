"""Spans around the library's public calls, and the Spark event-log
parser that turns a traced run into the per-layer table.

A span is timed by the benchmark from outside the call. In a traced run
it also sets the Spark job group to the span's name (``<module>.<call>``)
and the job description to the operation it belongs to (``op 7``,
``warmup``), so every job in the event log maps back to the call that
issued it. Lazy calls issue no jobs: their work runs in the span whose
call triggers the action.
"""

from __future__ import annotations

import json
import os
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field

from . import machine, stats

#: event-log metrics reported per span, besides ``call_s`` and ``jobs``
JOB_METRICS = (
    "stages",
    "tasks",
    "executor_cpu_s",
    "shuffle_write_bytes",
    "shuffle_read_bytes",
    "python_run_s",
    "python_bytes_sent",
    "spill_bytes",
    "gc_s",
    "output_bytes",
)

_PY_RUN = "time to run Python workers"  # SQL timing metric, ms
_PY_SENT = "data sent to Python workers"  # SQL size metric, bytes


@dataclass
class Call:
    span: str
    op: str  # "op <k>", "warmup", "setup" or "check"
    seconds: float


@dataclass
class Tracer:
    """Times spans and operations; sets job groups only when given a
    SparkContext (the traced run).

    An operation's clock runs from :meth:`begin_op` to :meth:`pause`;
    :meth:`action_start` marks the start of its final action, splitting
    the wall time into ``construct_s`` and ``action_s``."""

    sc: object | None = None
    op: str = "setup"
    calls: list[Call] = field(default_factory=list)
    rec: object | None = None

    @property
    def tracing(self) -> bool:
        return self.sc is not None

    def stage(self, df):
        """``df`` as the caller would use it; in a traced run, ``df``
        materialised with ``localCheckpoint()``. A stage output with
        several consumers is passed through here inside its own span, so
        that its jobs run in that span and are attributed to it. The
        timed, untraced windows run the plain lazy pipeline."""
        return df.localCheckpoint() if self.tracing else df

    @contextmanager
    def span(self, name: str):
        if self.tracing:
            self.sc.setJobGroup(name, self.op)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.calls.append(Call(name, self.op, time.perf_counter() - t0))
            if self.tracing:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)

    def begin_op(self, rec) -> None:
        self.op = f"op {rec.index}"
        self.rec = rec
        self._action = None
        machine.reset_peak_rss()
        self._cpu0 = machine.tree_cpu_s()
        self._t0 = time.perf_counter()

    def action_start(self) -> None:
        if self.rec is not None and self._action is None:
            self._action = time.perf_counter()

    def pause(self) -> None:
        """Stop the operation's clock; later work is the benchmark's own."""
        rec = self.rec
        if rec is None or rec.wall_s:
            return
        t1 = time.perf_counter()
        rec.wall_s = t1 - self._t0
        action = self._action if self._action is not None else t1
        rec.construct_s = action - self._t0
        rec.action_s = t1 - action
        rec.rss_peak_mb = machine.peak_rss_mb()
        rec.cpu_s = machine.tree_cpu_s() - self._cpu0

    def end_op(self) -> None:
        self.pause()
        self.rec = None
        self.op = "check"


# ----------------------------------------------------------------------
# event log
# ----------------------------------------------------------------------


def event_files(log_dir: str) -> list[str]:
    """Event-log files under ``log_dir`` in write order. Spark 4 writes
    ``eventlog_v2_<app>/events_<n>_<app>``; older layouts write one file
    per application."""
    out = []
    for entry in sorted(os.listdir(log_dir)):
        path = os.path.join(log_dir, entry)
        if os.path.isdir(path):
            parts = [p for p in os.listdir(path) if p.startswith("events_")]
            parts.sort(key=lambda p: int(p.split("_")[1]))
            out.extend(os.path.join(path, p) for p in parts)
        elif not entry.startswith("."):
            out.append(path)
    return out


def read_events(paths: list[str]):
    for path in paths:
        with open(path) as f:
            for line in f:
                line = line.strip()
                if line:
                    yield json.loads(line)


@dataclass
class JobStats:
    job_id: int
    group: str | None
    op: str | None
    stage_ids: list[int]


def _zero() -> dict[str, float]:
    return {"jobs": 0, **{m: 0 for m in JOB_METRICS}}


def summarize(events) -> tuple[dict[tuple[str | None, str | None], dict], list[JobStats]]:
    """Aggregate an event stream by ``(job group, job description)``.

    Returns the per-key totals (``jobs`` plus every JOB_METRICS field)
    and the job list. A stage belongs to the first job that lists it; a
    stage a later job reuses is skipped there and runs no tasks."""
    jobs: dict[int, JobStats] = {}
    stage_job: dict[int, int] = {}
    stage_sums: dict[int, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    completed: set[int] = set()
    for e in events:
        kind = e.get("Event")
        if kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            job = JobStats(
                e["Job ID"],
                props.get("spark.jobGroup.id"),
                props.get("spark.job.description"),
                list(e.get("Stage IDs", [])),
            )
            jobs[job.job_id] = job
            for sid in job.stage_ids:
                stage_job.setdefault(sid, job.job_id)
        elif kind == "SparkListenerStageCompleted":
            info = e["Stage Info"]
            if "Completion Time" in info or "Submission Time" in info:
                completed.add(info["Stage ID"])
        elif kind == "SparkListenerTaskEnd":
            s = stage_sums[e["Stage ID"]]
            s["tasks"] += 1
            tm = e.get("Task Metrics") or {}
            s["executor_cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
            s["gc_s"] += tm.get("JVM GC Time", 0) / 1e3
            s["spill_bytes"] += tm.get("Memory Bytes Spilled", 0) + tm.get(
                "Disk Bytes Spilled", 0
            )
            sr = tm.get("Shuffle Read Metrics") or {}
            s["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get(
                "Local Bytes Read", 0
            )
            sw = tm.get("Shuffle Write Metrics") or {}
            s["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
            s["output_bytes"] += (tm.get("Output Metrics") or {}).get("Bytes Written", 0)
            for acc in (e.get("Task Info") or {}).get("Accumulables", []):
                name = acc.get("Name")
                if name == _PY_RUN:
                    s["python_run_s"] += int(acc.get("Update", 0)) / 1e3
                elif name == _PY_SENT:
                    s["python_bytes_sent"] += int(acc.get("Update", 0))

    totals: dict[tuple[str | None, str | None], dict] = defaultdict(_zero)
    for job in jobs.values():
        totals[(job.group, job.op)]["jobs"] += 1
    for sid, sums in stage_sums.items():
        job = jobs.get(stage_job.get(sid, -1))
        key = (job.group, job.op) if job else (None, None)
        t = totals[key]
        for m, v in sums.items():
            t[m] += v
    for sid in completed:
        job = jobs.get(stage_job.get(sid, -1))
        totals[(job.group, job.op) if job else (None, None)]["stages"] += 1
    return dict(totals), sorted(jobs.values(), key=lambda j: j.job_id)


def layer_table(
    totals: dict[tuple[str | None, str | None], dict],
    calls: list[Call],
    spans: list[str],
) -> dict[str, dict[str, float]]:
    """Per-span means over the timed operations' calls: ``calls``,
    ``call_s`` (median) and every event-log metric per call."""
    timed = [c for c in calls if c.op.startswith("op ")]
    table = {}
    for span in spans:
        mine = [c for c in timed if c.span == span]
        row = {"calls": len(mine), "call_s": 0.0, **_zero()}
        if mine:
            row["call_s"] = stats.median([c.seconds for c in mine])
            ops = {c.op for c in mine}
            for (group, op), t in totals.items():
                if group == span and op in ops:
                    for m, v in t.items():
                        row[m] += v
            for m in ("jobs", *JOB_METRICS):
                row[m] /= len(mine)
        table[span] = row
    return table
