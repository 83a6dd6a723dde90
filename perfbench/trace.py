"""Spans for the traced run, and the Spark event-log reader that turns
jobs and stages into spans and per-layer counters.

A span is ``(id, name, start, end, parent, group)``; times are wall
seconds (``time.time()``) so they line up with the event log's
millisecond timestamps. Spans live in memory and are written out once,
with self times, when the run ends. An untraced run uses
:class:`NullTracer`, whose hooks do nothing.
"""

from __future__ import annotations

import contextlib
import json
import os
import time
from dataclasses import asdict, dataclass


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    group: str
    self_s: float = 0.0

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    enabled = True

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self.hook_s = 0.0  # time spent inside the tracer itself

    def add(
        self, name: str, start: float, end: float, parent: int | None, group: str
    ) -> Span:
        s = Span(len(self.spans), name, start, end, parent, group)
        self.spans.append(s)
        return s

    @contextlib.contextmanager
    def span(self, name: str, group: str = "", sc=None):
        """Time the block as a child of the innermost open span. With
        ``sc`` (a SparkContext) the block's jobs carry ``group`` as
        their job group, which is how the event log ties them back."""
        t_hook = time.perf_counter()
        parent = self._stack[-1] if self._stack else None
        if not group and parent is not None:
            group = self.spans[parent].group
        s = self.add(name, 0.0, 0.0, parent, group)
        self._stack.append(s.id)
        if sc is not None:
            sc.setJobGroup(group, name)
        self.hook_s += time.perf_counter() - t_hook
        s.start = time.time()
        try:
            yield s
        finally:
            s.end = time.time()
            t_hook = time.perf_counter()
            self._stack.pop()
            if sc is not None:
                sc.setLocalProperty("spark.jobGroup.id", None)
            self.hook_s += time.perf_counter() - t_hook

    def children(self) -> dict[int | None, list[Span]]:
        kids: dict[int | None, list[Span]] = {}
        for s in self.spans:
            kids.setdefault(s.parent, []).append(s)
        return kids

    def compute_self_times(self) -> float:
        """Give every span its self time and return the largest
        residual, over all root spans, of ``sum(self times in the
        subtree) - root duration`` (0 up to rounding).

        A child is clipped to its parent and, where siblings overlap
        (concurrent jobs), starts where the earlier sibling ended, so
        every instant of a root span is charged to exactly one span."""
        kids = self.children()

        def zero(s: Span) -> None:
            s.self_s = 0.0
            for c in kids.get(s.id, []):
                zero(c)

        def visit(s: Span, lo: float, hi: float) -> float:
            subtree, covered, cursor = 0.0, 0.0, lo
            for c in sorted(kids.get(s.id, []), key=lambda c: (c.start, c.id)):
                a, b = max(c.start, cursor), min(c.end, hi)
                if b <= a:
                    zero(c)
                    continue
                subtree += visit(c, a, b)
                covered += b - a
                cursor = b
            s.self_s = (hi - lo) - covered
            return subtree + s.self_s

        worst = 0.0
        for root in kids.get(None, []):
            worst = max(worst, abs(visit(root, root.start, root.end) - root.dur))
        return worst

    def dump(self, path: str, extra: dict | None = None) -> None:
        with open(path, "w") as f:
            json.dump(
                {"spans": [asdict(s) for s in self.spans], **(extra or {})}, f
            )


class NullTracer:
    """The untraced run's tracer: every hook is a no-op."""

    enabled = False
    hook_s = 0.0

    @contextlib.contextmanager
    def span(self, name: str, group: str = "", sc=None):
        yield None


class CallTimer:
    def __init__(self) -> None:
        self.n = 0
        self.seconds = 0.0


@contextlib.contextmanager
def timed_calls(package: str, attr: str, enabled: bool):
    """Count and time every call of ``<package>...<attr>`` made through
    any loaded module of ``package`` that holds the function, by
    swapping in a timing wrapper for the duration of the block."""
    timer = CallTimer()
    if not enabled:
        yield timer
        return
    import sys

    owners = [
        m
        for name, m in list(sys.modules.items())
        if m is not None and (name == package or name.startswith(package + "."))
        and callable(getattr(m, attr, None))
    ]
    originals = {id(m): getattr(m, attr) for m in owners}

    def wrap(fn):
        def timed(*args, **kwargs):
            t0 = time.perf_counter()
            try:
                return fn(*args, **kwargs)
            finally:
                timer.n += 1
                timer.seconds += time.perf_counter() - t0

        return timed

    for m in owners:
        setattr(m, attr, wrap(originals[id(m)]))
    try:
        yield timer
    finally:
        for m in owners:
            setattr(m, attr, originals[id(m)])


# ---------------------------------------------------------------------------
# Spark event log
# ---------------------------------------------------------------------------

SQL_START = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart"
AQE_UPDATE = "org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate"


@dataclass
class Job:
    id: int
    submit: float
    end: float = 0.0
    stages: tuple = ()


@dataclass
class Stage:
    id: int
    attempt: int
    submit: float
    end: float
    tasks: int
    first_launch: float | None = None
    run_s: float = 0.0
    cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_read: int = 0
    shuffle_write: int = 0
    spill: int = 0


@dataclass
class EventLog:
    jobs: list[Job]
    stages: list[Stage]
    sql_starts: dict[int, float]  # execution id -> start time
    aqe_updates: list[int]  # execution id of each AQE re-plan

    def stage_of_job(self) -> dict[int, int]:
        out = {}
        for j in self.jobs:
            for sid in j.stages:
                out.setdefault(sid, j.id)
        return out


def event_log_files(log_dir: str) -> list[str]:
    return sorted(
        os.path.join(log_dir, f) for f in os.listdir(log_dir) if not f.startswith(".")
    )


def read_event_log(path: str) -> EventLog:
    """Parse one uncompressed Spark event log (JSON lines)."""
    jobs: dict[int, Job] = {}
    stages: dict[tuple[int, int], Stage] = {}
    sql_starts: dict[int, float] = {}
    aqe: list[int] = []
    task_acc: dict[tuple[int, int], list] = {}
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                jobs[ev["Job ID"]] = Job(
                    ev["Job ID"],
                    ev["Submission Time"] / 1000.0,
                    stages=tuple(ev.get("Stage IDs") or ()),
                )
            elif kind == "SparkListenerJobEnd":
                if ev["Job ID"] in jobs:
                    jobs[ev["Job ID"]].end = ev["Completion Time"] / 1000.0
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                key = (info["Stage ID"], info["Stage Attempt ID"])
                stages[key] = Stage(
                    info["Stage ID"],
                    info["Stage Attempt ID"],
                    (info.get("Submission Time") or 0) / 1000.0,
                    (info.get("Completion Time") or 0) / 1000.0,
                    info.get("Number of Tasks", 0),
                )
            elif kind == "SparkListenerTaskEnd":
                key = (ev["Stage ID"], ev["Stage Attempt ID"])
                task_acc.setdefault(key, []).append(ev)
            elif kind == SQL_START:
                sql_starts[ev["executionId"]] = ev["time"] / 1000.0
            elif kind == AQE_UPDATE:
                aqe.append(ev["executionId"])
    for key, evs in task_acc.items():
        st = stages.get(key)
        if st is None:
            continue
        for ev in evs:
            info = ev.get("Task Info") or {}
            m = ev.get("Task Metrics") or {}
            launch = info.get("Launch Time")
            if launch:
                launch /= 1000.0
                st.first_launch = launch if st.first_launch is None else min(st.first_launch, launch)
            st.run_s += m.get("Executor Run Time", 0) / 1000.0
            st.cpu_s += m.get("Executor CPU Time", 0) / 1e9
            st.gc_s += m.get("JVM GC Time", 0) / 1000.0
            rd = m.get("Shuffle Read Metrics") or {}
            st.shuffle_read += rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0)
            st.shuffle_write += (m.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0
            )
            st.spill += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
    return EventLog(
        sorted(jobs.values(), key=lambda j: j.id),
        sorted(stages.values(), key=lambda s: (s.submit, s.id)),
        sql_starts,
        aqe,
    )


def attach_jobs(tracer: Tracer, log: EventLog, owners: list[Span]) -> dict[int, int]:
    """Add job and stage spans under the innermost owner span (the one
    starting last) whose interval holds the job's submission; return
    ``{job_id: owner span id}``."""
    stage_job = log.stage_of_job()
    job_span: dict[int, Span] = {}
    owner_of: dict[int, int] = {}
    for j in log.jobs:
        # event-log timestamps are whole milliseconds: allow 1 ms slack
        hits = [o for o in owners if o.start - 0.001 <= j.submit <= o.end + 0.001]
        if not hits:
            continue
        own = max(hits, key=lambda o: (o.start, -o.dur))
        owner_of[j.id] = own.id
        job_span[j.id] = tracer.add(f"job {j.id}", j.submit, j.end or j.submit, own.id, own.group)
    for st in log.stages:
        jid = stage_job.get(st.id)
        if jid in job_span:
            js = job_span[jid]
            tracer.add(f"stage {st.id}", st.submit, st.end, js.id, js.group)
    return owner_of


def sql_counts(log: EventLog, lo: float, hi: float) -> dict[str, float]:
    """SQL executions started in ``[lo, hi]`` and their AQE re-plans."""
    ids = {i for i, t in log.sql_starts.items() if lo <= t <= hi}
    return {
        "sql_executions": float(len(ids)),
        "aqe_replans": float(sum(1 for i in log.aqe_updates if i in ids)),
    }


def jobs_between(log: EventLog, lo: float, hi: float) -> set[int]:
    return {j.id for j in log.jobs if lo - 0.001 <= j.submit <= hi + 0.001}


def counters(log: EventLog, job_ids: set[int] | None = None) -> dict[str, float]:
    """Job, stage and task counters, over the given jobs (all when
    ``None``)."""
    stage_job = log.stage_of_job()
    sts = [
        s for s in log.stages if job_ids is None or stage_job.get(s.id) in job_ids
    ]
    return {
        "jobs": float(len(log.jobs) if job_ids is None else len(job_ids)),
        "stages": float(len(sts)),
        "tasks": float(sum(s.tasks for s in sts)),
        "sched_wait_s": sum(
            max(0.0, s.first_launch - s.submit) for s in sts if s.first_launch
        ),
        "task_run_s": sum(s.run_s for s in sts),
        "task_cpu_s": sum(s.cpu_s for s in sts),
        "gc_s": sum(s.gc_s for s in sts),
        "shuffle_read_bytes": float(sum(s.shuffle_read for s in sts)),
        "shuffle_write_bytes": float(sum(s.shuffle_write for s in sts)),
        "spill_bytes": float(sum(s.spill for s in sts)),
    }
