"""Helpers shared by the two stream workloads: staging files, reading
``StreamingQuery`` progress, and turning progress into spans and
per-layer numbers."""

from __future__ import annotations

import datetime as dt
import json
import os
import time

from . import trace
from .stats import median

EVENT_SCHEMA = (
    "event_id long, ts timestamp, user_id long, event_type string, "
    "value double, props string"
)

# MicroBatchExecution runs a trigger's phases in this order
PHASES = ("latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch", "commitOffsets")


def stage_files(df, out_dir: str, n_files: int, ts_col: str | None = None) -> None:
    """Split ``df`` (already in arrival order) into ``n_files`` parquet
    files with increasing mtimes, so a file source replays them in
    order."""
    os.makedirs(out_dir, exist_ok=True)
    per = (len(df) + n_files - 1) // n_files
    now = time.time()
    for i in range(n_files):
        chunk = df.iloc[i * per : (i + 1) * per]
        path = os.path.join(out_dir, f"part-{i:04d}.parquet")
        if ts_col is None:
            chunk.to_parquet(path, index=False)
        else:
            chunk.to_parquet(
                path, index=False, coerce_timestamps="us", allow_truncated_timestamps=True
            )
        os.utime(path, (now - 1000 + i, now - 1000 + i))


def progress_dicts(query) -> list[dict]:
    return [json.loads(p.json) if hasattr(p, "json") else dict(p) for p in query.recentProgress]


def wait_first_trigger(query, timeout_s: float = 120.0) -> None:
    """Block until the query has completed a trigger that read data."""
    deadline = time.monotonic() + timeout_s
    while time.monotonic() < deadline:
        if query.exception() is not None:
            raise RuntimeError(f"stream failed during start: {query.exception()}")
        if any(p.get("numInputRows", 0) > 0 for p in progress_dicts(query)):
            return
        time.sleep(0.01)
    raise TimeoutError("stream completed no trigger in time")


def wait_idle(query, timeout_s: float = 120.0) -> None:
    """Block until a started query has initialised its sources and waits
    for data."""
    deadline = time.monotonic() + timeout_s
    while time.monotonic() < deadline:
        if query.exception() is not None:
            raise RuntimeError(f"stream failed during start: {query.exception()}")
        status = query.status
        if not status["isTriggerActive"] and status["message"].startswith("Waiting"):
            return
        time.sleep(0.01)
    raise TimeoutError("stream did not start in time")


def wait_batches(query, n: int, timeout_s: float = 150.0) -> None:
    """Block until the query has run ``n`` batches."""
    deadline = time.monotonic() + timeout_s
    while time.monotonic() < deadline:
        if query.exception() is not None:
            raise RuntimeError(f"stream failed: {query.exception()}")
        if sum(1 for p in progress_dicts(query) if ran_batch(p)) >= n:
            return
        time.sleep(0.01)
    raise TimeoutError(f"stream completed fewer than {n} triggers in time")


def ran_batch(p: dict) -> bool:
    """Whether a progress event is a trigger that ran a batch, not an
    idle report."""
    return "addBatch" in p["durationMs"]


def trigger_start(p: dict) -> float:
    return (
        dt.datetime.strptime(p["timestamp"], "%Y-%m-%dT%H:%M:%S.%fZ")
        .replace(tzinfo=dt.timezone.utc)
        .timestamp()
    )


def watermark_s(p: dict) -> float:
    """The event-time watermark a trigger ran with, epoch seconds."""
    wm = (p.get("eventTime") or {}).get("watermark")
    if not wm:
        return 0.0
    return (
        dt.datetime.strptime(wm, "%Y-%m-%dT%H:%M:%S.%fZ")
        .replace(tzinfo=dt.timezone.utc)
        .timestamp()
    )


def trigger_s(p: dict) -> float:
    return p["durationMs"].get("triggerExecution", 0) / 1000.0


def source_ms(p: dict) -> float:
    d = p["durationMs"]
    return float(d.get("latestOffset", 0) + d.get("getBatch", 0))


def _ops(p: dict, key: str) -> float:
    return float(sum(op.get(key, 0) for op in p.get("stateOperators") or []))


def quantile(xs: list[float], q: float) -> float:
    """Nearest-rank quantile for per-layer summaries (0 for no samples);
    end-to-end percentiles go through :func:`stats.percentile`."""
    if not xs:
        return 0.0
    ys = sorted(xs)
    return ys[min(len(ys) - 1, max(0, int(round(q / 100.0 * len(ys) + 0.5)) - 1))]


def query_layer(
    prefix: str, progress: list[dict], log: trace.EventLog | None, skip_first: bool = True
) -> dict[str, float]:
    """Per-layer numbers for one query, over its triggers after the
    first unless ``skip_first`` is false."""
    steady = [p for p in progress if p["batchId"] > 0 or not skip_first] or progress
    trig = [trigger_s(p) * 1000 for p in steady]
    dur = lambda k: [float(p["durationMs"].get(k, 0)) for p in steady]  # noqa: E731
    out = {
        "triggers": float(len(steady)),
        "trigger_ms_p50": quantile(trig, 50),
        "trigger_ms_p90": quantile(trig, 90),
        "add_batch_ms": median(dur("addBatch")) if steady else 0.0,
        "query_planning_ms": median(dur("queryPlanning")) if steady else 0.0,
        "commit_ms": median([a + b for a, b in zip(dur("walCommit"), dur("commitOffsets"))])
        if steady
        else 0.0,
        "state_rows": _ops(progress[-1], "numRowsTotal") if progress else 0.0,
        "state_bytes": _ops(progress[-1], "memoryUsedBytes") if progress else 0.0,
        "state_commit_ms": median([_ops(p, "commitTimeMs") for p in steady]) if steady else 0.0,
        "input_rows_per_trigger": median([float(p["numInputRows"]) for p in steady])
        if steady
        else 0.0,
        "rows_dropped_late": sum(_ops(p, "numRowsDroppedByWatermark") for p in progress),
        "task_cpu_s": 0.0,
        "gc_s": 0.0,
    }
    if log is not None and progress:
        lo = trigger_start(progress[0])
        hi = trigger_start(progress[-1]) + trigger_s(progress[-1])
        jobs = {j.id for j in log.jobs if lo - 0.001 <= j.submit <= hi + 0.001}
        c = trace.counters(log, jobs)
        out["task_cpu_s"] = c["task_cpu_s"]
        out["gc_s"] = c["gc_s"]
    return {f"{prefix}.{k}": v for k, v in out.items()}


def trigger_spans(tracer: trace.Tracer, label: str, progress: list[dict]) -> list[trace.Span]:
    """One root span per trigger, with its phases as children laid end
    to end in execution order; returns the ``addBatch`` spans, under
    which the trigger's jobs belong."""
    add_spans = []
    for p in progress:
        start = trigger_start(p)
        group = f"{label}-{p['batchId']}"
        root = tracer.add(f"{label} trigger {p['batchId']}", start, start + trigger_s(p), None, group)
        t = start
        for phase in PHASES:
            ms = p["durationMs"].get(phase)
            if not ms:
                continue
            s = tracer.add(phase, t, t + ms / 1000.0, root.id, group)
            t += ms / 1000.0
            if phase == "addBatch":
                add_spans.append(s)
    return add_spans
