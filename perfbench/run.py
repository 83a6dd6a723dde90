"""Benchmark entry point.

    python3 perfbench/run.py --workload catalog --seed 1 --seconds 20 --trace 0

Builds the workload's inputs from ``--seed``, sets up the session
(several times where a set-up is cheap; ``setup_s`` is the median),
measures, checks every output
outside the timed region, and prints as its last stdout line one JSON
object ``{"correct", "attempted", "failed", "metrics"}``: the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``.
The line before it is a JSON summary with the workload's own metric
names, the weather anchors and every failure by name. Exits non-zero
without a result when the program under test cannot be imported or an
output check cannot run.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

from perfbench import common, stats, trace  # noqa: E402

OUT_DIR = os.path.join(ROOT, ".perfbench_out")

# the end-to-end metrics every workload reports, with their units
END_TO_END_UNITS = {
    "setup_s": "s",
    "work_p50_s": "s",
    "throughput_per_s": "1/s",
}


STREAM_QUERIES = ("role", "rollup", "topk", "lsh")
STREAM_METRICS = (
    "triggers trigger_ms_p50 trigger_ms_p90 add_batch_ms query_planning_ms "
    "commit_ms state_rows state_bytes state_commit_ms input_rows_per_trigger "
    "task_cpu_s gc_s rows_dropped_late"
).split()

# every per-layer metric; a workload reports 0 for a layer it does not run
PER_LAYER = (
    [f"session.{m}" for m in "get_spark_s warmup_s load_table_calls load_table_s".split()]
    + [
        f"queries.{m}"
        for m in (
            "build_s eager_jobs action_s driver_s sql_executions jobs stages tasks "
            "sched_wait_s aqe_replans task_run_s task_cpu_s gc_s shuffle_read_bytes "
            "shuffle_write_bytes spill_bytes"
        ).split()
    ]
    + [
        f"io.{m}"
        for m in "source_ms source_backlog_files source_lag_s sink_write_ms sink_files".split()
    ]
    + [
        f"pipelines.{m}"
        for m in (
            "roles_build_ms jobs_per_trigger stages_per_trigger windows_per_trigger "
            "useful_trigger_ratio"
        ).split()
    ]
    + [f"streaming.{q}.{m}" for q in STREAM_QUERIES for m in STREAM_METRICS]
    + ["streaming.lsh.candidates"]
    + ["trace.self_time_residual_s", "trace.hook_s", "trace.spans"]
)


def workloads() -> dict:
    from perfbench.catalog import Catalog
    from perfbench.role_stream import RoleStream
    from perfbench.state_stream import StateStream

    return {w.name: w for w in (Catalog, RoleStream, StateStream)}


def parse_args(argv: list[str] | None = None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=["catalog", "role_stream", "state_stream"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return ap.parse_args(argv)


def run(ctx: common.Context) -> tuple[dict, dict]:
    """Run one workload; return (result line, summary line)."""
    wl = workloads()[ctx.workload](ctx)
    tracer = trace.Tracer() if ctx.trace else trace.NullTracer()
    t0 = time.perf_counter()
    wl.prepare()
    gen_s = time.perf_counter() - t0

    setups = []
    for i in range(wl.setup_repeats):
        if i:
            common.stop_session(ctx)
        setups.append(wl.setup())
    probe = common.jvm_probe_df(ctx.spark)
    weather = {"start": common.weather(probe)}

    t_measure = time.time()
    with trace.timed_calls("westtopologies_spark", "load_table", ctx.trace) as load_calls:
        wl.measure(tracer)
    t_measured = time.time()
    rss = common.peak_rss_mb()
    weather["end"] = common.weather(probe)
    t_check = time.perf_counter()
    attempted, failed = wl.check()
    check_s = time.perf_counter() - t_check

    e2e = {"setup_s": stats.median(setups), "peak_rss_mb": rss, **wl.end_to_end()}
    summary = {
        "workload": ctx.workload,
        "seed": ctx.seed,
        "trace": int(ctx.trace),
        "metrics": e2e,
        "failed_ratio": failed / attempted if attempted else 1.0,
        "failures": wl.failures,
        "setup_repeats_s": setups,
        "input_generation_s": gen_s,
        "measured_s": t_measured - t_measure,
        "check_s": check_s,
        "weather": weather,
        **wl.notes,
    }
    if ctx.trace:
        common.stop_session(ctx)  # closes and flushes the event log
        files = trace.event_log_files(ctx.event_dir)
        log = trace.read_event_log(files[-1])
        layer = dict.fromkeys(PER_LAYER, 0.0)
        layer["session.get_spark_s"], layer["session.warmup_s"] = wl.session_s
        layer["session.load_table_calls"] = float(load_calls.n)
        layer["session.load_table_s"] = load_calls.seconds
        jobs = trace.jobs_between(log, t_measure, t_measured)
        layer.update({f"queries.{k}": v for k, v in trace.counters(log, jobs).items()})
        layer.update(
            {f"queries.{k}": v for k, v in trace.sql_counts(log, t_measure, t_measured).items()}
        )
        layer.update(wl.per_layer(log, tracer))
        layer["trace.self_time_residual_s"] = tracer.compute_self_times()
        layer["trace.hook_s"] = tracer.hook_s
        layer["trace.spans"] = float(len(tracer.spans))
        unknown = set(layer) - set(PER_LAYER)
        if unknown:
            raise RuntimeError(f"per-layer metrics not in the registry: {sorted(unknown)}")
        os.makedirs(OUT_DIR, exist_ok=True)
        path = os.path.join(OUT_DIR, f"{ctx.workload}-seed{ctx.seed}-trace.json")
        tracer.dump(path, {"per_layer": layer, "summary": summary})
        summary["trace_file"] = os.path.relpath(path, ROOT)
        metrics = {k: {"value": v, "unit": unit_of(k)} for k, v in sorted(layer.items())}
    else:
        missing = [k for k in END_TO_END_UNITS if e2e.get(k) is None]
        if missing:
            raise RuntimeError(f"end-to-end metrics without a value: {missing}")
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END_UNITS.items()}
    result = {
        "correct": failed == 0,
        "attempted": int(attempted),
        "failed": int(failed),
        "metrics": metrics,
    }
    return result, summary


def unit_of(name: str) -> str:
    last = name.rsplit(".", 1)[-1]
    if last.endswith("_ms") or "_ms_" in last:
        return "ms"
    if last.endswith("_s"):
        return "s"
    if last.endswith("_bytes"):
        return "bytes"
    if last.endswith("_ratio"):
        return "ratio"
    return "count"


def main(argv: list[str] | None = None) -> int:
    args = parse_args(argv)
    ctx = common.Context(args.workload, args.seed, args.seconds, bool(args.trace))
    common.prepare_env(ctx)
    try:
        import pyspark  # noqa: F401

        import westtopologies_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot import the program under test: {e}", file=sys.stderr)
        ctx.cleanup()
        return 2
    try:
        result, summary = run(ctx)
    except Exception:  # noqa: BLE001 - report and exit non-zero, no result line
        traceback.print_exc()
        return 1
    finally:
        try:
            common.stop_session(ctx)
        finally:
            common.shutdown_jvm()
            ctx.cleanup()
    print(json.dumps(summary, default=str))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
