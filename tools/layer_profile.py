"""Per-entry layer profile of catalog entries, built from perfbench's
own session, warm-up, tracer and event-log reader.

Usage:
    python tools/layer_profile.py [NAME ...] [--sf DIR] [--reps N]

With no names it profiles all 248 entries in catalog order. Each rep of
an entry builds it and writes it to the noop sink, the way ``bench.py``
times it, then drops cached plans and runs a driver GC outside the
timed span. The session, warm-up and weather anchors are perfbench's
(``perfbench.catalog.Catalog.setup``), with the event log on.

Each rep's wall time is split into disjoint layers that add up to it:

- ``python_s``: plan construction in the build call, outside any Spark
  job or Catalyst phase: Python, plus the eager analysis of every
  intermediate DataFrame;
- ``compile_s``: Catalyst analysis, optimization and planning of each
  SQL execution the rep ran, read from its ``QueryPlanningTracker`` by
  a ``QueryExecutionListener``, so nothing is planned twice;
- ``coordinate_s``: driver time of the action after its query's
  planning began, outside every job and Catalyst phase: the UI plan
  description, adaptive re-planning at each query-stage boundary,
  code generation, broadcast building and the write commit;
- ``schedule_s``: time inside a job with no task of it running: from
  job submission to each stage's first task launch, and between stages;
- ``execute_s``: from a stage's first task launch to its completion;
- ``residual_s``: the rest: the action before its query's planning
  starts, and the tracer's own hooks.

Concurrent jobs and stages are charged once: where two overlap, the
later one starts where the earlier one ended. Next to the layers, each
rep carries perfbench's job, stage and task counters, the Janino
compile time of generated code (``codegen_s``, summed over every thread,
so not a layer), and the job, stage and task counts Spark's status
tracker reports for the rep's job group, as a cross-check of the
event-log attribution. An entry's ``bound`` names the largest of
compile (``python_s`` + ``compile_s``), schedule (``coordinate_s`` +
``schedule_s``, the coordination cost) and execute (``execute_s``) in
its median rep.

Output: one JSON line
    {"entries": {name: {"bound": ..., "median_rep": i, "reps": [{...}]}},
     "errors": {name: "..."}, "cal": {...}, "sf_dir": ..., "reps": N}

Not named ``profile.py``: the stdlib ``cProfile`` imports ``profile``,
and pyspark imports ``cProfile``, so a ``profile.py`` next to the script
being run would shadow the stdlib module.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from perfbench import common, trace  # noqa: E402
from perfbench.catalog import Catalog  # noqa: E402

PHASES = ("analysis", "optimization", "planning")
LAYERS = ("python_s", "compile_s", "coordinate_s", "schedule_s", "execute_s")


class PhaseRecorder:
    """A ``QueryExecutionListener`` implemented in Python through py4j:
    keeps the planning phases ``(start, end)`` in wall seconds of every
    SQL execution that finishes."""

    def __init__(self) -> None:
        self.phases: list[tuple[float, float]] = []

    def _record(self, qe) -> None:
        tracked = qe.tracker().phases()
        for name in PHASES:
            opt = tracked.get(name)
            if opt.isDefined():
                p = opt.get()
                self.phases.append((p.startTimeMs() / 1000.0, p.endTimeMs() / 1000.0))

    def onSuccess(self, func_name, qe, duration_ns) -> None:  # noqa: N802 - Java API
        self._record(qe)

    def onFailure(self, func_name, qe, exception) -> None:  # noqa: N802 - Java API
        self._record(qe)

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]


def tracker_counts(sc, group: str) -> dict[str, int]:
    """Jobs, submitted stages and their tasks that Spark's status
    tracker holds for one job group."""
    st = sc._jsc.statusTracker()  # the Java one: pyspark's drops submissionTime
    jobs = [st.getJobInfo(j) for j in st.getJobIdsForGroup(group)]
    stages = [st.getStageInfo(s) for j in jobs if j is not None for s in set(j.stageIds())]
    # a stage a job skipped (its shuffle output already existed) was
    # never submitted, and the event log has no completion for it
    submitted = [s for s in stages if s is not None and s.submissionTime() > 0]
    return {
        "jobs": len(jobs),
        "stages": len(submitted),
        "tasks": sum(s.numTasks() for s in submitted),
    }


def owner_at(spans: list[trace.Span], t: float) -> trace.Span | None:
    # event-log and tracker timestamps are whole milliseconds: 1 ms slack
    hits = [s for s in spans if s.start - 0.001 <= t <= s.end + 0.001]
    return max(hits, key=lambda s: s.start) if hits else None


def add_layer_spans(tracer, log, steps, phases) -> dict[int, int]:
    """Put the jobs, stages, task-running intervals and planning phases
    under the build and action spans that issued them, with a ``query``
    span in each action from its first planning phase to its end.
    Return ``{job id: owner span id}``."""
    owners = list(steps)
    for s in (s for s in steps if s.name == "action"):
        starts = [a for a, _ in phases if s.start - 0.001 <= a <= s.end]
        if starts:
            owners.append(tracer.add("query", max(min(starts), s.start), s.end, s.id, s.group))
    owner_of = trace.attach_jobs(tracer, log, owners)
    launch = {(f"stage {st.id}", st.submit, st.end): st.first_launch for st in log.stages}
    for s in list(tracer.spans):
        first = launch.get((s.name, s.start, s.end)) if s.name.startswith("stage ") else None
        if first is not None:
            tracer.add("tasks", first, s.end, s.id, s.group)
    for start, end in phases:
        own = owner_at(owners, start)
        if own is not None:
            tracer.add("compile", start, end, own.id, own.group)
    return owner_of


def rep_layers(entry: trace.Span, kids: dict) -> dict[str, float]:
    """Sum the self times of one rep's span tree by layer."""
    out = dict.fromkeys(LAYERS + ("residual_s",), 0.0)

    def visit(s: trace.Span, under_job: bool) -> None:
        if s.name == "build":
            key = "python_s"
        elif s.name == "compile":
            key = "compile_s"
        elif s.name == "query":
            key = "coordinate_s"
        elif s.name == "tasks":
            key = "execute_s"
        elif under_job or s.name.startswith("job "):
            key = "schedule_s"
        else:
            key = "residual_s"
        out[key] += s.self_s
        for c in kids.get(s.id, []):
            visit(c, under_job or s.name.startswith("job "))

    visit(entry, False)
    out["wall_s"] = entry.dur
    return out


def bound_of(rep: dict[str, float]) -> str:
    shares = {
        "compile": rep["python_s"] + rep["compile_s"],
        "schedule": rep["coordinate_s"] + rep["schedule_s"],
        "execute": rep["execute_s"],
    }
    return max(shares, key=shares.get)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="*")
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument("--reps", type=int, default=2)
    args = ap.parse_args()

    ctx = common.Context("layer_profile", 0, 0.0, True)
    common.prepare_env(ctx)
    from westtopologies_spark.queries import catalog

    by_name = {s.name: s for s in catalog()}
    names = args.names or list(by_name)
    unknown = [n for n in names if n not in by_name]
    if unknown:
        ctx.cleanup()
        sys.exit(f"unknown queries: {unknown}")

    wl = Catalog(ctx)
    wl.sf_dir = args.sf
    try:
        out = profile(ctx, wl, [by_name[n] for n in names], args.reps)
    finally:
        try:
            common.stop_session(ctx)
        finally:
            common.shutdown_jvm()
            ctx.cleanup()
    print(json.dumps(out))


def profile(ctx, wl, specs, reps: int) -> dict:
    from pyspark.java_gateway import ensure_callback_server_started

    wl.setup()
    spark = ctx.spark
    sc = spark.sparkContext
    ensure_callback_server_started(sc._gateway)
    recorder = PhaseRecorder()
    spark._jsparkSession.listenerManager().register(recorder)
    bus = sc._jsc.sc().listenerBus()
    probe = common.jvm_probe_df(spark)
    cal = {"start": common.weather(probe)}

    tracer = trace.Tracer()
    codegen = sc._jvm.org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
    runs: list[tuple[str, trace.Span, dict]] = []
    errors: dict[str, str] = {}
    for spec in specs:
        for rep in range(reps):
            group = f"{spec.name}#{rep}"
            compiled_ns = codegen.compileTime()
            try:
                with tracer.span(spec.name, group=group, sc=sc) as entry:
                    with tracer.span("build", sc=sc):
                        df = spec.spark(spark, wl.sf_dir)
                    with tracer.span("action", sc=sc):
                        df.write.format("noop").mode("overwrite").save()
            except Exception as e:  # noqa: BLE001 - a failed entry is a result
                errors[spec.name] = f"{type(e).__name__}: {str(e)[:200]}"
                break
            finally:
                df = None
                spark.catalog.clearCache()
                sc._jvm.System.gc()
            compiled_ns = codegen.compileTime() - compiled_ns
            bus.waitUntilEmpty()
            extra = {"codegen_s": compiled_ns / 1e9, "status_tracker": tracker_counts(sc, group)}
            runs.append((spec.name, entry, extra))
    cal["end"] = common.weather(probe)
    spark._jsparkSession.listenerManager().unregister(recorder)

    common.stop_session(ctx)  # closes and flushes the event log
    log = trace.read_event_log(trace.event_log_files(ctx.event_dir)[-1])
    steps = [s for s in tracer.spans if s.name in ("build", "action")]
    owner_of = add_layer_spans(tracer, log, steps, recorder.phases)
    tracer.compute_self_times()
    kids = tracer.children()

    owner = {j: tracer.spans[o] for j, o in owner_of.items()}
    entries: dict[str, dict] = {}
    for name, entry, extra in runs:
        jobs = {j for j, o in owner.items() if o.group == entry.group}
        rep = rep_layers(entry, kids)
        rep["eager_jobs"] = sum(1 for j in jobs if owner[j].name == "build")
        rep.update(trace.sql_counts(log, entry.start, entry.end))
        rep.update(trace.counters(log, jobs))
        rep.update(extra)
        entries.setdefault(name, {"reps": []})["reps"].append(
            {k: round(v, 6) if isinstance(v, float) else v for k, v in rep.items()}
        )
    for e in entries.values():
        order = sorted(range(len(e["reps"])), key=lambda i: e["reps"][i]["wall_s"])
        e["median_rep"] = order[(len(order) - 1) // 2]
        e["bound"] = bound_of(e["reps"][e["median_rep"]])
    return {"entries": entries, "errors": errors, "cal": cal, "sf_dir": wl.sf_dir, "reps": reps}


if __name__ == "__main__":
    main()
