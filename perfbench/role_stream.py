"""``role_stream``: the role-analysis topology from source to sink, as an
open loop at a fixed offered rate.

A generator thread writes one JSON-lines tweet file per tick on a
wall-clock schedule (written to a hidden name, then renamed into place)
and never waits on the stream. The pipeline is

    io.sources.json_file_stream
      -> pipelines.role_analysis.windowed_edge_sets_stream
      -> foreachBatch(roles_for_closed_windows -> role_file_lines
                      -> one text directory per window)

A trigger costs 8-25 s on 4 cores whatever its size, and a window is
written one trigger after the trigger whose data closed it. So the
stream runs on a processing-time trigger whose interval the generator
fits inside: it writes for a quarter of ``--seconds``, starting just
after an interval boundary, and the next boundary's trigger reads every
file. The no-data trigger Spark runs right after it, because the
watermark moved, writes the windows that data closed. Two role-kernel
triggers per run keep a run short. Event time runs fast enough that
``WINDOWS_PER_RUN`` 10-minute windows are generated per run, enough
closed windows for the percentiles.

Windows are checked against :mod:`perfbench.roles_ref`, a plain-Python
role analysis, rather than a Spark batch run, which would cost as much
as the stream itself.
"""

from __future__ import annotations

import datetime as dt
import math
import os
import threading
import time
import urllib.parse

from . import common, gen, roles_ref, streams
from .stats import median, percentile

RATE = 150.0  # offered tweets per wall second
TICK_S = 0.25
WINDOW_S = 600.0
WATERMARK_S = 600.0
WINDOWS_PER_RUN = 60  # sets the event-time speed-up
GENERATE_SHARE = 0.25  # of --seconds; the drain takes the rest
# the generator starts this long after an interval boundary and ends
# this long before the next one, so one trigger reads all its files
BOUNDARY_GAP_S = 0.5
MAX_LATE_S = 0.5  # generator lateness beyond which a run is invalid


def window_latencies(
    files: list[tuple[float, float]],
    emitted: dict[float, float],
    window_s: float = WINDOW_S,
    watermark_s: float = WATERMARK_S,
) -> dict[float, float]:
    """Per emitted window: seconds from when the window became closable
    to when the sink wrote it.

    ``files`` is ``(write_time, max_event_s)`` per input file in write
    order; ``emitted`` maps window start (event seconds) to the wall
    time its rows were written. A window becomes closable when the
    first file holding an event at or past window end plus watermark
    is written."""
    out = {}
    for start, written in emitted.items():
        need = start + window_s + watermark_s
        closable = next((t for t, ev in files if ev >= need), None)
        if closable is not None:
            out[start] = written - closable
    return out


def check_lateness(lateness: list[float]) -> None:
    """An open loop whose generator fell behind its schedule measured a
    lower load than it claims: such a run is invalid, not reported."""
    late = max(lateness, default=0.0)
    if late > MAX_LATE_S:
        raise RuntimeError(f"generator fell {late:.3f} s behind its schedule; the run is invalid")


class RoleStream:
    name = "role_stream"
    # a set-up starts the JVM; a warm repeat would measure something no
    # user waits for, so a run sets up once
    setup_repeats = 1

    def __init__(self, ctx: common.Context):
        self.ctx = ctx
        self.failures: list[str] = []
        self.batches: list[dict] = []
        self.files: list[tuple[float, float, int]] = []  # (write time, max event s, rows)
        self.lateness: list[float] = []
        self.error: BaseException | None = None

    # -- inputs (untimed) -------------------------------------------------
    def prepare(self) -> None:
        gen_s = self.ctx.seconds * GENERATE_SHARE
        self.interval_s = gen_s + 2 * BOUNDARY_GAP_S
        self.speedup = WINDOW_S * WINDOWS_PER_RUN / gen_s
        self.tweets = gen.tweet_schedule(self.ctx.seed, RATE, gen_s, self.speedup)
        self.ticks = gen.tweet_ticks(self.tweets, TICK_S)
        self.notes = {
            "offered_rate_per_s": RATE,
            "speedup": self.speedup,
            "tweets": len(self.tweets),
        }

    # -- set-up -----------------------------------------------------------
    def setup(self) -> float:
        """Session, warm-up probe and stream start, up to the stream
        waiting for its first file. The first trigger is measured: a
        set-up trigger would add a third role-kernel run to every run."""
        t0 = time.perf_counter()
        spark = common.start_session(self.ctx, "bench-role-stream")
        t1 = time.perf_counter()
        common.jvm_probe_df(spark).collect()
        self.in_dir = self.ctx.path("in")
        self.out_dir = self.ctx.path("out")
        os.makedirs(self.in_dir)
        os.makedirs(self.out_dir)
        self.query = self._start()
        streams.wait_idle(self.query)
        t2 = time.perf_counter()
        self.session_s = (t1 - t0, t2 - t1)
        return t2 - t0

    def _write_tick(self, i: int) -> None:
        body, max_ev = self.ticks[i]
        final = os.path.join(self.in_dir, f"tweets-{i:06d}.json")
        tmp = os.path.join(self.in_dir, f".tweets-{i:06d}.json.tmp")
        with open(tmp, "w") as f:
            f.write(body)
        os.rename(tmp, final)
        self.files.append((time.time(), max_ev, body.count("\n")))

    def _start(self):
        from westtopologies_spark.io.sources import json_file_stream
        from westtopologies_spark.pipelines.role_analysis import (
            role_file_lines,
            roles_for_closed_windows,
            windowed_edge_sets_stream,
        )
        from westtopologies_spark.schemas import TWEET_SCHEMA

        out_dir = self.out_dir
        seen: set[str] = set()

        def body(batch_df, batch_id: int) -> None:
            t0 = time.time()
            lines = role_file_lines(roles_for_closed_windows(batch_df))
            t1 = time.time()
            lines.write.mode("append").partitionBy("window_start").text(out_dir)
            t2 = time.time()
            new = {d for d in os.listdir(out_dir) if d.startswith("window_start=")} - seen
            seen.update(new)
            self.batches.append(
                {"batch_id": batch_id, "start": t0, "built": t1, "end": t2, "windows": sorted(new)}
            )

        src = json_file_stream(self.ctx.spark, self.in_dir, TWEET_SCHEMA, max_files=100_000)
        return (
            windowed_edge_sets_stream(src)
            .writeStream.outputMode("append")
            .trigger(processingTime=f"{int(self.interval_s * 1000)} milliseconds")
            .foreachBatch(body)
            .option("checkpointLocation", self.ctx.path("ckpt"))
            .start()
        )

    # -- measurement --------------------------------------------------------
    def _generate(self, t_zero: float) -> None:
        for i in range(len(self.ticks)):
            due = t_zero + i * TICK_S
            wait = due - time.time()
            if wait > 0:
                time.sleep(wait)
            self._write_tick(i)
            self.lateness.append(self.files[-1][0] - due)

    def measure(self, tracer) -> None:
        # Spark fires processing-time triggers on multiples of the
        # interval since the epoch
        boundary = math.ceil(time.time() / self.interval_s) * self.interval_s
        time.sleep(max(0.0, boundary + BOUNDARY_GAP_S - time.time()))
        self.t_zero = time.time()
        gen_thread = threading.Thread(target=self._generate, args=(self.t_zero,), daemon=True)
        gen_thread.start()
        gen_thread.join()
        q = self.query
        try:
            # drain before stop (stopping mid-trigger can kill the stream
            # thread): the data trigger, then the no-data trigger that
            # writes the windows its watermark closed
            q.processAllAvailable()
            streams.wait_batches(q, 2)
        except Exception as e:  # noqa: BLE001 - a failed stream is a result
            self.error = e
        q.stop()
        self.progress = streams.progress_dicts(q)
        if self.error is None and q.exception() is not None:
            self.error = q.exception()
        if self.error is not None:
            self.failures.append(f"role: stream ended with {type(self.error).__name__}")
        check_lateness(self.lateness)

    def _closable(self) -> list[float]:
        """Windows that hold a tweet and that the watermark of the last
        trigger had closed: exactly the windows the sink must have
        written by the end of the run."""
        wm = max(
            (streams.watermark_s(p) - gen.STREAM_EPOCH.timestamp() for p in self.progress),
            default=0.0,
        )
        starts = {ev // WINDOW_S * WINDOW_S for _, ev, t in self.tweets if "created_at" in t}
        return sorted(w for w in starts if w + WINDOW_S <= wm)

    def _emitted(self) -> dict[float, float]:
        out = {}
        for b in self.batches:
            for d in b["windows"]:
                out[_window_start_s(d)] = b["end"]
        return out

    # -- output checks (untimed) -----------------------------------------------
    def check(self) -> tuple[int, int]:
        """One attempt per closable window; a window fails when it is
        missing, written before it was closable, or its roles differ
        from the reference role analysis over the same tweets."""
        closable = self._closable()
        if self.error is not None:
            return len(closable), len(closable)
        got = self._written()
        expect = roles_ref.roles_by_window(self.tweets, WINDOW_S)
        missing = [w for w in closable if w not in got]
        extra = set(got) - set(closable)
        wrong = [w for w in closable if w in got and got[w] != expect.get(w)]
        for what, ws in (("missing", missing), ("written before closable", extra),
                         ("differ from the reference roles", wrong)):
            if ws:
                self.failures.append(f"role: {len(ws)} windows {what}")
        return len(closable) + len(extra), len(missing) + len(extra) + len(wrong)

    def _written(self) -> dict[float, set[tuple[int, str]]]:
        """(user, role) pairs per window, read from the sink's text
        files (``id \\t username \\t role`` per line)."""
        out: dict[float, set[tuple[int, str]]] = {}
        for d in os.listdir(self.out_dir):
            if not d.startswith("window_start="):
                continue
            rows = out.setdefault(_window_start_s(d), set())
            for f in os.listdir(os.path.join(self.out_dir, d)):
                if f.startswith("part-") and not f.endswith(".crc"):
                    with open(os.path.join(self.out_dir, d, f)) as fh:
                        for line in fh.read().splitlines():
                            user, _, role = line.split("\t")
                            rows.add((int(user), role))
        return out

    # -- metrics ------------------------------------------------------------
    def latencies(self) -> list[float]:
        files = [(t, ev) for t, ev, _ in self.files]
        return list(window_latencies(files, self._emitted()).values())

    def measured_progress(self) -> list[dict]:
        return [
            p
            for p in self.progress
            if streams.ran_batch(p) and streams.trigger_start(p) >= self.t_zero
        ]

    def events_per_s(self) -> float:
        """Input rows per second of trigger time, over the triggers after
        set-up: the rate at which the stream consumes its input."""
        prog = self.measured_progress()
        busy = sum(streams.trigger_s(p) for p in prog)
        return sum(p["numInputRows"] for p in prog) / busy if busy > 0 else 0.0

    def end_to_end(self) -> dict[str, float]:
        lat = self.latencies()
        rate = self.events_per_s()
        self.notes["windows"] = len(lat)
        emitted_at = {b["batch_id"]: len(b["windows"]) for b in self.batches}
        self.notes["triggers"] = [
            (
                round(streams.trigger_start(p) - self.t_zero, 2),
                round(streams.trigger_s(p), 2),
                p["numInputRows"],
                emitted_at.get(p["batchId"], 0),
            )
            for p in self.progress
        ]
        self.notes["generator_late_max_s"] = max(self.lateness, default=0.0)
        return {
            "work_p50_s": percentile(lat, 50),
            "throughput_per_s": rate,
            "role_latency_p50_s": percentile(lat, 50),
            "role_latency_p90_s": percentile(lat, 90),
            "role_events_per_s": rate,
        }

    def per_layer(self, log, tracer) -> dict[str, float]:
        from . import trace

        prog = self.measured_progress()
        out = streams.query_layer("streaming.role", prog, log, skip_first=False)
        # source: backlog and lag at each trigger start
        cum_rows, cum = [], 0
        for _, _, n in self.files:
            cum += n
            cum_rows.append(cum)
        consumed = 0
        backlog, lag = [], []
        for p in prog:
            t = streams.trigger_start(p)
            read = sum(1 for c in cum_rows if c <= consumed)
            written = sum(1 for w, _, _ in self.files if w <= t)
            backlog.append(float(max(0, written - read)))
            lag.append(max(0.0, t - self.files[read][0]) if read < written else 0.0)
            consumed += p["numInputRows"]
        out["io.source_ms"] = median([streams.source_ms(p) for p in prog]) if prog else 0.0
        out["io.source_backlog_files"] = median(backlog) if backlog else 0.0
        out["io.source_lag_s"] = median(lag) if lag else 0.0
        # the foreachBatch body: role build and sink write
        body = [b for b in self.batches if b["start"] >= self.t_zero]
        out["io.sink_write_ms"] = (
            median([(b["end"] - b["built"]) * 1000 for b in body]) if body else 0.0
        )
        out["io.sink_files"] = float(
            sum(
                1
                for _, _, fs in os.walk(self.out_dir)
                for f in fs
                if f.startswith("part-") and not f.endswith(".crc")
            )
        )
        out["pipelines.roles_build_ms"] = (
            median([(b["built"] - b["start"]) * 1000 for b in body]) if body else 0.0
        )
        out["pipelines.windows_per_trigger"] = (
            sum(len(b["windows"]) for b in body) / len(body) if body else 0.0
        )
        out["pipelines.useful_trigger_ratio"] = (
            sum(1 for b in body if b["windows"]) / len(body) if body else 0.0
        )
        # spans: trigger -> phases; addBatch -> foreachBatch -> build, write -> jobs
        adds = {s.group: s for s in streams.trigger_spans(tracer, "role", prog)}
        owners = []
        for b in body:
            parent = adds.get(f"role-{b['batch_id']}")
            pid = parent.id if parent else None
            group = parent.group if parent else f"role-{b['batch_id']}"
            fb = tracer.add("foreachBatch", b["start"], b["end"], pid, group)
            owners.append(tracer.add("role build", b["start"], b["built"], fb.id, group))
            owners.append(tracer.add("sink write", b["built"], b["end"], fb.id, group))
        owners += list(adds.values())
        owner_of = trace.attach_jobs(tracer, log, owners)
        body_owner_ids = {o.id for o in owners[: 2 * len(body)]}
        body_jobs = {j for j, o in owner_of.items() if o in body_owner_ids}
        stage_job = log.stage_of_job()
        n_stages = sum(1 for s in log.stages if stage_job.get(s.id) in body_jobs)
        out["pipelines.jobs_per_trigger"] = len(body_jobs) / len(body) if body else 0.0
        out["pipelines.stages_per_trigger"] = n_stages / len(body) if body else 0.0
        return out


def _window_start_s(dirname: str) -> float:
    """``window_start=2024-03-01 00%3A10%3A00`` -> event seconds."""
    value = urllib.parse.unquote(dirname.split("=", 1)[1])
    ts = dt.datetime.strptime(value[:19], "%Y-%m-%d %H:%M:%S").replace(tzinfo=dt.timezone.utc)
    return ts.timestamp() - gen.STREAM_EPOCH.timestamp()
