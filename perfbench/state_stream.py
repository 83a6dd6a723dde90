"""``state_stream``: a saturated drain of staged backlogs through the
``applyInPandasWithState`` operators, one query at a time, parquet file
source to memory sink.

Queries, in order:

- ``rollup``: :func:`streaming.stateful.data_driven_window_rollup_stream`
  over a time-ordered replay of ``events`` (K time-shifted copies),
  state sharded over 64 user-hash keys;
- ``topk``: :func:`streaming.stateful.windowed_topk_stream_gaws` over
  the same replay;
- ``lsh``: :func:`streaming.stateful.lsh_candidate_stream` over
  ``documents`` in ``doc_id`` order.

Each backlog is written before the clock starts, one file per trigger.
A query's rate excludes its first trigger.
"""

from __future__ import annotations

import time

from . import common, gen, streams
from .stats import median, percentile

EVENTS = 10_000  # per copy
USERS = 150
EVENT_COPIES = 4
DOCS = 2_000
FILES_PER_QUERY = 16
SHARDS = 64
QUERIES = ("rollup", "topk", "lsh")


class StateStream:
    name = "state_stream"
    setup_repeats = 3

    def __init__(self, ctx: common.Context):
        self.ctx = ctx
        self.dirs: dict[str, str] = {}
        self.results: dict[str, dict] = {}
        self.failures: list[str] = []

    # -- inputs (untimed) -------------------------------------------------
    def prepare(self) -> None:
        events = gen.replay_events(
            gen.events_frame(self.ctx.seed, EVENTS, USERS), EVENT_COPIES
        )
        docs = gen.documents_frame(self.ctx.seed, DOCS)[["doc_id", "text"]]
        self.notes = {"events": len(events), "documents": len(docs)}
        ev_dir = self.ctx.path("in", "events")
        doc_dir = self.ctx.path("in", "documents")
        streams.stage_files(events, ev_dir, FILES_PER_QUERY, ts_col="ts")
        streams.stage_files(docs, doc_dir, FILES_PER_QUERY)
        warm = self.ctx.path("in", "warm")
        streams.stage_files(events.iloc[: len(events) // FILES_PER_QUERY], warm, 1, ts_col="ts")
        self.dirs = {"rollup": ev_dir, "topk": ev_dir, "lsh": doc_dir, "warm": warm}

    # -- set-up -----------------------------------------------------------
    def setup(self) -> float:
        t0 = time.perf_counter()
        spark = common.start_session(self.ctx, "bench-state-stream")
        t1 = time.perf_counter()
        common.jvm_probe_df(spark).collect()
        q = self._start("rollup", self.dirs["warm"], f"warm_{int(t0 * 1e6)}")
        streams.wait_first_trigger(q)
        t2 = time.perf_counter()
        self.session_s = (t1 - t0, t2 - t1)
        q.processAllAvailable()
        q.stop()
        return t2 - t0

    def _source(self, which: str, path: str):
        from pyspark.sql import functions as F

        spark = self.ctx.spark
        if which == "lsh":
            return (
                spark.readStream.schema("doc_id long, text string")
                .option("maxFilesPerTrigger", 1)
                .parquet(path)
            )
        src = (
            spark.readStream.schema(streams.EVENT_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .parquet(path)
        )
        if which == "rollup":
            src = src.withColumn("shard_id", F.pmod(F.xxhash64("user_id"), F.lit(SHARDS)))
        return src

    def _query_df(self, which: str, src):
        from westtopologies_spark.streaming.stateful import (
            data_driven_window_rollup_stream,
            lsh_candidate_stream,
            windowed_topk_stream_gaws,
        )

        if which == "rollup":
            return data_driven_window_rollup_stream(src, key_cols=["shard_id"])
        if which == "topk":
            return windowed_topk_stream_gaws(src, interval_sec=3600, k=3)
        return lsh_candidate_stream(src)

    def _start(self, which: str, path: str, name: str):
        df = self._query_df(which, self._source(which, path))
        return (
            df.writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .option("checkpointLocation", self.ctx.path("ckpt", name))
            .start()
        )

    # -- measurement --------------------------------------------------------
    def measure(self, tracer) -> None:
        for which in QUERIES:
            name = f"out_{which}"
            t_start = time.time()
            q = self._start(which, self.dirs[which], name)
            error = None
            try:
                q.processAllAvailable()
            except Exception as e:  # noqa: BLE001 - a failed stream is a result
                error = e
            t_end = time.time()
            progress = streams.progress_dicts(q)
            q.stop()
            if error is None and q.exception() is not None:
                error = q.exception()
            self.results[which] = {
                "name": name,
                "start": t_start,
                "end": t_end,
                "progress": progress,
                "error": error,
            }
            if error is not None:
                self.failures.append(f"{which}: stream ended with {type(error).__name__}")

    # -- output checks (untimed) -----------------------------------------------
    def check(self) -> tuple[int, int]:
        """Returns (attempted, failed) over the three queries."""
        checks = {"rollup": self._check_rollup, "topk": self._check_topk, "lsh": self._check_lsh}
        failed = 0
        with common.untimed_checks(self.ctx.spark):
            for which in QUERIES:
                res = self.results.get(which)
                if res is None or res["error"] is not None:
                    failed += 1
                    continue
                ok, why = checks[which](res["name"])
                if not ok:
                    failed += 1
                    self.failures.append(f"{which}: {why}")
        return len(QUERIES), failed

    def _batch_events(self):
        from pyspark.sql import functions as F

        return (
            self.ctx.spark.read.schema(streams.EVENT_SCHEMA)
            .parquet(self.dirs["rollup"])
            .withColumn("shard_id", F.pmod(F.xxhash64("user_id"), F.lit(SHARDS)))
        )

    def _check_rollup(self, name: str) -> tuple[bool, str]:
        from westtopologies_spark.streaming.stateful import data_driven_windows

        cols = ["shard_id", "window_start", "window_end", "n_events", "sum_value"]
        got = sorted(map(tuple, self.ctx.spark.table(name).select(*cols).collect()))
        expect = data_driven_windows(
            self._batch_events(), key_cols=["shard_id"], interval_sec=600
        )
        exp = sorted(map(tuple, expect.select(*cols).collect()))
        if not got:
            return False, "no windows emitted"
        return got == exp, f"{len(got)} windows vs {len(exp)} in batch"

    def _check_topk(self, name: str) -> tuple[bool, str]:
        from pyspark.sql import Window as W
        from pyspark.sql import functions as F

        got = self.ctx.spark.table(name).collect()
        batch = (
            self._batch_events()
            .groupBy(
                F.timestamp_seconds(
                    (F.floor(F.unix_timestamp("ts") / 3600) * 3600).cast("long")
                ).alias("window_start"),
                "event_type",
            )
            .agg(F.count(F.lit(1)).alias("n_events"))
            .withColumn(
                "rnk",
                F.row_number().over(
                    W.partitionBy("window_start").orderBy(
                        F.desc("n_events"), F.asc("event_type")
                    )
                ),
            )
            .filter(F.col("rnk") <= 3)
        )
        closed = {r.window_start for r in got}
        exp = sorted(
            (r.window_start, r.event_type, r.n_events, r.rnk)
            for r in batch.collect()
            if r.window_start in closed
        )
        g = sorted((r.window_start, r.event_type, r.n_events, r.rnk) for r in got)
        if not g:
            return False, "no windows emitted"
        return g == exp, f"{len(g)} ranks vs {len(exp)} in batch"

    def _check_lsh(self, name: str) -> tuple[bool, str]:
        from westtopologies_spark.scale import dedup as D

        rows = self.ctx.spark.table(name).collect()
        self.n_candidates = len(rows)
        got = {(min(r.doc_prior, r.doc_new), max(r.doc_prior, r.doc_new)) for r in rows}
        docs = self.ctx.spark.read.parquet(self.dirs["lsh"])
        sigs = D.minhash_signatures(
            D.doc_shingles(D.doc_token_ids(D.tokens_with_ids(docs, vocab_mode="char")))
        )
        exp = {(r.doc_a, r.doc_b) for r in D.lsh_candidate_pairs(sigs).collect()}
        if not exp:
            return False, "batch found no candidate pairs"
        return got == exp, f"{len(got)} pairs vs {len(exp)} in batch"

    # -- metrics ------------------------------------------------------------
    def steady(self, which: str) -> list[dict]:
        """Progress records after the query's first trigger."""
        return [p for p in self.results[which]["progress"] if p["batchId"] > 0]

    def rate(self, which: str) -> float:
        steady = self.steady(which)
        rows = sum(p["numInputRows"] for p in steady)
        busy = sum(p["durationMs"]["triggerExecution"] for p in steady) / 1000.0
        return rows / busy if busy > 0 else 0.0

    def end_to_end(self) -> dict[str, float]:
        trig = [
            p["durationMs"]["triggerExecution"] / 1000.0
            for w in QUERIES
            for p in self.steady(w)
        ]
        rows = sum(p["numInputRows"] for w in QUERIES for p in self.steady(w))
        return {
            "work_p50_s": percentile(trig, 50),
            "throughput_per_s": rows / sum(trig) if trig else 0.0,
            "state_rollup_events_per_s": self.rate("rollup"),
            "state_topk_events_per_s": self.rate("topk"),
            "state_lsh_docs_per_s": self.rate("lsh"),
        }

    def per_layer(self, log, tracer) -> dict[str, float]:
        from . import trace

        out: dict[str, float] = {}
        adds = []
        for which in QUERIES:
            prog = self.results[which]["progress"]
            out.update(streams.query_layer(f"streaming.{which}", prog, log))
            adds += streams.trigger_spans(tracer, which, prog)
        trace.attach_jobs(tracer, log, adds)
        out["streaming.lsh.candidates"] = float(getattr(self, "n_candidates", 0))
        src_ms = [streams.source_ms(p) for w in QUERIES for p in self.steady(w)]
        out["io.source_ms"] = median(src_ms) if src_ms else 0.0
        return out
