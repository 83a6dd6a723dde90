"""``catalog``: a closed loop with one client over a fixed subset of the
batch catalog, the way ``bench.py`` runs the full catalog: build the
entry, write it to the noop sink, ``clearCache``, and a driver GC every
eight entries.

The subset (23 of the 248 entries) keeps one entry of every family
prefix. It is the same, in the same order, for every seed, so seeds
differ only in the generated tables and their times stay comparable.
"""

from __future__ import annotations

import contextlib
import time

from . import common, gen
from .stats import median, percentile

SF = 0.01

# The cheapest entry of every alphabetic family prefix (a, ag, ann, dd,
# ..., x), measured on 4 cores at sf0.01
SUBSET = [
    "a4_tercile_boundaries", "ag_heavy_hitters", "ann_bruteforce_topk",
    "dd_keep_best", "dv_latest_per_key", "e4_doc_token_positions", "emb_norms",
    "gr_assortativity", "gs_cube", "j7_anti_join", "m3_deterministic_sample",
    "mm_audio_frames", "p7_key_whitelist", "s3_json_parse_filter",
    "sq_forecast_revenue", "t1_topk_per_group", "tp_chunk_overlap",
    "ts_interval_join", "tx_redact", "ud_geomean", "w2_count_batches",
    "wn_range_frame", "x3_stopword_removal",
]
# The ROADMAP item-3 entries (a3_role_features, dd_incremental, the
# sweeps, ann_ivfadc_topk, tx_bpe_train) cost 2-5 s each on 4 cores; a
# pass with them does not fit the time a run may take.

# output checks per run: a seed-rotated slice of the subset, so six
# seeds check every entry while a run stays short
CHECKS_PER_RUN = 4
GC_EVERY = 8


def _canon(v) -> str:
    import datetime
    import math

    if v is None:
        return "NULL"
    if isinstance(v, float):
        return "nan" if math.isnan(v) else repr(v)
    if isinstance(v, datetime.datetime):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_canon(x) for x in v) + "]"
    if isinstance(v, (bytes, bytearray)):
        return "0x" + bytes(v).hex()
    return str(v)


def rowset(cols: list[str], rows: list[tuple]) -> tuple[list[str], list[tuple]]:
    """Columns sorted by name and rows sorted, every value canonicalized:
    an order-insensitive image of a result for exact comparison."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return [cols[i] for i in order], sorted(tuple(_canon(r[i]) for i in order) for r in rows)


class Catalog:
    name = "catalog"
    # the first set-up in a process starts the JVM and compiles the
    # warm-up; later ones would measure a warm JVM and cost a third of a
    # run, so a run sets up once
    setup_repeats = 1

    def __init__(self, ctx: common.Context):
        self.ctx = ctx
        self.failures: list[str] = []
        self.samples: list[tuple[str, float]] = []
        self.pass_s: list[float] = []
        self.errored: set[str] = set()
        self.raised = 0
        self.entry_spans: list = []

    def prepare(self) -> None:
        from westtopologies_spark.queries import catalog

        by_name = {s.name: s for s in catalog()}
        missing = [n for n in SUBSET if n not in by_name]
        if missing:
            raise RuntimeError(f"catalog entries not found: {missing}")
        # one order for every seed: the entry that runs first absorbs
        # the session's first-use costs, and that entry stays the same
        self.specs = [by_name[n] for n in SUBSET]
        self.sf_dir = gen.write_tables(self.ctx.seed, SF, self.ctx.path("tables"))
        self.notes = {"sf": SF, "subset": len(SUBSET)}

    def setup(self) -> float:
        """bench.py's session, warm-up queries, table footer touch and
        JVM probe compile."""
        from pyspark.sql import functions as F

        from westtopologies_spark.session import load_table

        t0 = time.perf_counter()
        spark = common.start_session(self.ctx, "bench")
        t1 = time.perf_counter()
        sf_dir = self.sf_dir
        load_table(spark, sf_dir, "events").groupBy("event_type").agg(
            F.count(F.lit(1))
        ).write.format("noop").mode("overwrite").save()
        (
            load_table(spark, sf_dir, "documents")
            .limit(200)
            .select("doc_id", F.explode(F.split(F.col("text"), " ")).alias("tok"))
            .groupBy("doc_id", "tok")
            .count()
            .groupBy("doc_id")
            .agg(F.sum("count"))
            .write.format("noop")
            .mode("overwrite")
            .save()
        )
        for t in gen.TABLES:
            load_table(spark, sf_dir, t).count()
        common.jvm_probe_df(spark).collect()
        t2 = time.perf_counter()
        self.session_s = (t1 - t0, t2 - t1)
        return t2 - t0

    def measure(self, tracer) -> None:
        spark = self.ctx.spark
        sc = spark.sparkContext if tracer.enabled else None
        t_start = time.perf_counter()
        n_run = 0
        last_pass = 0.0
        while not self.pass_s or (
            time.perf_counter() - t_start + last_pass <= self.ctx.seconds
        ):
            t_pass = time.perf_counter()
            for spec in self.specs:
                group = f"{spec.name}#{len(self.pass_s)}"
                t0 = time.perf_counter()
                try:
                    with tracer.span(spec.name, group=group, sc=sc) as entry:
                        with tracer.span("build", sc=sc):
                            df = spec.spark(spark, self.sf_dir)
                        with tracer.span("action", sc=sc):
                            df.write.format("noop").mode("overwrite").save()
                    self.samples.append((spec.name, time.perf_counter() - t0))
                    if entry is not None:
                        self.entry_spans.append(entry)
                except Exception as e:  # noqa: BLE001 - a failed entry is a result
                    self.errored.add(spec.name)
                    self.raised += 1
                    self.failures.append(f"{spec.name}: raised {type(e).__name__}")
                spark.catalog.clearCache()
                df = None
                n_run += 1
                if n_run % GC_EVERY == 0:
                    spark.sparkContext._jvm.System.gc()
            last_pass = time.perf_counter() - t_pass
            self.pass_s.append(last_pass)
        self.attempted = n_run

    def check(self) -> tuple[int, int]:
        import duckdb

        k = (self.ctx.seed * CHECKS_PER_RUN) % len(SUBSET)
        names = (SUBSET[k:] + SUBSET[:k])[:CHECKS_PER_RUN]
        by_name = {s.name: s for s in self.specs}
        wrong = set()
        with contextlib.closing(duckdb.connect()) as con, common.untimed_checks(self.ctx.spark):
            con.execute("SET threads=2")
            for t in gen.TABLES:
                con.execute(
                    f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{self.sf_dir}/{t}.parquet')"
                )
            for name in names:
                if name in self.errored:
                    continue
                why = self._check_one(by_name[name], con)
                if why:
                    wrong.add(name)
                    self.failures.append(f"{name}: {why}")
                self.ctx.spark.catalog.clearCache()
        self.notes["checked"] = names
        # every run of a wrong entry is wrong, checked or not
        failed = self.raised + sum(1 for n, _ in self.samples if n in wrong)
        return self.attempted, failed

    def _check_one(self, spec, con) -> str:
        sdf = spec.spark(self.ctx.spark, self.sf_dir)
        s_cols, s_rows = rowset(sdf.columns, [tuple(r) for r in sdf.collect()])
        if spec.oracle is None:
            return "" if s_rows else "rows-only entry returned no rows"
        rel = con.sql(spec.oracle)
        d_cols, d_rows = rowset(list(rel.columns), rel.fetchall())
        if s_cols != d_cols:
            return f"columns {s_cols} != oracle {d_cols}"
        if len(s_rows) != len(d_rows):
            return f"{len(s_rows)} rows != oracle {len(d_rows)}"
        if s_rows != d_rows:
            return "values differ from the oracle"
        return ""

    def end_to_end(self) -> dict[str, float]:
        xs = [t for _, t in self.samples]
        total = self.pass_s[0] if self.pass_s else 0.0
        self.notes["entry_s"] = {n: round(t, 3) for n, t in self.samples[: len(self.specs)]}
        return {
            # the unit of work is a whole pass: the median entry time of
            # one pass swings twice as much from run to run as its sum
            "work_p50_s": median(self.pass_s) if self.pass_s else None,
            "throughput_per_s": len(xs) / sum(self.pass_s) if self.pass_s else 0.0,
            "catalog_total_s": total,
            "catalog_entry_p50_s": percentile(xs, 50),
            "catalog_entry_p90_s": percentile(xs, 90),
        }

    def per_layer(self, log, tracer) -> dict[str, float]:
        from . import trace

        build = [s for s in tracer.spans if s.name == "build"]
        action = [s for s in tracer.spans if s.name == "action"]
        owner_of = trace.attach_jobs(tracer, log, build + action)
        build_ids = {s.id for s in build}
        eager = [j for j, o in owner_of.items() if o in build_ids]
        jobs = set(owner_of)
        c = trace.counters(log, jobs)
        lo = min(s.start for s in self.entry_spans)
        hi = max(s.end for s in self.entry_spans)
        tracer.compute_self_times()
        out = {
            "queries.build_s": sum(s.dur for s in build),
            "queries.eager_jobs": float(len(eager)),
            "queries.action_s": sum(s.dur for s in action),
            # action time no job covers: Catalyst analysis, optimization
            # and planning, plus driver-side result handling
            "queries.driver_s": sum(s.self_s for s in action),
        }
        out.update({f"queries.{k}": v for k, v in trace.sql_counts(log, lo, hi).items()})
        out.update({f"queries.{k}": v for k, v in c.items()})
        return out
