"""Streaming e2e: the stateful W1/W2 operators driven through real
Structured Streaming micro-batches (file source -> memory sink),
asserting parity with their deterministic batch formulations."""

from __future__ import annotations

import os
import time

import pytest
from pyspark.sql import functions as F

from westtopologies_spark.session import load_table
from westtopologies_spark.streaming.stateful import (
    aligned_window_rollup_stream,
    count_batches_stream,
    data_driven_window_rollup_stream,
    data_driven_windows,
)


@pytest.fixture(scope="module")
def staged_events(spark, sf_dir, tmp_path_factory):
    """300 events split into 3 parquet files with increasing mtimes so
    the file source replays them as ordered micro-batches."""
    out = str(tmp_path_factory.mktemp("events_stream"))
    ev = load_table(spark, sf_dir, "events").filter(F.col("event_id") < 300)
    pdf = ev.select("event_id", "ts", "value").toPandas().sort_values("event_id")
    for i, lo in enumerate(range(0, 300, 100)):
        chunk = pdf[(pdf.event_id >= lo) & (pdf.event_id < lo + 100)]
        path = os.path.join(out, f"part-{i}.parquet")
        chunk.to_parquet(
            path, index=False, coerce_timestamps="us", allow_truncated_timestamps=True
        )
        mtime = time.time() - 100 + i * 10
        os.utime(path, (mtime, mtime))
    return out, ev.select("event_id", "ts", "value")


def _run_stream(spark, stream_df, name):
    q = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return spark.sql(f"SELECT * FROM {name}")


def test_w1_exact_stream_matches_batch(spark, staged_events):
    path, batch_df = staged_events
    schema = "event_id long, ts timestamp, value double"
    src = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(path)
    got = _run_stream(spark, data_driven_window_rollup_stream(src), "w1_exact_out")
    expect = data_driven_windows(batch_df)
    g = sorted(map(tuple, got.collect()))
    e = sorted(map(tuple, expect.collect()))
    assert len(g) > 3  # several windows closed across micro-batch boundaries
    assert g == e


def test_w2_count_batches_stream(spark, staged_events):
    path, _ = staged_events
    schema = "event_id long, ts timestamp, value double"
    src = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(path)
    got = _run_stream(spark, count_batches_stream(src), "w2_out").collect()
    assert len(got) == 300
    by_batch = {}
    for r in got:
        by_batch.setdefault(r["batch_id"], []).append(r["event_id"])
    # every batch holds exactly 5 consecutive seqs (state survives
    # micro-batch boundaries: batches straddle the 100-row files)
    assert all(len(v) == 5 for v in by_batch.values())
    assert by_batch[19] == [95, 96, 97, 98, 99]
    assert by_batch[20] == [100, 101, 102, 103, 104]  # straddles files 0/1


def test_aligned_window_stream(spark, staged_events):
    path, batch_df = staged_events
    schema = "event_id long, ts timestamp, value double"
    src = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(path)
    src = src.withColumn("event_type", F.lit("all"))
    got = _run_stream(spark, aligned_window_rollup_stream(src), "w1_aligned_out")
    batch = (
        batch_df.groupBy(F.window("ts", "10 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"), F.round(F.sum("value"), 2).alias("sum_value"))
        .select(F.col("w.start").alias("window_start"), "n_events", "sum_value")
    )
    g = {tuple(r) for r in got.select("window_start", "n_events", "sum_value").collect()}
    e = {tuple(r) for r in batch.collect()}
    # append-mode watermark holds back the final (unclosed) window(s);
    # everything emitted must match the batch result exactly
    assert g <= e
    assert len(g) >= len(e) - 2


def test_role_analysis_stream_matches_batch(spark, tmp_path_factory):
    """Full pipeline-1 parity: tweet JSON replayed as a file stream ->
    closed-window edge sets -> foreachBatch role kernel == the batch
    role_analysis pipeline on the same data."""
    import json

    from westtopologies_spark.pipelines.role_analysis import (
        role_analysis_batch,
        roles_for_closed_windows,
        windowed_edge_sets_stream,
    )
    from westtopologies_spark.schemas import TWEET_SCHEMA

    def tw(tid, uid, created, reply_to=None):
        return {
            "_seq": tid,
            "created_at": created,
            "id_str": str(tid),
            "text": "t",
            "user": {"id_str": str(uid), "screen_name": f"u{uid}"},
            "in_reply_to_status_id_str": str(reply_to) if reply_to else None,
            "in_reply_to_user_id_str": None,
            "in_reply_to_screen_name": None,
            "retweeted_status": None,
            "entities": {"user_mentions": []},
            "coordinates": None,
        }

    rows = [
        tw(1, 10, "Mon Jan 01 00:00:01 +0000 2024"),
        tw(2, 11, "Mon Jan 01 00:01:00 +0000 2024", reply_to=1),
        tw(3, 10, "Mon Jan 01 00:02:00 +0000 2024", reply_to=2),
        tw(4, 12, "Mon Jan 01 00:03:00 +0000 2024", reply_to=99),
        tw(6, 11, "Mon Jan 01 00:11:00 +0000 2024"),
        tw(7, 12, "Mon Jan 01 00:12:00 +0000 2024", reply_to=6),
        # closes both earlier windows past the watermark
        tw(9, 13, "Mon Jan 01 00:40:00 +0000 2024"),
    ]
    src_dir = tmp_path_factory.mktemp("tweets_stream")
    (src_dir / "a.json").write_text("\n".join(json.dumps(r) for r in rows))

    results = []
    stream = spark.readStream.schema(TWEET_SCHEMA).json(str(src_dir))
    q = (
        windowed_edge_sets_stream(stream)
        .writeStream.outputMode("append")
        .foreachBatch(
            lambda df, _id: results.extend(roles_for_closed_windows(df).collect())
        )
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    batch_df = spark.createDataFrame(rows, TWEET_SCHEMA)
    expect = {
        (str(r["window_start"]), r["user_id"]): (r["post_count"], r["role"])
        for r in role_analysis_batch(batch_df).collect()
        if str(r["window_start"]) < "2024-01-01 00:20"  # closed windows only
    }
    got = {
        (str(r["window_start"]), r["user_id"]): (r["post_count"], r["role"])
        for r in results
    }
    assert len(got) == 5  # 3 users in window 1 + 2 users in window 2
    assert got == expect


def test_lod_explorer_stream_matches_batch(spark, tmp_path_factory):
    """Pipeline-2 parity: geoparse JSON file stream -> PipelineRunner
    foreachBatch(lod_explorer_batch) == batch run (all side tables
    static broadcast snapshots; per-message semantics)."""
    import json

    from westtopologies_spark.ops.geo import GEO_LAT, GEO_LONG, OWL_SAMEAS, RDFS_LABEL
    from westtopologies_spark.pipelines.lod_explorer import lod_explorer_batch
    from westtopologies_spark.pipelines.runner import run_foreach_batch

    sameas = spark.createDataFrame(
        [("http://db/Koblenz", OWL_SAMEAS, "http://lgd/t1")],
        "s string, p string, o string",
    )
    loc_triples = spark.createDataFrame(
        [
            ("http://db/Koblenz", "http://db/onto/type", "http://db/City", None),
            ("http://db/City", GEO_LAT, "50.36", None),
            ("http://db/City", GEO_LONG, "7.60", None),
            ("http://db/City", RDFS_LABEL, "Koblenz", "en"),
        ],
        "s string, p string, o string, lang string",
    )
    nb = spark.createDataFrame(
        [("http://db/onto/type", 50, 5), ("total", 60, 60)],
        "property string, rel int, irrel int",
    )
    rows = [
        {"_seq": 0, "itinno:item_id": "m1",
         "itinno:loc_set": [{"key": "linked_data", "linked_data": ["http://lgd/t1"]}]},
        {"_seq": 1, "itinno:item_id": "m2", "itinno:loc_set": []},
    ]
    src_dir = tmp_path_factory.mktemp("geoparse_stream")
    (src_dir / "a.json").write_text("\n".join(json.dumps(r) for r in rows))
    schema = (
        "_seq long, `itinno:item_id` string, "
        "`itinno:loc_set` array<struct<key string, linked_data array<string>>>"
    )
    stream = spark.readStream.schema(schema).json(str(src_dir))

    results = []
    q = run_foreach_batch(
        stream,
        lambda df: lod_explorer_batch(df, sameas, loc_triples, nb),
        lambda out, _id: results.extend(out.collect()),
    )
    q.awaitTermination(120)

    batch = lod_explorer_batch(
        spark.read.schema(schema).json(str(src_dir)), sameas, loc_triples, nb
    ).collect()
    assert len(results) == len(batch) == 1
    assert results[0]["ukob:explored_entities"] == batch[0]["ukob:explored_entities"]


def test_location_topic_model_stream_matches_batch(spark, tmp_path_factory):
    """Pipeline-3 parity: tweets file stream -> foreachBatch
    location_topic_model_batch (static S12 dictionary, deterministic
    model) == batch run. W2's cross-batch 5-buffer semantics are
    covered separately by test_w2_count_batches_stream."""
    import json

    from pyspark.sql import functions as F

    from westtopologies_spark.ops.model import LocationModel
    from westtopologies_spark.ops.text import build_dictionary, stem_rule_based, tokenize
    from westtopologies_spark.pipelines.location_topic_model import (
        location_topic_model_batch,
    )
    from westtopologies_spark.pipelines.runner import run_foreach_batch
    from westtopologies_spark.schemas import TWEET_SCHEMA

    def tw(tid, text):
        return {
            "_seq": tid, "created_at": "Mon Jan 01 00:00:01 +0000 2024",
            "id_str": str(tid), "text": text,
            "user": {"id_str": "1", "screen_name": "u"},
            "in_reply_to_status_id_str": None, "in_reply_to_user_id_str": None,
            "in_reply_to_screen_name": None, "retweeted_status": None,
            "entities": {"user_mentions": []}, "coordinates": None,
        }

    rows = [
        tw(1, "the quick brown fox jumps over the lazy dog"),
        tw(2, "spark streaming window aggregation with the broadcast join"),
        tw(3, "the brown dog sleeps under the window"),
    ]
    src_dir = tmp_path_factory.mktemp("ltm_stream")
    (src_dir / "a.json").write_text("\n".join(json.dumps(r) for r in rows))

    batch_df = spark.createDataFrame(rows, TWEET_SCHEMA)
    # static dictionary (S12 wordmap role): built once from the corpus
    toked = tokenize(batch_df).select(
        F.explode("tokens").alias("raw_token")
    ).withColumn("token", stem_rule_based(F.col("raw_token")))
    dictionary = build_dictionary(toked).persist()
    model = LocationModel.deterministic(n_regions=8)

    expect = {
        r["itinno:item_id"]: [(t["location"], round(t["probability"], 6))
                              for t in r["ukob:topic_set"]]
        for r in location_topic_model_batch(batch_df, model, dictionary=dictionary).collect()
    }

    results = []
    stream = spark.readStream.schema(TWEET_SCHEMA).json(str(src_dir))
    q = run_foreach_batch(
        stream,
        lambda df: location_topic_model_batch(df, model, dictionary=dictionary),
        lambda out, _id: results.extend(out.collect()),
    )
    q.awaitTermination(120)
    got = {
        r["itinno:item_id"]: [(t["location"], round(t["probability"], 6))
                              for t in r["ukob:topic_set"]]
        for r in results
    }
    assert got == expect and len(got) == 3


def test_gap_session_stream_matches_batch_sessionize(spark, sf_dir, tmp_path_factory):
    """Streaming session_window == batch scale.temporal.sessionize on
    the same events (stream end = batch max-ts + gap). A far-future
    sentinel event in the last file advances the watermark so every
    real session is closed and emitted."""
    import pandas as pd

    from westtopologies_spark.scale.temporal import sessionize
    from westtopologies_spark.streaming.stateful import gap_session_stream

    out = str(tmp_path_factory.mktemp("sess_stream"))
    ev = load_table(spark, sf_dir, "events").filter(F.col("event_id") < 300)
    cols = ["event_id", "ts", "user_id", "value"]
    pdf = ev.select(*cols).toPandas().sort_values("event_id")
    for i, lo in enumerate(range(0, 300, 150)):
        chunk = pdf[(pdf.event_id >= lo) & (pdf.event_id < lo + 150)]
        p = os.path.join(out, f"part-{i}.parquet")
        chunk.to_parquet(p, index=False, coerce_timestamps="us",
                         allow_truncated_timestamps=True)
        os.utime(p, (time.time() - 100 + i * 10,) * 2)
    sentinel = pd.DataFrame(
        {"event_id": [10_000], "ts": [pdf.ts.max() + pd.Timedelta(days=2)],
         "user_id": [-1], "value": [0.0]}
    )
    p = os.path.join(out, "part-z.parquet")
    sentinel.to_parquet(p, index=False, coerce_timestamps="us",
                        allow_truncated_timestamps=True)
    os.utime(p, (time.time(),) * 2)

    schema = "event_id long, ts timestamp, user_id long, value double"
    src = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(out)
    got = _run_stream(spark, gap_session_stream(src), "sess_out")
    g = {
        tuple(r)
        for r in got.filter(F.col("user_id") >= 0)
        .select("user_id", "session_start", "session_end", "n_events", "sum_value")
        .collect()
    }
    batch = sessionize(ev).select(
        "user_id",
        "session_start",
        (F.col("session_end") + F.expr("INTERVAL 30 MINUTES")).alias("session_end"),
        "n_events",
        "sum_value",
    )
    e = {tuple(r) for r in batch.collect()}
    assert g == e
    assert len(g) > 0


def test_stream_dedup_within_watermark(spark, sf_dir, tmp_path_factory):
    """dropDuplicatesWithinWatermark parity: events replayed twice
    (exact duplicate micro-batch within the watermark horizon) must
    come out exactly once, matching batch dropDuplicates."""
    import pandas as pd

    out = str(tmp_path_factory.mktemp("dedup_stream"))
    ev = load_table(spark, sf_dir, "events").filter(F.col("event_id") < 200)
    pdf = ev.select("event_id", "ts", "value").toPandas().sort_values("event_id")
    # file 0: first 150 events; file 1: events 50..200 (overlap 50..150)
    chunks = [pdf[pdf.event_id < 150], pdf[pdf.event_id >= 50]]
    for i, chunk in enumerate(chunks):
        path = os.path.join(out, f"part-{i}.parquet")
        chunk.to_parquet(
            path, index=False, coerce_timestamps="us", allow_truncated_timestamps=True
        )
        mtime = time.time() - 100 + i * 10
        os.utime(path, (mtime, mtime))
    schema = "event_id long, ts timestamp, value double"
    src = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(path := out)
    deduped = (
        src.withWatermark("ts", "90 days")
        .dropDuplicatesWithinWatermark(["event_id"])
    )
    got = _run_stream(spark, deduped, "dedup_stream_out")
    assert got.count() == 200
    assert sorted(r.event_id for r in got.collect()) == sorted(
        r.event_id for r in ev.collect()
    )


def test_stream_stream_join_matches_batch(spark, sf_dir, tmp_path_factory):
    """Watermarked stream-stream interval join == the batch join with
    the same predicate, across micro-batch boundaries."""
    from westtopologies_spark.streaming.stateful import stream_stream_interval_join

    ev = load_table(spark, sf_dir, "events")
    clicks_b = ev.filter(F.col("event_type") == "click").select(
        "user_id", F.col("event_id").alias("click_id"), F.col("ts").alias("click_ts")
    )
    purch_b = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("purchase_ts"),
    )

    out = tmp_path_factory.mktemp("ssj")
    paths = {}
    for name, df in (("clicks", clicks_b), ("purchases", purch_b)):
        pdf = df.toPandas().sort_values(df.columns[2])
        d = os.path.join(str(out), name)
        os.makedirs(d)
        n = len(pdf)
        for i in range(4):  # 4 time-ordered chunks -> several micro-batches
            chunk = pdf.iloc[i * n // 4 : (i + 1) * n // 4]
            p = os.path.join(d, f"part-{i}.parquet")
            chunk.to_parquet(
                p, index=False, coerce_timestamps="us", allow_truncated_timestamps=True
            )
            mtime = time.time() - 100 + i * 10
            os.utime(p, (mtime, mtime))
        paths[name] = d

    cs = (
        spark.readStream.schema("user_id long, click_id long, click_ts timestamp")
        .option("maxFilesPerTrigger", 1)
        .parquet(paths["clicks"])
    )
    ps = (
        spark.readStream.schema(
            "user_id long, purchase_id long, purchase_ts timestamp"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(paths["purchases"])
    )
    got = _run_stream(
        spark, stream_stream_interval_join(cs, ps, gap="24 hours"), "ssj_out"
    )

    expect = (
        clicks_b.alias("c")
        .join(
            purch_b.alias("p"),
            (F.col("c.user_id") == F.col("p.user_id"))
            & (F.col("p.purchase_ts") >= F.col("c.click_ts"))
            & (
                F.col("p.purchase_ts")
                <= F.col("c.click_ts") + F.expr("INTERVAL 24 hours")
            ),
        )
        .select(
            F.col("c.user_id").alias("user_id"),
            "click_id",
            "click_ts",
            "purchase_id",
            "purchase_ts",
        )
    )
    g = sorted(map(tuple, got.collect()))
    e = sorted(map(tuple, expect.collect()))
    assert len(e) > 10  # the interval actually matches pairs
    assert g == e


@pytest.fixture(scope="module")
def staged_keyed_events(spark, sf_dir, tmp_path_factory):
    """Events with a conversation-root-style key (with_root_ids over a
    synthetic reply forest), staged as ordered micro-batch files —
    the keyed exact-W1 scale path (VERDICT r1 item 6)."""
    from westtopologies_spark.ops.roles import with_root_ids

    out = str(tmp_path_factory.mktemp("keyed_events_stream"))
    ev = load_table(spark, sf_dir, "events").filter(F.col("event_id") < 300)
    # reply forest: chains of 10 events -> with_root_ids collapses each
    # chain to its head, giving 30 conversation keys
    nodes = ev.select(
        F.col("event_id").alias("tweet_id"),
        F.when(
            F.col("event_id") % 10 == 0, F.lit(None)
        ).otherwise(F.col("event_id") - 1).alias("parent_id"),
    )
    roots = with_root_ids(nodes, max_depth=16).select(
        F.col("tweet_id").alias("event_id"), "root_id"
    )
    keyed = ev.join(roots, "event_id").select("event_id", "root_id", "ts", "value")
    pdf = keyed.toPandas().sort_values("event_id")
    for i, lo in enumerate(range(0, 300, 100)):
        chunk = pdf[(pdf.event_id >= lo) & (pdf.event_id < lo + 100)]
        path = os.path.join(out, f"part-{i}.parquet")
        chunk.to_parquet(
            path, index=False, coerce_timestamps="us", allow_truncated_timestamps=True
        )
        mtime = time.time() - 100 + i * 10
        os.utime(path, (mtime, mtime))
    return out, keyed


def test_w1_exact_stream_keyed_matches_batch(spark, staged_keyed_events):
    path, batch_df = staged_keyed_events
    schema = "event_id long, root_id long, ts timestamp, value double"
    src = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(path)
    got = _run_stream(
        spark,
        data_driven_window_rollup_stream(src, key_cols=["root_id"], interval_sec=60),
        "w1_keyed_out",
    )
    expect = data_driven_windows(batch_df, key_cols=["root_id"], interval_sec=60)
    g = sorted(map(tuple, got.select("window_start", "window_end", "n_events", "sum_value").collect()))
    e = sorted(map(tuple, expect.select("window_start", "window_end", "n_events", "sum_value").collect()))
    assert len(g) > 3
    assert g == e
    # state really is sharded: multiple distinct conversation keys emit
    assert got.select("root_id").distinct().count() > 1


def test_windowed_topk_stream_matches_batch(spark, sf_dir, tmp_path_factory):
    """Streaming top-k (per-window count state + event-time timeout)
    == batch rank for every window the watermark closed before end
    of stream."""
    from westtopologies_spark.streaming.stateful import windowed_topk_stream_gaws

    out = str(tmp_path_factory.mktemp("topk_stream"))
    ev = load_table(spark, sf_dir, "events").filter(F.col("event_id") < 3000)
    pdf = (
        ev.select("event_id", "ts", "event_type")
        .toPandas()
        .sort_values("ts")
        .reset_index(drop=True)
    )
    # 3 time-ordered files -> watermark advances across micro-batches
    for i in range(3):
        chunk = pdf.iloc[i * 1000 : (i + 1) * 1000]
        path = os.path.join(out, f"part-{i}.parquet")
        chunk.to_parquet(
            path, index=False, coerce_timestamps="us", allow_truncated_timestamps=True
        )
        mtime = time.time() - 100 + i * 10
        os.utime(path, (mtime, mtime))
    schema = "event_id long, ts timestamp, event_type string"
    src = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(out)
    got = _run_stream(
        spark,
        windowed_topk_stream_gaws(src, interval_sec=3600, k=3),
        "topk_stream_out",
    ).collect()
    assert len(got) > 0
    # batch reference: hourly counts + rank, restricted to the hours
    # the stream actually closed (the final watermark never passes
    # the last in-flight window in an availableNow replay)
    from pyspark.sql import Window as W

    batch = (
        ev.filter(F.col("event_id") < 3000)
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
    expect = [
        r
        for r in batch.collect()
        if r.window_start in closed
    ]
    g = sorted((r.window_start, r.event_type, r.n_events, r.rnk) for r in got)
    e = sorted(
        (r.window_start, r.event_type, r.n_events, r.rnk) for r in expect
    )
    assert g == e


def test_checkpoint_restart_exactly_once(spark, sf_dir, tmp_path_factory):
    """W3 delivery semantics, demonstrated: a checkpointed query
    stopped and RESTARTED over a grown source directory emits each
    input row exactly once into a transactional file sink — replays
    resume from the committed offset instead of reprocessing (the
    reference's ack-on-receipt at-least-once cannot give this)."""
    base = tmp_path_factory.mktemp("ckpt_restart")
    src_dir, out_dir, ckpt = (
        str(base / "src"),
        str(base / "out"),
        str(base / "ckpt"),
    )
    os.makedirs(src_dir)
    ev = load_table(spark, sf_dir, "events").filter(F.col("event_id") < 300)
    pdf = ev.select("event_id", "ts", "value").toPandas().sort_values("event_id")

    def add_chunk(i: int, lo: int, hi: int) -> None:
        chunk = pdf[(pdf.event_id >= lo) & (pdf.event_id < hi)]
        p = os.path.join(src_dir, f"part-{i}.parquet")
        chunk.to_parquet(
            p, index=False, coerce_timestamps="us", allow_truncated_timestamps=True
        )

    def run_once() -> None:
        schema = "event_id long, ts timestamp, value double"
        src = spark.readStream.schema(schema).parquet(src_dir)
        q = (
            src.writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    # run 1: two chunks committed
    add_chunk(0, 0, 100)
    add_chunk(1, 100, 200)
    run_once()
    n1 = spark.read.parquet(out_dir).count()
    assert n1 == 200
    # run 2 (restart from checkpoint): one NEW chunk appears; the two
    # already-committed chunks must not be re-emitted
    add_chunk(2, 200, 300)
    run_once()
    out = spark.read.parquet(out_dir)
    assert out.count() == 300  # exactly once: no dup of chunks 0-1
    ids = sorted(r.event_id for r in out.select("event_id").collect())
    assert ids == sorted(r.event_id for r in ev.select("event_id").collect())


def test_lsh_candidate_stream_matches_batch_self_join(
    spark, sf_dir, tmp_path_factory
):
    """Streaming LSH candidate generation == the batch band-bucket
    self-join on the same corpus: replaying the documents table as
    doc_id-ordered micro-batches must emit exactly the batch
    candidate pair set (as unordered pairs; streaming orients them
    prior->new by arrival)."""
    from westtopologies_spark.scale import dedup as D
    from westtopologies_spark.streaming.stateful import lsh_candidate_stream

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    out = str(tmp_path_factory.mktemp("lsh_stream"))
    pdf = docs.toPandas().sort_values("doc_id")
    n = len(pdf)
    for i in range(3):
        chunk = pdf.iloc[i * n // 3 : (i + 1) * n // 3]
        p = os.path.join(out, f"part-{i}.parquet")
        chunk.to_parquet(p, index=False)
        mtime = time.time() - 100 + i * 10
        os.utime(p, (mtime, mtime))

    src = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(out)
    )
    got_df = _run_stream(
        spark, lsh_candidate_stream(src, bucket_cap=10**9), "lsh_cand_out"
    )
    got = {
        (min(r.doc_prior, r.doc_new), max(r.doc_prior, r.doc_new))
        for r in got_df.collect()
    }
    # arrival order == doc_id order, so prior < new always holds
    assert all(
        r.doc_prior < r.doc_new for r in got_df.collect()
    )

    sigs = D.minhash_signatures(
        D.doc_shingles(
            D.doc_token_ids(D.tokens_with_ids(docs, vocab_mode="char"))
        )
    )
    expect = {
        (r.doc_a, r.doc_b) for r in D.lsh_candidate_pairs(sigs).collect()
    }
    assert got == expect
    assert len(expect) > 0


def test_lsh_candidate_stream_bucket_cap_bounds_state(
    spark, tmp_path_factory
):
    """With bucket_cap=1 only the FIRST doc of each bucket stays in
    state: three identical docs must yield pairs (first,second) and
    (first,third) — not (second,third)."""
    import pandas as pd

    from westtopologies_spark.streaming.stateful import lsh_candidate_stream

    out = str(tmp_path_factory.mktemp("lsh_cap"))
    text = "alpha beta gamma delta epsilon"
    pdf = pd.DataFrame({"doc_id": [1, 2, 3], "text": [text] * 3})
    p = os.path.join(out, "part-0.parquet")
    pdf.to_parquet(p, index=False)

    src = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(out)
    )
    got = _run_stream(
        spark, lsh_candidate_stream(src, bucket_cap=1), "lsh_cap_out"
    )
    pairs = {(r.doc_prior, r.doc_new) for r in got.collect()}
    assert pairs == {(1, 2), (1, 3)}


def test_ingest_dedup_stream_decomposes_batch_dedup(
    spark, sf_dir, tmp_path_factory
):
    """Micro-batch ingest dedup (delta-vs-corpus + in-batch self)
    emits EXACTLY the one-shot full-corpus MinHash dedup pairs:
    per-pair determinism of signatures/bands/Jaccard makes the
    decomposition lossless across trigger boundaries.  The replay
    leaves no cached plan behind in the session."""
    from westtopologies_spark.pipelines.ingest_dedup import (
        ingest_dedup_stream,
    )
    from westtopologies_spark.scale import dedup as D

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    src_dir = str(tmp_path_factory.mktemp("ingest_src"))
    pdf = docs.toPandas().sort_values("doc_id")
    n = len(pdf)
    for i in range(3):
        chunk = pdf.iloc[i * n // 3 : (i + 1) * n // 3]
        p = os.path.join(src_dir, f"part-{i}.parquet")
        chunk.to_parquet(p, index=False)
        mtime = time.time() - 100 + i * 10
        os.utime(p, (mtime, mtime))

    base = tmp_path_factory.mktemp("ingest_state")
    corpus_dir = os.path.join(str(base), "corpus")
    pairs_dir = os.path.join(str(base), "pairs")
    src = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(src_dir)
    )
    cache = spark._jsparkSession.sharedState().cacheManager()
    cached = cache.numCachedEntries()
    q = ingest_dedup_stream(src, corpus_dir, pairs_dir, threshold=0.3)
    q.awaitTermination(180)
    assert len({p["batchId"] for p in q.recentProgress}) == 3
    assert cache.numCachedEntries() == cached

    got_rows = spark.read.parquet(pairs_dir).collect()
    got = {
        (min(r[0], r[1]), max(r[0], r[1]), r[2]) for r in got_rows
    }
    expect = {
        (min(r.doc_a, r.doc_b), max(r.doc_a, r.doc_b), r.jaccard)
        for r in D.minhash_lsh_dedup(docs, threshold=0.3).collect()
    }
    assert got == expect
    assert len(got) > 0
    # corpus index accumulated every arrival exactly once
    assert spark.read.parquet(corpus_dir).count() == docs.count()


def test_lateness_profile_predicts_watermark_drops(spark, tmp_path_factory):
    """The ts_lateness_profile output is a watermark-delay CONTRACT:
    a delay > the profile's max_late_s keeps every event through a
    watermarked windowed agg; a delay below it provably drops the
    late ones.  Replays three arrival-ordered micro-batches with one
    29-minute-late event and runs the same windowed count at both
    delays."""
    import pandas as pd

    from westtopologies_spark.queries_ext4 import ts_lateness_profile

    t0 = pd.Timestamp("2024-01-01 00:00:00")

    def ev(i, minutes):
        return {
            "event_id": i,
            "ts": t0 + pd.Timedelta(minutes=minutes),
            "user_id": 1,
            "event_type": "view",
            "value": 1.0,
            "props": "{}",
        }

    # arrival order (event_id): the late row (event 4, back at t0+1,
    # lateness 30 min) arrives in its OWN micro-batch AFTER the
    # watermark has closed window A — a same-batch late arrival still
    # lands because eviction runs after that batch's input (verified
    # empirically); the final file advances time so append mode can
    # close window A under the larger delay too
    files = [
        [ev(0, 0.5), ev(1, 9.0), ev(2, 30.0)],
        [ev(3, 31.0)],
        [ev(4, 1.0)],  # 30 min late vs the running max (31:00)
        [ev(5, 50.0)],
    ]
    out = str(tmp_path_factory.mktemp("late_stream"))
    for i, rows in enumerate(files):
        path = os.path.join(out, f"part-{i}.parquet")
        pd.DataFrame(rows).to_parquet(
            path, index=False, coerce_timestamps="us", allow_truncated_timestamps=True
        )
        mtime = time.time() - 100 + i * 10
        os.utime(path, (mtime, mtime))

    # batch profile over the same replay: max lateness = 29 min
    batch = spark.read.parquet(out)
    batch.write.mode("overwrite").parquet(os.path.join(out, "all", "events.parquet"))
    prof = ts_lateness_profile(spark, os.path.join(out, "all")).collect()
    max_late = max(r["max_late_s"] for r in prof)
    assert max_late == 30 * 60

    schema = (
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string"
    )

    def windowed_count(delay_sec, name):
        src = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(out)
        )
        agg = (
            src.withWatermark("ts", f"{delay_sec} seconds")
            .groupBy(F.window("ts", "10 minutes").alias("w"))
            .count()
        )
        got = _run_stream(spark, agg, name)
        return {
            r["w"].start.minute + r["w"].start.hour * 60: r["count"]
            for r in got.collect()
        }

    # delay above the measured max lateness: the late event is kept
    keep = windowed_count(max_late + 60, "late_keep")
    assert keep[0] == 3  # window [00:00,00:10): events 0, 1 and late 3
    # delay below it: the late event is dropped from the closed window
    drop = windowed_count(5 * 60, "late_drop")
    assert drop[0] == 2
