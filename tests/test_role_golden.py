"""End-to-end role-analysis golden file (VERDICT r2 "do this" #7):
spout replay -> windowed edge sets -> role kernel -> per-window file
sink, diffed against a committed golden in the reference's
``id \\t username \\t role`` format (RoleAnalysisBolt.java:111-120),
in BOTH rule modes (intended rule table + bug-compatible ``<None>``,
SURVEY.md §2.7 replication note).

The replay corpus exercises every F1 fixture feature: a reply chain,
a reply to an unseen parent (dummy-ancestor path,
DiscussionTreeBolt.java:135-143), a retweet, a delete event (no
created_at -> filtered, DiscussionTreeBolt.java:97-99), a
whitespace-bearing screen name (P11 cleanup,
StormCommunityFactory#cleanUserName), two 10-minute windows, and a
late closer tweet that flushes both past the watermark.
"""

from __future__ import annotations

import json
import os

import pytest

FIXTURE = os.path.join(os.path.dirname(__file__), "fixtures", "role_golden.json")


def _tw(seq, tid, uid, name, created, reply_to=None, rt=None):
    return {
        "_seq": seq,
        "created_at": created,
        "id_str": str(tid),
        "text": "t",
        "user": {"id_str": str(uid), "screen_name": name},
        "in_reply_to_status_id_str": str(reply_to) if reply_to else None,
        "in_reply_to_user_id_str": None,
        "in_reply_to_screen_name": None,
        "retweeted_status": (
            {"id_str": str(rt), "user": {"id_str": "99"}} if rt else None
        ),
        "entities": {"user_mentions": []},
        "coordinates": None,
    }


REPLAY = [
    # window 1 (00:00-00:10): chain 1<-2<-3, dummy parent 99<-4, retweet
    _tw(1, 1, 10, "alice", "Mon Jan 01 00:00:01 +0000 2024"),
    _tw(2, 2, 11, "bob b", "Mon Jan 01 00:01:00 +0000 2024", reply_to=1),
    _tw(3, 3, 10, "alice", "Mon Jan 01 00:02:00 +0000 2024", reply_to=2),
    _tw(4, 4, 12, "carol", "Mon Jan 01 00:03:00 +0000 2024", reply_to=99),
    _tw(5, 5, 11, "bob b", "Mon Jan 01 00:04:00 +0000 2024", rt=1),
    {  # delete event: no created_at -> filtered before everything
        "_seq": 6, "id_str": "6",
        "user": {"id_str": "13", "screen_name": "dele"},
        "created_at": None, "text": None,
        "in_reply_to_status_id_str": None, "in_reply_to_user_id_str": None,
        "in_reply_to_screen_name": None, "retweeted_status": None,
        "entities": {"user_mentions": []}, "coordinates": None,
    },
    # window 2 (00:10-00:20): chain 7<-8<-9
    _tw(7, 7, 11, "bob b", "Mon Jan 01 00:11:00 +0000 2024"),
    _tw(8, 8, 12, "carol", "Mon Jan 01 00:12:00 +0000 2024", reply_to=7),
    _tw(9, 9, 12, "carol", "Mon Jan 01 00:13:00 +0000 2024", reply_to=8),
    # closer far past the watermark: flushes both windows
    _tw(10, 10, 13, "dave", "Mon Jan 01 00:40:00 +0000 2024"),
]


def _replay(spark, tmp_path_factory, tag, bug_compatible):
    """REPLAY as a file stream through the per-window file sink with
    ``availableNow``; returns the finished query and the sink dir."""
    from westtopologies_spark.pipelines.role_analysis import (
        role_file_lines,
        roles_for_closed_windows,
        windowed_edge_sets_stream,
    )
    from westtopologies_spark.schemas import TWEET_SCHEMA

    src = tmp_path_factory.mktemp(f"role_src_{tag}")
    (src / "replay.json").write_text(
        "\n".join(json.dumps(r) for r in REPLAY)
    )
    out_dir = str(tmp_path_factory.mktemp(f"role_out_{tag}"))

    def sink(df, _batch_id):
        # S6 per-window file sink: one directory per closed window
        lines = role_file_lines(roles_for_closed_windows(df, bug_compatible=bug_compatible))
        lines.withColumn(
            "window_start", lines.window_start.cast("string")
        ).write.mode("append").partitionBy("window_start").text(out_dir)

    stream = spark.readStream.schema(TWEET_SCHEMA).json(str(src))
    q = (
        windowed_edge_sets_stream(stream)
        .writeStream.outputMode("append")
        .foreachBatch(sink)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    return q, out_dir


@pytest.mark.parametrize("mode", ["rules", "bug_compatible"])
def test_role_pipeline_golden_file(spark, tmp_path_factory, mode):
    _, out_dir = _replay(spark, tmp_path_factory, mode, mode == "bug_compatible")

    # read the sink files back: {window -> sorted lines}
    got: dict[str, list[str]] = {}
    for d in os.listdir(out_dir):
        if not d.startswith("window_start="):
            continue
        # partition dir names are percent-encoded (e.g. ':' -> %3A)
        from urllib.parse import unquote

        win = unquote(d.split("=", 1)[1])
        lines = []
        for f in os.listdir(os.path.join(out_dir, d)):
            if f.startswith("part-"):
                with open(os.path.join(out_dir, d, f)) as fh:
                    lines += [ln.rstrip("\n") for ln in fh if ln.strip()]
        got[win] = sorted(lines)

    with open(FIXTURE) as f:
        golden = json.load(f)[mode]
    assert got == {w: sorted(v) for w, v in golden.items()}


def test_role_stream_work_counters(spark, tmp_path_factory):
    """Deterministic work counters of the role stream, which host load
    cannot move: every micro-batch costs exactly one Spark job (the
    sink write that consumes it), and the stream leaves no cached plan
    behind in the session."""
    cache = spark._jsparkSession.sharedState().cacheManager()
    cached = cache.numCachedEntries()
    q, _ = _replay(spark, tmp_path_factory, "counters", False)
    batches = {p["batchId"] for p in q.recentProgress}
    jobs = spark.sparkContext.statusTracker().getJobIdsForGroup(str(q.runId))
    assert len(batches) == 2  # the data batch, then the watermark's no-data batch
    assert len(jobs) == len(batches)
    assert cache.numCachedEntries() == cached
