"""Pipeline 1 — roleAnalysis (SURVEY.md §3.3.1).

Reference wiring: AMQP spout -> DiscussionTreeBolt -> RoleAnalysisBolt
(roleAnalysisTopology/.../TopologyRunner.java:191-198); output is
`id \\t username \\t role` per user per window
(RoleAnalysisBolt.java:111-120).

Engine shape: parse -> delete-filter -> edge projection -> 10-minute
window -> one row per window carrying the window's whole edge list ->
the per-window role kernel (``ops.roles.window_roles``), applied to
every window row in ONE ``mapInArrow`` pass. Like the reference's
RoleAnalysisBolt, the kernel sees one finished window at a time, but
many windows run side by side across tasks, and the pass adds no
shuffle, persist or eager action to the plan that feeds it.

The streaming path (:func:`windowed_edge_sets_stream` +
:func:`roles_for_closed_windows` in ``foreachBatch``) and the batch
path (:func:`role_analysis_batch`) share the edge projection and the
kernel pass, so they agree by construction.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..ops.relational import derive_retweet_flag, filter_deletes, parse_twitter_ts
from ..ops.roles import window_roles

EDGE_FIELDS = ("tweet_id", "parent_id", "author_id", "author_screen_name")
ROLES_SCHEMA = "window_start timestamp, user_id long, post_count long, role string, username string"


def _edge_columns() -> list[Column]:
    """The :data:`EDGE_FIELDS` of a delete-filtered, retweet-flagged
    tweet row."""
    return [
        F.col("id_str").cast("long").alias("tweet_id"),
        F.col("parent_id_str").cast("long").alias("parent_id"),
        F.col("user.id_str").cast("long").alias("author_id"),
        # P11 username cleanup (StormCommunityFactory#cleanUserName)
        # rides the edge so the sink can emit `id \t username \t role`
        F.regexp_replace(F.col("user.screen_name"), r"\s", "").alias("author_screen_name"),
    ]


def _edges(tweets: DataFrame) -> DataFrame:
    """(ts, *EDGE_FIELDS) per tweet, deletes dropped."""
    base = derive_retweet_flag(filter_deletes(tweets))
    return base.select(parse_twitter_ts("created_at").alias("ts"), *_edge_columns())


def _edge_list() -> Column:
    return F.collect_list(F.struct(*EDGE_FIELDS)).alias("edges")


def role_analysis_batch(
    tweets: DataFrame, window: str = "10 minutes", bug_compatible: bool = False
) -> DataFrame:
    """Windowed role assignment (epoch-aligned window mode; the exact
    data-driven window lives in streaming/stateful.py): the streaming
    path's edge projection and kernel pass over every window at once.

    A parent the window does not carry is a root of that window's
    forest, as in the streaming path. A tweet whose ``created_at`` does
    not parse (NULL under a non-ANSI session; an ANSI session raises at
    the parse) has no window and is dropped.
    """
    closed = (
        _edges(tweets)
        .filter(F.col("ts").isNotNull())
        .groupBy(F.window("ts", window).getField("start").alias("window_start"))
        .agg(_edge_list())
    )
    return roles_for_closed_windows(closed, bug_compatible).drop("username")


def windowed_edge_sets_stream(
    tweets: DataFrame, window: str = "10 minutes", watermark: str = "10 minutes"
) -> DataFrame:
    """Streaming half of the role pipeline: parse -> edge projection
    -> watermarked tumbling window -> per-window edge set, emitted in
    APPEND mode — i.e., one output row per CLOSED window, the Spark
    analog of the reference's window flush (DiscussionTreeBolt
    emitting a finished tree map to RoleAnalysisBolt).

    Multi-step aggregation chains (the role kernel) are not
    incrementally computable by Structured Streaming; the kernel runs
    per closed window in ``foreachBatch`` via
    :func:`roles_for_closed_windows`. A window's edge set rides in
    one array — bounded by the 10-minute window; shard ``groupBy``
    further (e.g. by conversation root) if a window outgrows a task.
    """
    return (
        _edges(tweets)
        .withWatermark("ts", watermark)
        # group on the window() expression itself: append-mode closed-
        # window tracking attaches to it (getField would detach it)
        .groupBy(F.window("ts", window).alias("w"))
        .agg(_edge_list())
        .select(F.col("w.start").alias("window_start"), "edges")
    )


def roles_for_closed_windows(closed: DataFrame, bug_compatible: bool = False) -> DataFrame:
    """foreachBatch body: closed windows ``(window_start, edges)`` ->
    ``(window_start, user_id, post_count, role, username)`` per user.

    One ``mapInArrow`` pass runs :func:`~..ops.roles.window_roles` on
    each window row: no shuffle, no persist, no eager action, so a
    micro-batch costs the one job that consumes it (the sink write),
    whether it holds no closed window or several. A duplicate
    ``tweet_id`` within a window fails the task with a ``ValueError``
    naming the window and the id.
    """

    def kernel(batches):
        import pyarrow as pa

        for b in batches:
            lists = b.column("edges")
            flat = lists.flatten()
            cols = dict(zip([f.name for f in flat.type], flat.flatten()))
            rows = list(zip(*(cols[f].to_pylist() for f in EDGE_FIELDS)))
            offsets = lists.offsets.to_pylist()
            starts = b.column("window_start")
            take, out = [], []
            for i in range(b.num_rows):
                lo, hi = offsets[i] - offsets[0], offsets[i + 1] - offsets[0]
                roles = window_roles(rows[lo:hi], bug_compatible, window=starts[i].as_py())
                take += [i] * len(roles)
                out += roles
            users, posts, role, names = zip(*out) if out else ((), (), (), ())
            yield pa.RecordBatch.from_arrays(
                [
                    starts.take(pa.array(take, pa.int64())),
                    pa.array(users, pa.int64()),
                    pa.array(posts, pa.int64()),
                    pa.array(role, pa.string()),
                    pa.array(names, pa.string()),
                ],
                names=["window_start", "user_id", "post_count", "role", "username"],
            )

    return closed.select("window_start", "edges").mapInArrow(kernel, ROLES_SCHEMA)


def role_file_lines(roles: DataFrame) -> DataFrame:
    """S6 sink parity (RoleAnalysisBolt.java:111-120): the bolt writes
    one file per closed window, each user a line
    ``id \\t username \\t role``.  Returns (window_start, value) so the
    file sink partitions by window — one directory per window, the
    Spark analog of the per-window file.  A user without a screen name
    gets an empty username field, like the reference does for
    unobserved users."""
    return roles.select(
        "window_start",
        F.concat_ws(
            "\t", F.col("user_id").cast("string"), F.coalesce("username", F.lit("")), "role"
        ).alias("value"),
    )
