"""Pipeline 1 — roleAnalysis (SURVEY.md §3.3.1).

Reference wiring: AMQP spout -> DiscussionTreeBolt -> RoleAnalysisBolt
(roleAnalysisTopology/.../TopologyRunner.java:191-198); output is
`id \\t username \\t role` per user per window
(RoleAnalysisBolt.java:111-120).

Engine shape: parse -> delete-filter -> edge build (with synthetic
unobserved ancestors) -> window assignment -> community-keyed role
kernel. ALL windows are processed in one distributed plan (the
community column threads through every aggregation) — no per-window
driver loop, unlike the reference's one-window-at-a-time executor.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..ops.relational import derive_retweet_flag, dummy_parents, filter_deletes, parse_twitter_ts
from ..ops.roles import assign_roles, role_features, tercile_levels


def tweets_to_edges(tweets: DataFrame) -> DataFrame:
    """F1 tweet rows -> flat discussion edges, including the
    reference's dummy unobserved ancestors (J1,
    DiscussionTreeBolt.java:130-148)."""
    base = filter_deletes(tweets)
    base = derive_retweet_flag(base)
    edges = base.select(
        F.col("id_str").cast("long").alias("tweet_id"),
        F.col("parent_id_str").cast("long").alias("parent_id"),
        F.col("user.id_str").cast("long").alias("author_id"),
        F.regexp_replace(F.col("user.screen_name"), r"\s", "").alias("author_screen_name"),
        parse_twitter_ts("created_at").alias("ts"),
        F.col("text"),
        F.lit(True).alias("observed"),
        F.col("retweet"),
    )
    dummies = dummy_parents(edges).select(
        F.col("tweet_id"),
        F.lit(None).cast("long").alias("parent_id"),
        # the reference fills dummy author info from the replying
        # tweet's in_reply_to fields when available; unobserved
        # ancestors without it carry nulls
        F.lit(None).cast("long").alias("author_id"),
        F.lit(None).cast("string").alias("author_screen_name"),
        F.lit(None).cast("timestamp").alias("ts"),
        F.lit(None).cast("string").alias("text"),
        F.lit(False).alias("observed"),
        F.lit(False).alias("retweet"),
    )
    return edges.unionByName(dummies)


def role_analysis_batch(
    tweets: DataFrame, window: str = "10 minutes", bug_compatible: bool = False
) -> DataFrame:
    """Windowed role assignment (epoch-aligned window mode; the exact
    data-driven window lives in streaming/stateful.py).

    Dummy ancestors carry no timestamp; the reference keeps them in
    the window whose reply created them — we attach each dummy to the
    window of its earliest observed descendant-reply (min child ts).
    """
    edges = tweets_to_edges(tweets)
    observed = edges.filter(F.col("observed"))
    win = F.window("ts", window).getField("start")
    observed = observed.withColumn("window_start", win)
    # window for dummies: earliest window among replies pointing at them
    dummy_windows = (
        observed.filter(F.col("parent_id").isNotNull())
        .groupBy(F.col("parent_id").alias("tweet_id"))
        .agg(F.min("window_start").alias("window_start"))
    )
    dummies = (
        edges.filter(~F.col("observed"))
        .drop("window_start")
        .join(dummy_windows, "tweet_id", "inner")
    )
    all_nodes = observed.unionByName(dummies)
    feats = role_features(all_nodes, community_col="window_start")
    leveled = tercile_levels(feats, community_col="window_start")
    roles = assign_roles(leveled, bug_compatible=bug_compatible)
    return roles.select("window_start", "user_id", "post_count", "role")


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
    base = filter_deletes(tweets)
    base = derive_retweet_flag(base)
    edges = base.select(
        parse_twitter_ts("created_at").alias("ts"),
        F.col("id_str").cast("long").alias("tweet_id"),
        F.col("parent_id_str").cast("long").alias("parent_id"),
        F.col("user.id_str").cast("long").alias("author_id"),
        # P11 username cleanup (StormCommunityFactory#cleanUserName)
        # rides the edge so the sink can emit `id \t username \t role`
        F.regexp_replace(F.col("user.screen_name"), r"\s", "").alias(
            "author_screen_name"
        ),
    )
    return (
        edges.withWatermark("ts", watermark)
        # group on the window() expression itself: append-mode closed-
        # window tracking attaches to it (getField would detach it)
        .groupBy(F.window("ts", window).alias("w"))
        .agg(
            F.collect_list(
                F.struct(
                    "tweet_id", "parent_id", "author_id", "author_screen_name"
                )
            ).alias("edges")
        )
        .select(F.col("w.start").alias("window_start"), "edges")
    )


def roles_for_closed_windows(
    closed: DataFrame, bug_compatible: bool = False
) -> DataFrame:
    """foreachBatch body: closed windows (window_start, edges array)
    -> per-user roles. Re-uses the batch kernel with
    ``community_col`` so a micro-batch containing several closed
    windows is still ONE distributed plan."""
    exploded = closed.select("window_start", F.explode("edges").alias("e"))
    nodes = exploded.select(
        "window_start", "e.tweet_id", "e.parent_id", "e.author_id"
    )
    dummies = (
        nodes.filter(F.col("parent_id").isNotNull())
        .join(
            nodes.select("window_start", F.col("tweet_id").alias("parent_id")),
            ["window_start", "parent_id"],
            "left_anti",
        )
        .groupBy("window_start", F.col("parent_id").alias("tweet_id"))
        .agg(F.lit(None).cast("long").alias("parent_id"), F.lit(None).cast("long").alias("author_id"))
        .select("window_start", "tweet_id", "parent_id", "author_id")
    )
    all_nodes = nodes.unionByName(dummies)
    feats = role_features(all_nodes, community_col="window_start")
    leveled = tercile_levels(feats, community_col="window_start")
    roles = assign_roles(leveled, bug_compatible=bug_compatible)
    roles = roles.select("window_start", "user_id", "post_count", "role")
    # attach usernames when the edge struct carries them (the
    # streaming path does; min() = deterministic pick of the cleaned
    # screen name the reference reads off the user's posts)
    if "author_screen_name" in [
        f.name for f in exploded.schema["e"].dataType.fields
    ]:
        names = (
            exploded.select(
                "window_start",
                F.col("e.author_id").alias("user_id"),
                F.col("e.author_screen_name").alias("username"),
            )
            .filter(F.col("username").isNotNull())
            .groupBy("window_start", "user_id")
            .agg(F.min("username").alias("username"))
        )
        roles = roles.join(names, ["window_start", "user_id"], "left")
    return roles


def role_file_lines(roles: DataFrame) -> DataFrame:
    """S6 sink parity (RoleAnalysisBolt.java:111-120): the bolt writes
    one file per closed window, each user a line
    ``id \\t username \\t role``.  Returns (window_start, value) so the
    file sink partitions by window — one directory per window, the
    Spark analog of the per-window file.  Edge sets built without
    screen names (roles_for_closed_windows only attaches ``username``
    when the struct carries it) emit an empty username field, like
    the reference does for unobserved users."""
    username = (
        F.coalesce("username", F.lit(""))
        if "username" in roles.columns
        else F.lit("")
    )
    return roles.select(
        "window_start",
        F.concat_ws(
            "\t", F.col("user_id").cast("string"), username, "role"
        ).alias("value"),
    )
