"""Relational micro-operators (SURVEY.md §2.2-2.6).

Every function is a pure ``DataFrame -> DataFrame`` transform built
from Catalyst-optimizable expressions: filters and projections push
down to the scan, small lookup tables are broadcast, and nothing here
leaves the JVM. Reference citations point into /root/reference/.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..schemas import TWITTER_TS_FORMAT

# ---------------------------------------------------------------------------
# Projections / filters / scalar transforms (§2.2)
# ---------------------------------------------------------------------------


def filter_deletes(df: DataFrame, ts_col: str = "created_at") -> DataFrame:
    """P1 — drop messages lacking `created_at` (Twitter delete events).

    Reference: roleAnalysisTopology/.../bolts/DiscussionTreeBolt.java:97-99.
    """
    return df.filter(F.col(ts_col).isNotNull())


def filter_requires(df: DataFrame, *cols: str) -> DataFrame:
    """P2 — drop rows where any required column is NULL.

    Reference: locationTopicModelTopology/.../bolts/TweetIndexBolt.java:148-150.
    """
    out = df
    for c in cols:
        out = out.filter(F.col(c).isNotNull())
    return out


def parse_twitter_ts(col: str | Column) -> Column:
    """P4 — `created_at` string -> timestamp (fixed format, US locale).

    Reference: DiscussionTreeBolt.java:103-105 (Joda pattern
    "EEE MMM dd HH:mm:ss Z yyyy"). Spark >= 3.0 rejects 'EEE' in
    *parse* patterns (day-of-week is redundant for parsing), so we
    strip the leading day name and parse the rest — bit-identical
    semantics to the Joda parser for valid Twitter timestamps.
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.to_timestamp(F.regexp_replace(c, r"^\w{3} ", ""), "MMM dd HH:mm:ss Z yyyy")


def derive_retweet_flag(df: DataFrame) -> DataFrame:
    """P5 — `retweet := retweeted_status IS NOT NULL`; the ancestor id
    is the retweet source when present, else the reply target.

    Reference: DiscussionTreeBolt.java:116-126.
    """
    return df.withColumn("retweet", F.col("retweeted_status").isNotNull()).withColumn(
        "parent_id_str",
        F.coalesce(F.col("retweeted_status.id_str"), F.col("in_reply_to_status_id_str")),
    )


def wkt_point(lat: Column, lon: Column) -> Column:
    """P9 — `"POINT(" + lat + " " + long + ")"` (lat-first, as the
    reference does).

    Reference: lodExplorerTopology/.../bolts/LocationCrawlerBolt.java:309-311.
    """
    return F.concat(F.lit("POINT("), lat.cast("string"), F.lit(" "), lon.cast("string"), F.lit(")"))


def lonlat_key(lat: Column, lon: Column) -> Column:
    """P10 — `"long,lat"` float-formatted string key.

    Reference: locationTopicModelTopology/.../bolts/TopicModelBolt.java:180-182.
    """
    return F.concat_ws(",", lon.cast("float").cast("string"), lat.cast("float").cast("string"))


def clean_username(col: Column) -> Column:
    """P11 — strip all whitespace from a screen name.

    Reference: reveal-interaction-1.0.jar!StormCommunityFactory#cleanUserName
    (= replaceAll("\\\\s", "")).
    """
    return F.regexp_replace(col, r"\s", "")


# ---------------------------------------------------------------------------
# Explode / flatten (§2.3)
# ---------------------------------------------------------------------------


def explode_loc_uris(df: DataFrame) -> DataFrame:
    """E2 — nested explode of `itinno:loc_set[*].linked_data[*]`.

    Reference: LocationCrawlerBolt.java:236-258 (empty list -> row
    dropped at :256, hence inner explode).
    """
    return (
        df.withColumn("loc_entry", F.explode(F.col("`itinno:loc_set`")))
        .withColumn("lgd_uri", F.explode(F.col("loc_entry.linked_data")))
        .drop("loc_entry")
    )


def flatten_tree(nested: DataFrame, max_depth: int = 16) -> DataFrame:
    """E3 — recursive `replies` flatten: nested tree rows -> flat
    (tweet_id, parent_id, author…) rows, depth-bounded iteration.

    Reference: reveal-interaction-1.0.jar!StormCommunityFactory#parseCommunity
    (recursion on key `replies`). Spark has no recursive type, so the
    nested input must already be depth-bounded; each iteration peels
    one level with ``explode``.

    Expects columns: tweet_id, author_id, author_screen_name, replies
    (array of struct of the same shape, up to ``max_depth`` levels).
    """
    level = nested.withColumn("parent_id", F.lit(None).cast("string"))
    acc = level.drop("replies")
    for _ in range(max_depth):
        if "replies" not in level.columns:
            break  # leaf struct level: no deeper nesting in the schema
        children = (
            level.select(F.col("tweet_id").alias("parent_id"), F.explode("replies").alias("child"))
            .select("child.*", "parent_id")
        )
        if children.isEmpty():
            break
        acc = acc.unionByName(children.drop("replies"), allowMissingColumns=True)
        level = children
    return acc


# ---------------------------------------------------------------------------
# Joins / lookups (§2.4)
# ---------------------------------------------------------------------------


def dummy_parents(edges: DataFrame, id_col: str = "tweet_id", parent_col: str = "parent_id") -> DataFrame:
    """J1 (synthetic-ancestor part) — parent ids that were never
    observed as tweets become synthetic "unobserved" rows.

    Reference: DiscussionTreeBolt.java:135-143 (dummy ancestor build).
    Expressed as a left anti join: referenced parents EXCEPT observed
    ids. At scale both sides shuffle on the id — Catalyst/AQE handles
    it; no driver-side state like the reference's hash maps.
    """
    referenced = edges.filter(F.col(parent_col).isNotNull()).select(
        F.col(parent_col).alias(id_col)
    ).distinct()
    observed = edges.select(id_col)
    return referenced.join(observed, id_col, "left_anti")


def first_match(df: DataFrame, keys: list[str], order: list[Column]) -> DataFrame:
    """J2 ("take first") — keep the first matching row per key.

    Reference: LocationCrawlerBolt.java:125-129 (first sameAs subject).
    Deterministic: caller supplies a total order.
    """
    w = Window.partitionBy(*keys).orderBy(*order)
    return df.withColumn("_rn", F.row_number().over(w)).filter(F.col("_rn") == 1).drop("_rn")


# ---------------------------------------------------------------------------
# Aggregations (§2.5)
# ---------------------------------------------------------------------------


def tercile_boundaries(df: DataFrame, value_col: str, group_cols: list[str] | None = None) -> DataFrame:
    """A4 — exact tercile boundaries over the full population:
    sort values v[0..n-1]; low/mid = (v[n/3] + v[n/3+1]) / 2,
    mid/high = (v[2n/3] + v[2n/3+1]) / 2 (0-indexed, integer division).

    Reference: reveal-interaction-1.0.jar!Boundaries#train. Exact (not
    approx_percentile) because role levels must match the oracle.

    At 100 TB population sizes this global sort-to-driver-array shape
    is wrong; but role analysis runs per 10-minute window whose user
    population is bounded, so ``sort_array(collect_list())`` within a
    group is the honest, exact implementation.
    """
    vals = F.sort_array(F.collect_list(F.col(value_col)))
    n = F.size(vals)
    # try_element_at is 1-indexed: v[i] (0-indexed) == try_element_at(vals, i+1);
    # `try_` so degenerate populations (n < 4) yield NULL, not an ANSI error
    def mid(idx: Column) -> Column:
        return (F.try_element_at(vals, idx + 1) + F.try_element_at(vals, idx + 2)) / 2.0

    low_i = F.floor(n / 3).cast("int")
    high_i = F.floor(n * 2 / 3).cast("int")
    agg = [
        mid(low_i).alias("low_mid_boundary"),
        mid(high_i).alias("mid_high_boundary"),
        n.alias("n_values"),
    ]
    if group_cols:
        return df.groupBy(*group_cols).agg(*agg)
    return df.groupBy().agg(*agg)


# ---------------------------------------------------------------------------
# Sorts / top-k (§2.6)
# ---------------------------------------------------------------------------


def topk_per_group(
    df: DataFrame, group_cols: list[str], order: list[Column], k: int = 5
) -> DataFrame:
    """T1 — top-k rows per group (reference: per-message top-5
    locations by probability, MessageLocationPrediction.java:28-66).

    Window + row_number: Spark's physical plan sorts within
    partitions only (no global sort) and AQE keeps partition sizes
    sane at scale.
    """
    w = Window.partitionBy(*group_cols).orderBy(*order)
    return df.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)
