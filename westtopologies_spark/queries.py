"""Query catalog: one entry per implemented operator (SURVEY.md §2).

Each entry pairs a Spark DataFrame callable ``(spark, sf_dir) ->
DataFrame`` with the equivalent ANSI SQL that DuckDB runs on the same
parquet tables — the driver's correctness gate. Column names are
aliased identically on both sides (the compare sorts columns by name
and hashes values). Floating-point aggregates are rounded on both
sides so summation-order differences cannot flip the hash.

The demonstration data is the driver's TPC-H-ish tables plus
``events`` (stands in for the tweet stream), ``documents`` and
``embeddings`` (TESTDATA.md).
"""

from __future__ import annotations

import glob
import json
import os
import re
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .ops import relational as R


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    from .session import load_table

    return load_table(spark, sf_dir, name)


@dataclass(frozen=True)
class QuerySpec:
    name: str
    spark: Callable[[SparkSession, str], DataFrame]
    oracle: str | None  # ANSI SQL for DuckDB; None -> rows-only check
    doc: str = ""


_CATALOG: list[QuerySpec] = []


def _register(
    name: str,
    oracle,
    doc: str = "",
    scaled: dict[str, int] | None = None,
    portable: bool = False,
):
    """``oracle`` may be the SQL string, None (rows-only), or a
    ZERO-ARG CALLABLE returning the SQL.  The callable form exists for
    oracle builders that import helpers from a SIBLING submodule:
    evaluating those at registration time re-enters the sibling while
    it is still partially initialized whenever a caller imports that
    sibling first (circular import — the queries_ext3-first failure
    class).  Lazy oracles are resolved once, at first catalog
    access (_resolve_lazy_oracles), when every submodule has finished.

    ``scaled`` declares the entry's hash-exact output contract (see
    below): each named double column leaves BOTH engines as the
    scaled BIGINT ``<col>_x1eK``; ``portable`` selects the
    sign-symmetric floor half-up instead of builtin ``round()``.  The
    decorated function itself stays unwrapped; only the catalog entry
    carries the contract."""

    def deco(fn):
        # a silently-duplicated name would run one query twice in the
        # driver gate and shadow the other in queries() (caught live:
        # round-3 nearly re-registered ag_bootstrap_ci)
        if any(s.name == name for s in _CATALOG):
            raise ValueError(f"duplicate catalog registration: {name}")
        if scaled:
            spec = QuerySpec(
                name,
                _scaled_spark(fn, scaled, portable),
                _scaled_oracle(oracle, scaled, portable),
                doc + " Hash-exact output (scaled BIGINT, r3 sweep).",
            )
        else:
            spec = QuerySpec(name, fn, oracle, doc)
        _CATALOG.append(spec)
        return fn

    return deco


# ---------------------------------------------------------------------------
# Hash-exact output discipline (VERDICT r2 #1-#3): queries in the
# driver's 50-entry correctness window emit NO post-arithmetic DOUBLE
# columns — a rounded ratio / decimal-cast double failed the driver's
# value hash twice (ts_sessionize r1+r2, tp_pack_sequences r2) while
# passing the repo's driver-strict local comparator, so the whole type
# class is engineered out: every rounded double becomes a scaled
# BIGINT (`col_x1eK = round(col * 10^K)`), composed IDENTICALLY on the
# Spark side and in the oracle SQL on top of the already-matching
# rounded value.  Raw passthrough doubles (untouched column values)
# have two rounds of passing precedent and are left as-is.
# ---------------------------------------------------------------------------


def _as_scaled_int(df: DataFrame, scaled: dict[str, int]) -> DataFrame:
    """Replace each double column with ``<col>_x1eK`` = round(col*10^K)
    as BIGINT (exact, engine-independent)."""
    for col, k in scaled.items():
        df = df.withColumn(
            f"{col}_x1e{k}", F.round(F.col(col) * (10**k)).cast("long")
        ).drop(col)
    return df


def _as_scaled_int_portable(df: DataFrame, scaled: dict[str, int]) -> DataFrame:
    """Like :func:`_as_scaled_int` but with the sign-symmetric
    portable half-up (rule 4b: ``floor(x*s + 0.5)``) instead of
    builtin ``round()`` — Spark's BigDecimal HALF_UP and DuckDB's
    double scaling disagree exactly at representable-value
    boundaries, while floor/mul/add are plain IEEE ops identical on
    identical doubles.  Used for the entries whose doubles are
    bit-identical shared expressions but land near the scaled ulp
    (ADVICE r3: the former K=9 wraps)."""
    for col, k in scaled.items():
        x = F.col(col) * (10**k)
        half_up = F.when(
            F.col(col) >= 0, F.floor(x + F.lit(0.5))
        ).otherwise(-F.floor(-x + F.lit(0.5)))
        df = df.withColumn(f"{col}_x1e{k}", half_up.cast("long")).drop(col)
    return df


def _portable_scale_sql(c: str, k: int) -> str:
    s = 10**k
    ref = f'"{c}"'
    return (
        f"CAST(CASE WHEN {ref} >= 0 THEN floor({ref} * {s} + 0.5) "
        f"ELSE -floor(-({ref}) * {s} + 0.5) END AS BIGINT) AS {c}_x1e{k}"
    )


def _scaled_int_sql(inner: str, keep: list[str], scaled: dict[str, int]) -> str:
    """Wrap oracle SQL with the same scaled-BIGINT projection."""
    items = list(keep) + [
        f"CAST(round({c} * {10 ** k}) AS BIGINT) AS {c}_x1e{k}"
        for c, k in scaled.items()
    ]
    return f"SELECT {', '.join(items)} FROM (\n{inner}\n)"


def _scaled_int_sql_exclude(inner: str, scaled: dict[str, int]) -> str:
    """Wrap oracle SQL: keep every column except the scaled ones
    (DuckDB ``* EXCLUDE``), append the scaled-BIGINT projections."""
    excl = ", ".join(f'"{c}"' for c in scaled)
    items = [f"* EXCLUDE ({excl})"] + [
        f'CAST(round("{c}" * {10 ** k}) AS BIGINT) AS {c}_x1e{k}'
        for c, k in scaled.items()
    ]
    return f"SELECT {', '.join(items)} FROM (\n{inner}\n)"


def _scaled_int_sql_exclude_portable(inner: str, scaled: dict[str, int]) -> str:
    """Portable-half-up twin of :func:`_scaled_int_sql_exclude`."""
    excl = ", ".join(f'"{c}"' for c in scaled)
    items = [f"* EXCLUDE ({excl})"] + [
        _portable_scale_sql(c, k) for c, k in scaled.items()
    ]
    return f"SELECT {', '.join(items)} FROM (\n{inner}\n)"


# ---------------------------------------------------------------------------
# Hash-exact hardening sweep (round 3): every catalog query that had
# never earned a driver correctness row and still emitted a COMPUTED
# double (rounded ratio/score, decimal-cast sum, shared-expression
# division) declares ``scaled=`` at its registration, so both engines
# emit the scaled-BIGINT projection — whichever round the
# self-rotating window reaches it, the driver's hasher sees only
# exact integers.  The scale K per column preserves the precision the
# query already rounded to (K=2 for DECIMAL(18,2)-cent sums, 4/6
# matching round(...,4/6), 6 for previously-unrounded
# shared-expression doubles).  Raw passthrough doubles (untouched
# column values) keep their two rounds of passing precedent and are
# NOT wrapped.  Queries with an existing driver PASS are left
# untouched — passing precedent beats churn.
#
# ``portable=True`` (ADVICE r3 low, r5 tie sweep): the former K=9
# wraps scaled raw doubles by 1e9 with builtin round() — any 1-ulp
# upstream divergence lands the product within ulp of a .5 boundary
# ~1000x more often than at K=6, and round() itself is
# boundary-unportable (rule 4).  Entries that emit a RAW bit-identical
# double (single int/int or decimal-exact division, or the shared EWMA
# left-fold — inner builtin round(x, K>0) removed from BOTH dialects)
# ship it through the portable sign-symmetric floor half-up, which
# agrees across engines even at exact representable ties.
# ---------------------------------------------------------------------------


def _scaled_spark(fn, scaled: dict[str, int], portable: bool):
    to_int = _as_scaled_int_portable if portable else _as_scaled_int

    def wrapped(spark, sf_dir):
        return to_int(fn(spark, sf_dir), scaled)

    return wrapped


def _scaled_oracle(oracle, scaled: dict[str, int], portable: bool):
    to_sql = _scaled_int_sql_exclude_portable if portable else _scaled_int_sql_exclude
    if oracle is None:
        return None
    if callable(oracle):
        # lazy oracle: the wrap runs when _resolve_lazy_oracles calls it
        return lambda: to_sql(oracle(), scaled)
    return to_sql(oracle, scaled)


# ---------------------------------------------------------------------------
# Flagship: windowed interaction rollup (W1 aligned + A1/A7 counts)
# ---------------------------------------------------------------------------


@_register(
    "w1_window_rollup",
    """
    SELECT CAST(to_timestamp(CAST(floor(epoch(ts) / 600) * 600 AS BIGINT)) AS TIMESTAMP)
             AS window_start,
           event_type,
           count(*) AS n_events,
           count(DISTINCT user_id) AS n_users,
           CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
    FROM events
    GROUP BY 1, 2
    """,
    doc="W1 (epoch-aligned mode) + A7: 10-minute tumbling window rollup. "
    "Reference window: DiscussionTreeBolt.java:45-51,150-168.",
)
def w1_window_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "10 minutes").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
            # DECIMAL sum: exact, partition-order-independent (VERDICT r1 #1c)
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "n_users",
            "sum_value",
        )
    )


# ---------------------------------------------------------------------------
# S3/P1/P3: JSON parse + delete-filter + nested extraction
# ---------------------------------------------------------------------------


@_register(
    "s3_json_parse_filter",
    """
    SELECT event_id,
           CAST(json_extract_string(props, 'k') AS INTEGER) AS k,
           event_type
    FROM events
    WHERE CAST(json_extract_string(props, 'k') AS INTEGER) >= 50
      AND value IS NOT NULL
    """,
    doc="S3 from_json + P1 null-filter + P3 nested extraction. "
    "Reference: JacksonScheme.java:30-38; DiscussionTreeBolt.java:97-99,112-126.",
)
def s3_json_parse_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    parsed = ev.withColumn("msg", F.from_json("props", "k INT"))
    return (
        R.filter_deletes(parsed, "value")
        .withColumn("k", F.col("msg.k"))
        .filter(F.col("k") >= 50)
        .select("event_id", "k", "event_type")
    )


# ---------------------------------------------------------------------------
# P4: fixed-format timestamp parse (Twitter created_at round-trip)
# ---------------------------------------------------------------------------


@_register(
    "p4_timestamp_parse",
    """
    SELECT event_id,
           strftime(ts, '%a %b %d %H:%M:%S +0000 %Y') AS created_at,
           strptime(strftime(ts, '%a %b %d %H:%M:%S +0000 %Y'),
                    '%a %b %d %H:%M:%S %z %Y')::TIMESTAMP AS parsed_ts
    FROM events
    WHERE event_id % 97 = 0
    """,
    doc="P4 created_at string -> timestamp, fixed format, US locale. "
    "Reference: DiscussionTreeBolt.java:103-105.",
)
def p4_timestamp_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").filter(F.col("event_id") % 97 == 0)
    fmt = "EEE MMM dd HH:mm:ss Z yyyy"  # format side supports EEE
    formatted = F.date_format(F.date_trunc("second", "ts"), fmt)
    return ev.select(
        "event_id",
        formatted.alias("created_at"),
        R.parse_twitter_ts(formatted).alias("parsed_ts"),
    )


# ---------------------------------------------------------------------------
# P5: derived flag + ancestor coalesce
# ---------------------------------------------------------------------------


@_register(
    "p5_derived_flag",
    """
    SELECT event_id,
           (event_type = 'purchase') AS is_purchase,
           coalesce(nullif(CAST(json_extract_string(props, 'k') AS BIGINT), 0),
                    event_id) AS ancestor_id
    FROM events
    WHERE event_id % 7 = 0
    """,
    doc="P5 retweet flag + ancestor-id coalesce. "
    "Reference: DiscussionTreeBolt.java:116-126.",
)
def p5_derived_flag(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").filter(F.col("event_id") % 7 == 0)
    k = F.from_json("props", "k LONG").getField("k")
    return ev.select(
        "event_id",
        (F.col("event_type") == "purchase").alias("is_purchase"),
        F.coalesce(F.nullif(k, F.lit(0)), F.col("event_id")).alias("ancestor_id"),
    )


# ---------------------------------------------------------------------------
# P11/P12: username cleanup + string->long cast
# ---------------------------------------------------------------------------


@_register(
    "p11_username_cleanup",
    """
    SELECT c_custkey,
           regexp_replace(c_name, '\\s', '', 'g') AS clean_name,
           CAST(CAST(c_custkey AS VARCHAR) AS BIGINT) AS custkey_roundtrip
    FROM customer
    """,
    doc="P11 whitespace strip (StormCommunityFactory#cleanUserName) + "
    "P12 numeric-string -> long cast.",
)
def p11_username_cleanup(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer")
    return cust.select(
        "c_custkey",
        R.clean_username(F.col("c_name")).alias("clean_name"),
        F.col("c_custkey").cast("string").cast("long").alias("custkey_roundtrip"),
    )


# ---------------------------------------------------------------------------
# E1 + P14: tokenize-by-split explode + short-token filter
# ---------------------------------------------------------------------------


@_register(
    "e1_explode_tokens",
    """
    SELECT token, count(*) AS n
    FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents)
    WHERE length(token) > 1
    GROUP BY token
    HAVING count(*) > 20
    """,
    doc="E1 explode + P14 single-char token removal. "
    "Reference: InteractionGraphBolt.java:144-155; LocationTopicModelTrainer.java:193-207.",
)
def e1_explode_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return (
        docs.select(F.explode(F.split("text", " ")).alias("token"))
        .filter(F.length("token") > 1)
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") > 20)
    )


# ---------------------------------------------------------------------------
# J1: dummy-parent derivation (left anti join)
# ---------------------------------------------------------------------------


@_register(
    "j1_dummy_parents",
    """
    WITH edges AS (
      SELECT event_id,
             event_id + CAST(json_extract_string(props, 'k') AS BIGINT) AS parent_id
      FROM events
    )
    SELECT DISTINCT e.parent_id AS tweet_id
    FROM edges e
    WHERE e.parent_id IS NOT NULL
      AND NOT EXISTS (SELECT 1 FROM events v WHERE v.event_id = e.parent_id)
    """,
    doc="J1 synthetic unobserved-ancestor rows via left anti join. "
    "Reference: DiscussionTreeBolt.java:135-143.",
)
def j1_dummy_parents(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    k = F.from_json("props", "k LONG").getField("k")
    edges = ev.select(
        F.col("event_id").alias("tweet_id"),
        (F.col("event_id") + k).alias("parent_id"),
    )
    observed = ev.select(F.col("event_id").alias("tweet_id"))
    return R.dummy_parents(edges.unionByName(observed.withColumn("parent_id", F.lit(None).cast("long"))))


# ---------------------------------------------------------------------------
# J2: broadcast dimension joins (the reference's hash-map lookups)
# ---------------------------------------------------------------------------


@_register(
    "j2_broadcast_dim_join",
    """
    SELECT n.n_name AS nation,
           r.r_name AS region,
           count(*) AS n_lineitems,
           CAST(sum(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(18,4)))
                AS DOUBLE) AS revenue
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY 1, 2
    """,
    doc="J2/J3 broadcast equi-joins against small dims (the reference's "
    "in-memory lookup maps, LocationCrawlerBolt.java:116-129).",
)
def j2_broadcast_dim_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy(F.col("n_name").alias("nation"), F.col("r_name").alias("region"))
        .agg(
            F.count(F.lit(1)).alias("n_lineitems"),
            # per-row product is exactly 4-dec (2-dec price x 2-dec discount);
            # DECIMAL(18,4) sum is exact and order-independent
            F.sum((F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(18,4)"))
            .cast("double")
            .alias("revenue"),
        )
    )


# ---------------------------------------------------------------------------
# J4: semi-join (dictionary membership)
# ---------------------------------------------------------------------------


@_register(
    "j4_semi_join",
    """
    SELECT c_mktsegment, count(*) AS n_customers
    FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    GROUP BY 1
    """,
    doc="J4 dictionary semi-join (keep only terms in wordmap). "
    "Reference: TweetIndexBolt.java:180-185.",
)
def j4_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    return (
        cust.join(orders.select("o_custkey"), cust.c_custkey == F.col("o_custkey"), "left_semi")
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n_customers"))
    )


# ---------------------------------------------------------------------------
# J2-first-match: row_number()=1 per key
# ---------------------------------------------------------------------------


@_register(
    "j2_first_match",
    """
    SELECT o_custkey, o_orderkey AS first_orderkey, o_orderdate AS first_orderdate
    FROM orders
    QUALIFY row_number() OVER (PARTITION BY o_custkey
                               ORDER BY o_orderdate, o_orderkey) = 1
    """,
    doc="J2 'take first match' as deterministic row_number()=1. "
    "Reference: LocationCrawlerBolt.java:125-129.",
)
def j2_first_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    first = R.first_match(
        orders, ["o_custkey"], [F.col("o_orderdate").asc(), F.col("o_orderkey").asc()]
    )
    return first.select(
        "o_custkey",
        F.col("o_orderkey").alias("first_orderkey"),
        F.col("o_orderdate").alias("first_orderdate"),
    )


# ---------------------------------------------------------------------------
# A1/A2: grouped interaction list + distinct partner set
# ---------------------------------------------------------------------------


@_register(
    "a1_grouped_interactions",
    """
    SELECT user_id, event_type,
           string_agg(CAST(event_id AS VARCHAR), ',' ORDER BY event_id) AS interaction_ids,
           count(*) AS n
    FROM events
    GROUP BY 1, 2
    """,
    doc="A1 per-(author,action) interaction list, deterministic order. "
    "Reference: InteractionGraphBolt.java:96-166.",
)
def a1_grouped_interactions(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    ids = F.sort_array(F.collect_list("event_id"))
    return ev.groupBy("user_id", "event_type").agg(
        F.array_join(F.transform(ids, lambda x: x.cast("string")), ",").alias("interaction_ids"),
        F.count(F.lit(1)).alias("n"),
    )


@_register(
    "a2_distinct_partners",
    """
    SELECT user_id,
           string_agg(DISTINCT event_type, ',' ORDER BY event_type) AS partner_set,
           count(DISTINCT event_type) AS n_distinct
    FROM events
    GROUP BY 1
    """,
    doc="A2 distinct-partner set per author (flat graph view). "
    "Reference: InteractionGraphBolt.java:179-196.",
)
def a2_distinct_partners(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy("user_id").agg(
        F.array_join(F.sort_array(F.collect_set("event_type")), ",").alias("partner_set"),
        F.countDistinct("event_type").alias("n_distinct"),
    )


# ---------------------------------------------------------------------------
# A4: exact tercile boundaries
# ---------------------------------------------------------------------------


@_register(
    "a4_tercile_boundaries",
    """
    WITH s AS (
      SELECT list(c_acctbal ORDER BY c_acctbal) AS l, count(*) AS n FROM customer
    )
    SELECT round((l[n // 3 + 1] + l[n // 3 + 2]) / 2, 6) AS low_mid_boundary,
           round((l[(n * 2) // 3 + 1] + l[(n * 2) // 3 + 2]) / 2, 6) AS mid_high_boundary,
           n AS n_values
    FROM s
    """,
    doc="A4 exact tercile boundaries (Boundaries#train): sorted values, "
    "boundary = mean of v[n/3], v[n/3+1] (0-indexed).",
)
def a4_tercile_boundaries(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer")
    b = R.tercile_boundaries(cust, "c_acctbal")
    return b.select(
        F.round("low_mid_boundary", 6).alias("low_mid_boundary"),
        F.round("mid_high_boundary", 6).alias("mid_high_boundary"),
        F.col("n_values").cast("long").alias("n_values"),
    )


# ---------------------------------------------------------------------------
# A5: naive-Bayes log-sum scoring
# ---------------------------------------------------------------------------


@_register(
    "a5_nb_logsum",
    """
    SELECT p_brand,
           round(CAST(sum(CAST(ln((l_quantity + 1) / (50 + 2)) AS DECIMAL(27,12)))
                      AS DOUBLE) + ln(0.5), 6) AS pos_log_odds,
           round(CAST(sum(CAST(ln((l_discount * 100 + 1) / (10 + 2)) AS DECIMAL(27,12)))
                      AS DOUBLE) + ln(0.5), 6) AS neg_log_odds,
           count(*) AS n_props
    FROM lineitem JOIN part ON l_partkey = p_partkey
    GROUP BY 1
    """,
    doc="A5 naive-Bayes candidate scoring, product -> log-sum. "
    "Reference: LocationCrawlerBolt.java:155-181.",
)
def a5_nb_logsum(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    import math

    joined = li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
    return joined.groupBy("p_brand").agg(
        # ln terms cast to DECIMAL(27,12) before summing: the reduction
        # becomes exact integer arithmetic, so partition order can't shift
        # the pre-round ulp (VERDICT r1 #1c)
        F.round(
            F.sum(F.log((F.col("l_quantity") + 1) / (50 + 2)).cast("decimal(27,12)"))
            .cast("double")
            + math.log(0.5),
            6,
        ).alias("pos_log_odds"),
        F.round(
            F.sum(F.log((F.col("l_discount") * 100 + 1) / (10 + 2)).cast("decimal(27,12)"))
            .cast("double")
            + math.log(0.5),
            6,
        ).alias("neg_log_odds"),
        F.count(F.lit(1)).alias("n_props"),
    )


# ---------------------------------------------------------------------------
# T1: top-k per group
# ---------------------------------------------------------------------------


@_register(
    "t1_topk_per_group",
    """
    SELECT o_custkey, o_orderkey, o_totalprice,
           CAST(rank AS INTEGER) AS rank
    FROM (
      SELECT o_custkey, o_orderkey, o_totalprice,
             row_number() OVER (PARTITION BY o_custkey
                                ORDER BY o_totalprice DESC, o_orderkey) AS rank
      FROM orders
    )
    WHERE rank <= 5
    """,
    doc="T1 per-group top-5 by score desc. "
    "Reference: MessageLocationPrediction.java:28-66 (k=5).",
)
def t1_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    return R.topk_per_group(
        orders, ["o_custkey"], [F.col("o_totalprice").desc(), F.col("o_orderkey").asc()], k=5
    ).select("o_custkey", "o_orderkey", "o_totalprice", "rank")


# ---------------------------------------------------------------------------
# W2: count-based micro-batch grouping
# ---------------------------------------------------------------------------


@_register(
    "w2_count_batches",
    """
    SELECT event_id // 5 AS batch_id,
           count(*) AS n,
           CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS batch_value
    FROM events
    GROUP BY 1
    """,
    doc="W2 batch-of-5 grouping (deterministic floor(seq/5) batches). "
    "Reference: TopicModelBolt.java:87-99.",
)
def w2_count_batches(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy(F.floor(F.col("event_id") / 5).alias("batch_id"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("batch_value"),
        )
    )


# ---------------------------------------------------------------------------
# P9/P10: WKT point + lon,lat float key
# ---------------------------------------------------------------------------


@_register(
    "p9_p10_geo_strings",
    """
    SELECT event_id,
           'POINT(' || CAST(round(value, 2) AS VARCHAR) || ' ' ||
               CAST(CAST(user_id AS DOUBLE) AS VARCHAR) || ')' AS wkt,
           CAST(CAST(user_id AS FLOAT) AS VARCHAR) || ',' ||
               CAST(CAST(round(value, 2) AS FLOAT) AS VARCHAR) AS lonlat_key
    FROM events
    WHERE event_id % 11 = 0
    """,
    doc="P9 WKT 'POINT(lat long)' (lat-first) + P10 'long,lat' float key. "
    "Reference: LocationCrawlerBolt.java:309-311; TopicModelBolt.java:180-182.",
)
def p9_p10_geo_strings(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").filter(F.col("event_id") % 11 == 0)
    lat = F.round(F.col("value"), 2)
    lon = F.col("user_id").cast("double")
    return ev.select(
        "event_id",
        R.wkt_point(lat, lon).alias("wkt"),
        R.lonlat_key(lat, lon).alias("lonlat_key"),
    )


# ---------------------------------------------------------------------------
# W1 exact: data-driven window close (the reference's real semantics)
# ---------------------------------------------------------------------------


@_register(
    "w1_exact_windows",
    """
    WITH RECURSIVE ev AS (
      SELECT row_number() OVER (ORDER BY event_id) AS pos, ts, value FROM events
    ),
    maxp AS (SELECT max(pos) AS m FROM ev),
    win AS (
      SELECT 1 AS start_pos,
             (SELECT min(e2.pos) FROM ev e2 WHERE e2.pos > 1
               AND e2.ts >= (SELECT ts FROM ev WHERE pos = 1) + INTERVAL 10 MINUTE)
               AS close_pos
      UNION ALL
      SELECT w.close_pos + 1 AS start_pos,
             (SELECT min(e2.pos) FROM ev e2 WHERE e2.pos > w.close_pos + 1
               AND e2.ts >= (SELECT ts FROM ev WHERE pos = w.close_pos + 1)
                            + INTERVAL 10 MINUTE) AS close_pos
      FROM win w, maxp
      WHERE w.close_pos IS NOT NULL AND w.close_pos + 1 <= maxp.m
    )
    SELECT (SELECT ts FROM ev WHERE pos = w.start_pos) AS window_start,
           (SELECT ts FROM ev WHERE pos = w.close_pos) AS window_end,
           w.close_pos - w.start_pos + 1 AS n_events,
           CAST((SELECT coalesce(sum(CAST(value AS DECIMAL(18,2))), 0)
                 FROM ev e
                 WHERE e.pos BETWEEN w.start_pos AND w.close_pos) AS DOUBLE)
             AS sum_value
    FROM win w
    WHERE w.close_pos IS NOT NULL
    """,
    doc="W1 EXACT semantics: window anchored at first buffered event, "
    "flush when an arriving event's ts >= start+10min (trigger included, "
    "final partial buffer never emitted). "
    "SCALE: mode='auto' — below ~2M rows the reference's parallelism-1 "
    "GLOBAL arrival order replays as ONE pandas scan (optimal: one "
    "pass, no shuffle); above it the SAME semantics run fully "
    "executor-parallel via data_driven_windows_distributed "
    "(streaming/stateful.py): per-block record-high scans resolve each "
    "row's trigger, window starts are the orbit of the first arrival "
    "under f(s)=succ(next(s)) enumerated by pointer doubling in "
    "ceil(log2(W)) join rounds, and membership is a block-bucketed "
    "equi-join — bit-identical to the scan (property-tested on "
    "non-monotone/NaT/NULL corpora) and with no single task ever "
    "holding more than one range block. The keyed variant "
    "data_driven_window_rollup_stream(key_cols=...) (64-shard state, "
    "~19k ev/s sustained) remains the streaming mode. "
    "Reference: DiscussionTreeBolt.java:45-51,107-110,130-168.",
)
def w1_exact_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .streaming.stateful import data_driven_windows

    ev = _t(spark, sf_dir, "events")
    return data_driven_windows(ev)


# ---------------------------------------------------------------------------
# §2.8 text pipeline: X1 langid, X2 tokenize, X3 stopwords, X4 stem, X5 encode
# ---------------------------------------------------------------------------

_TOKEN_RE = "[#@]?[A-Za-z][A-Za-z'']*"


@_register(
    "x2_tokenize",
    f"""
    SELECT doc_id,
           CAST(len(regexp_extract_all(text, '{_TOKEN_RE}', 0))
                AS INTEGER) AS n_tokens,
           -- DuckDB array_to_string([]) is NULL where Spark
           -- array_join([]) is '' (random-parity fuzzing find), but a
           -- NULL text must stay NULL on both sides — hence the CASE,
           -- not a bare coalesce
           CASE WHEN text IS NULL THEN NULL
                ELSE coalesce(array_to_string(list_slice(regexp_extract_all(text, '{_TOKEN_RE}', 0), 1, 5), ' '), '')
           END AS token_preview
    FROM documents
    """,
    doc="X2 regex tokenizer (ckling.text.Text#getTerms [bytecode]): "
    "[#@]?word tokens, JVM-side regexp_extract_all.",
)
def x2_tokenize(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    toks = F.expr(f"regexp_extract_all(text, '{_TOKEN_RE}', 0)")
    return docs.select(
        "doc_id",
        F.size(toks).alias("n_tokens"),
        F.array_join(F.slice(toks, 1, 5), " ").alias("token_preview"),
    )


@_register(
    "x1_language_id",
    """
    WITH scored AS (
      SELECT doc_id,
             len(list_filter(regexp_extract_all(lower(text), '[a-z]+', 0),
                 t -> list_contains(['the','a','of','and','to','in','is'], t))) AS score_en,
             len(list_filter(regexp_extract_all(lower(text), '[a-z]+', 0),
                 t -> list_contains(['der','die','das','und','ist','nicht'], t))) AS score_de,
             len(list_filter(regexp_extract_all(lower(text), '[a-z]+', 0),
                 t -> list_contains(['el','la','los','las','es','y','que'], t))) AS score_es,
             len(list_filter(regexp_extract_all(lower(text), '[a-z]+', 0),
                 t -> list_contains(['le','la','les','et','est','que'], t))) AS score_fr
      FROM documents
    )
    SELECT doc_id,
           CAST(score_en AS INTEGER) AS score_en,
           CAST(score_de AS INTEGER) AS score_de,
           CAST(score_es AS INTEGER) AS score_es,
           CAST(score_fr AS INTEGER) AS score_fr,
           CASE WHEN score_en = greatest(score_en, score_de, score_es, score_fr)
                     AND greatest(score_en, score_de, score_es, score_fr) > 0 THEN 'en'
                WHEN score_de = greatest(score_en, score_de, score_es, score_fr)
                     AND greatest(score_en, score_de, score_es, score_fr) > 0 THEN 'de'
                WHEN score_es = greatest(score_en, score_de, score_es, score_fr)
                     AND greatest(score_en, score_de, score_es, score_fr) > 0 THEN 'es'
                WHEN score_fr = greatest(score_en, score_de, score_es, score_fr)
                     AND greatest(score_en, score_de, score_es, score_fr) > 0 THEN 'fr'
                ELSE 'unknown' END AS lang_pred
    FROM scored
    """,
    doc="X1 deterministic marker-word language scorer (operator shape of "
    "the cybozu langdetect stage, TweetIndexBolt.java:95-125).",
)
def x1_language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .ops.text import language_scores

    docs = _t(spark, sf_dir, "documents")
    return language_scores(docs).select(
        "doc_id", "score_en", "score_de", "score_es", "score_fr", "lang_pred"
    )


@_register(
    "x3_stopword_removal",
    """
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS tokens FROM documents
    )
    SELECT doc_id,
           CAST(len(tokens) AS INTEGER) AS n_before,
           CAST(len(list_filter(tokens, t -> NOT list_contains(
             ['a','an','and','are','as','at','be','by','for','from','has','he','in','is',
              'it','its','of','on','that','the','to','was','were','will','with'],
             lower(t)))) AS INTEGER) AS n_after
    FROM toks
    """,
    doc="X3 stopword removal as a higher-order array filter (no UDF). "
    "Reference: ckling.text.Text stopword constants [bytecode].",
)
def x3_stopword_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .ops.text import remove_stopwords

    docs = _t(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    return docs.select(
        "doc_id",
        F.size(toks).alias("n_before"),
        F.size(remove_stopwords(toks)).alias("n_after"),
    )


@_register(
    "x4_stem_rule_based",
    """
    WITH toks AS (
      SELECT DISTINCT unnest(string_split(text, ' ')) AS token FROM documents
    ),
    s1 AS (SELECT token, CASE WHEN regexp_matches(lower(token), '^.{4,}ies$')
                              THEN regexp_replace(lower(token), 'ies$', 'y')
                              ELSE lower(token) END AS t FROM toks),
    s2 AS (SELECT token, CASE WHEN regexp_matches(t, '^.{4,}sses$')
                              THEN regexp_replace(t, 'sses$', 'ss') ELSE t END AS t FROM s1),
    s3 AS (SELECT token, CASE WHEN regexp_matches(t, '^.{3,}s$')
                               AND NOT regexp_matches(t, '(ss|us|is)$')
                              THEN regexp_replace(t, 's$', '') ELSE t END AS t FROM s2),
    s4 AS (SELECT token, CASE WHEN regexp_matches(t, '^.{5,}ing$')
                              THEN regexp_replace(t, 'ing$', '') ELSE t END AS t FROM s3),
    s5 AS (SELECT token, CASE WHEN regexp_matches(t, '^.{5,}ed$')
                              THEN regexp_replace(t, 'ed$', '') ELSE t END AS t FROM s4)
    SELECT token, t AS stem FROM s5 WHERE length(token) > 1
    """,
    doc="X4 stemming — deterministic rule-based suffix stripper, one "
    "anchored regexp_replace per rule (oracle-checkable). The Snowball "
    "stemmer of the reference-fidelity tier is ops.text_reference. "
    "Reference: ckling.text.Text snowball field [bytecode].",
)
def x4_stem_rule_based(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .ops.text import stem_rule_based

    docs = _t(spark, sf_dir, "documents")
    toks = (
        docs.select(F.explode(F.split("text", " ")).alias("token"))
        .distinct()
        .filter(F.length("token") > 1)
    )
    return toks.select("token", stem_rule_based(F.col("token")).alias("stem"))


@_register(
    "x5_term_index_encode",
    """
    WITH toks AS (
      SELECT doc_id,
             unnest(string_split(text, ' ')) AS token,
             generate_subscripts(string_split(text, ' '), 1) AS pos
      FROM documents
    ),
    toks2 AS (SELECT * FROM toks WHERE length(token) > 1),
    dict AS (
      SELECT token, row_number() OVER (ORDER BY count(*) DESC, token) - 1 AS id
      FROM toks2 GROUP BY token
    )
    SELECT t.doc_id,
           string_agg(CAST(d.id AS VARCHAR), ' ' ORDER BY t.pos) AS token_ids
    FROM toks2 t JOIN dict d USING (token)
    GROUP BY t.doc_id
    """,
    doc="X5+J4 dictionary semi-join + order-preserving id encode. "
    "Reference: TweetIndexBolt.java:176-186.",
)
def x5_term_index_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .ops.text import build_dictionary, encode_terms

    docs = _t(spark, sf_dir, "documents")
    toks = (
        docs.select("doc_id", F.posexplode(F.split("text", " ")).alias("pos", "token"))
        .filter(F.length("token") > 1)
    )
    dictionary = build_dictionary(toks)
    return encode_terms(toks, dictionary)


# ---------------------------------------------------------------------------
# E4: per-line doc split with positions
# ---------------------------------------------------------------------------


@_register(
    "e4_doc_token_positions",
    """
    SELECT doc_id,
           unnest(string_split(text, ' ')) AS token,
           CAST(generate_subscripts(string_split(text, ' '), 1)
                AS INTEGER) AS pos
    FROM documents
    WHERE doc_id < 20
    """,
    doc="E4 doc split into position-indexed tokens (jgibblda batch "
    "assembly, TopicModelBolt.java:150-163).",
)
def e4_doc_token_positions(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 20)
    return docs.select("doc_id", F.posexplode(F.split("text", " ")).alias("pos0", "token")).select(
        "doc_id", "token", (F.col("pos0") + 1).alias("pos")
    )


# ---------------------------------------------------------------------------
# P7: key-whitelist projection
# ---------------------------------------------------------------------------


@_register(
    "p7_key_whitelist",
    "SELECT doc_id, source FROM documents",
    doc="P7 output key whitelist (keep only item id + topic set). "
    "Reference: TopicModelBolt.java:202-212.",
)
def p7_key_whitelist(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _t(spark, sf_dir, "documents").select("doc_id", "source")


# ---------------------------------------------------------------------------
# J5: property scan on snapshot triples (events-derived)
# ---------------------------------------------------------------------------


@_register(
    "j5_property_scan",
    """
    WITH triples AS (
      SELECT 'u' || CAST(user_id AS VARCHAR) AS s,
             event_type AS p,
             'k' || json_extract_string(props, 'k') AS o
      FROM events
    )
    SELECT o AS place,
           string_agg(DISTINCT p, ',' ORDER BY p) AS props,
           count(DISTINCT s) AS n_subjects
    FROM triples
    GROUP BY o
    """,
    doc="J5 SPARQL property scan re-expressed over a snapshot triple "
    "table: group property lists per place. "
    "Reference: LocationCrawlerBolt.java:131-153.",
)
def j5_property_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    k = F.from_json("props", "k STRING").getField("k")
    triples = ev.select(
        F.concat(F.lit("u"), F.col("user_id").cast("string")).alias("s"),
        F.col("event_type").alias("p"),
        F.concat(F.lit("k"), k).alias("o"),
    )
    return triples.groupBy(F.col("o").alias("place")).agg(
        F.array_join(F.sort_array(F.collect_set("p")), ",").alias("props"),
        F.countDistinct("s").alias("n_subjects"),
    )


# ---------------------------------------------------------------------------
# J3+A5: naive-Bayes accept with unknown-property smoothing
# ---------------------------------------------------------------------------


@_register(
    "a5_nb_accept",
    """
    WITH place_props AS (
      SELECT user_id AS place, event_type AS property FROM events GROUP BY 1, 2
    ),
    known AS (SELECT * FROM (VALUES ('click', 30, 70), ('purchase', 80, 20))
              AS t(property, rel, irrel)),
    scored AS (
      SELECT place,
             sum(CASE WHEN k.rel IS NOT NULL THEN ln((k.rel + 1) / (100 + 2.0))
                      ELSE ln(1 / (100 + 2.0)) END) AS pos_sum,
             sum(CASE WHEN k.irrel IS NOT NULL THEN ln((k.irrel + 1) / (200 + 2.0))
                      ELSE ln(1 / (200 + 2.0)) END) AS neg_sum,
             max(CASE WHEN k.rel IS NOT NULL THEN 1 ELSE 0 END) AS any_known
      FROM place_props p LEFT JOIN known k USING (property)
      GROUP BY 1
    )
    SELECT place,
           round(pos_sum + ln(0.5), 6) AS pos_log_odds,
           round(neg_sum + ln(0.5), 6) AS neg_log_odds,
           (any_known = 1 AND pos_sum + ln(0.5) > neg_sum + ln(0.5)) AS accept
    FROM scored
    """,
    doc="J3+A5 full NB screening: property lookup with +1/+2 smoothing, "
    "unknown-property fallback, accept iff any-known and pos>neg. "
    "Reference: LocationCrawlerBolt.java:116-122,155-181.",
)
def a5_nb_accept(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .ops.geo import nb_accept

    ev = _t(spark, sf_dir, "events")
    place_props = ev.groupBy(F.col("user_id").alias("place")).agg(
        F.collect_set("event_type").alias("props")
    )
    nb_counts = spark.createDataFrame(
        [("click", 30, 70), ("purchase", 80, 20), ("total", 100, 200)],
        "property string, rel int, irrel int",
    )
    scored = nb_accept(place_props, nb_counts)
    return scored.select(
        "place",
        F.round("pos_log_odds", 6).alias("pos_log_odds"),
        F.round("neg_log_odds", 6).alias("neg_log_odds"),
        "accept",
    )


# ---------------------------------------------------------------------------
# J6: snapshot dereference — triple pivot to wide row
# ---------------------------------------------------------------------------


@_register(
    "j6_triple_pivot",
    """
    SELECT user_id AS place,
           round(max(CASE WHEN event_type = 'click' THEN value END), 2) AS lat,
           round(max(CASE WHEN event_type = 'view' THEN value END), 2) AS lon,
           coalesce(max(CASE WHEN event_type = 'signup' THEN 'label-' ||
             CAST(user_id AS VARCHAR) END), '') AS label
    FROM events
    GROUP BY 1
    """,
    doc="J6 URI dereference as snapshot pivot: triples -> wide "
    "(lat, long, optional label) row; missing label -> ''. "
    "Reference: LocationCrawlerBolt.java:183-209.",
)
def j6_triple_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy(F.col("user_id").alias("place")).agg(
        F.round(F.max(F.when(F.col("event_type") == "click", F.col("value"))), 2).alias("lat"),
        F.round(F.max(F.when(F.col("event_type") == "view", F.col("value"))), 2).alias("lon"),
        F.coalesce(
            F.max(
                F.when(
                    F.col("event_type") == "signup",
                    F.concat(F.lit("label-"), F.col("user_id").cast("string")),
                )
            ),
            F.lit(""),
        ).alias("label"),
    )


# ---------------------------------------------------------------------------
# M3: deterministic hash-based sample (seeded-threshold filter analog)
# ---------------------------------------------------------------------------


@_register(
    "m3_deterministic_sample",
    """
    SELECT event_id, event_type
    FROM events
    WHERE CAST(('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 2)) AS INTEGER) < 64
    """,
    doc="M3 probability-threshold filter (HTMLMapFilterer.java:33-71) as "
    "an engine-independent md5-bucket sample (exactly reproducible, "
    "unlike PRNG sampling).",
)
def m3_deterministic_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    bucket = F.conv(
        F.substring(F.md5(F.col("event_id").cast("string").cast("binary")), 1, 2), 16, 10
    ).cast("int")
    return ev.filter(bucket < 64).select("event_id", "event_type")


# ---------------------------------------------------------------------------
# M1: location prediction kernel (mapInPandas; rows-only check)
# ---------------------------------------------------------------------------


@_register(
    "m1_predict_locations",
    None,  # NumPy/BLAS fold order is not SQL-replayable; rows-only gate
    doc="M1 batch location prediction: X5-encoded docs -> "
    "ops.model.predict_locations, the engine's one NumPy scorer (broadcast "
    "model matrices, one mapInPandas pass), top-5 regions per doc (T1) "
    "with 'lon,lat' float keys (P10). Deterministic collapsed scoring; "
    "the location pipeline runs the same scorer. Reference: "
    "TopicModelBolt.java:87-99,168.",
)
def m1_predict_locations(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .ops.model import LocationModel, predict_locations
    from .ops.text import build_dictionary, encode_terms

    docs = _t(spark, sf_dir, "documents")
    toks = (
        docs.select("doc_id", F.posexplode(F.split("text", " ")).alias("pos", "token"))
        .filter(F.length("token") > 1)
    )
    encoded = encode_terms(toks, build_dictionary(toks))
    model = LocationModel.deterministic()
    return predict_locations(encoded, model)


def _m1q_sql() -> str:
    from .ops.model import predict_regions_fixedpoint_sql

    return predict_regions_fixedpoint_sql()


@_register(
    "m1_region_topk",
    _m1q_sql(),
    doc="M1 hard-signal variant (VERDICT r3 #2): the same collapsed "
    "location-scoring pipeline (per-doc mean token log-likelihood "
    "per topic -> softmax mixture -> region mixing -> top-5 regions) "
    "restructured fixed-point so Spark and DuckDB execute the "
    "identical arithmetic — integer-quantized model matrices "
    "embedded as literals, exact integer folds over char-fold token "
    "ids in the scan stage (zero shuffle), bit-identical "
    "left-associated softmax chain, half-up scaled-BIGINT output. "
    "Holds the pinned M1 slot; the numpy mapInPandas scorer "
    "(m1_predict_locations) stays in the catalog as the throughput "
    "path with a rows-only gate. Reference: "
    "TopicModelBolt.java:87-99,168.",
)
def m1_region_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .ops.model import predict_regions_fixedpoint

    return predict_regions_fixedpoint(_t(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# §2.7 role-analysis kernel: features + tercile levels + rule cascade
# ---------------------------------------------------------------------------
#
# Demonstration forest derived deterministically from `events`:
# roots every 5th event, otherwise parent = previous event (chain) or
# the block root, depending on props.k — bounded depth ≤ 5, all
# parents exist. Exercises with_root_ids / role_features /
# tercile_levels / assign_roles end-to-end.

_ROLES_FEATS_CTE = """
WITH RECURSIVE raw AS (
  SELECT event_id, user_id,
         CAST(json_extract_string(props, 'k') AS BIGINT) AS k
  FROM events
),
edges AS (
  SELECT event_id AS tweet_id,
         CASE WHEN event_id % 5 = 0 THEN NULL
              WHEN k % 3 = 0 THEN event_id - 1
              ELSE event_id - (event_id % 5) END AS parent_id,
         user_id AS author_id
  FROM raw
),
anc AS (
  SELECT tweet_id, tweet_id AS root_id FROM edges WHERE parent_id IS NULL
  UNION ALL
  SELECT e.tweet_id, a.root_id FROM edges e JOIN anc a ON e.parent_id = a.tweet_id
),
nodes AS (
  SELECT e.tweet_id, e.parent_id, e.author_id, a.root_id
  FROM edges e JOIN anc a ON e.tweet_id = a.tweet_id
),
pairs AS (
  SELECT c.tweet_id AS c_id, c.author_id AS user_id,
         ch.author_id AS child_author, p.author_id AS parent_author
  FROM nodes c
  JOIN nodes ch ON ch.parent_id = c.tweet_id
  LEFT JOIN nodes p ON c.parent_id = p.tweet_id
),
replied AS (
  SELECT user_id, count(DISTINCT c_id) AS replied_posts,
         count(DISTINCT child_author) AS n_replying_users
  FROM pairs GROUP BY 1
),
neigh AS (
  SELECT user_id, count(DISTINCT nb) AS n_neighbours FROM (
    SELECT user_id, child_author AS nb FROM pairs
    UNION ALL
    SELECT user_id, parent_author AS nb FROM pairs WHERE parent_author IS NOT NULL
  ) GROUP BY 1
),
bidir AS (
  SELECT user_id, count(DISTINCT child_author) AS n_bidir_neighbours,
         count(DISTINCT c_id) AS bidir_threads
  FROM pairs WHERE child_author = parent_author GROUP BY 1
),
posts AS (SELECT author_id AS user_id, count(*) AS post_count FROM nodes GROUP BY 1),
tree_sizes AS (SELECT root_id, count(*) AS tree_size FROM nodes GROUP BY 1),
user_trees AS (
  SELECT ut.user_id, count(*) AS n_trees,
         sum(ts.tree_size) AS sum_tree_sizes,
         sum(ts.tree_size * ts.tree_size) AS sum_tree_sizes_sq
  FROM (SELECT DISTINCT author_id AS user_id, root_id FROM nodes) ut
  JOIN tree_sizes ts USING (root_id) GROUP BY 1
),
nc AS (SELECT count(DISTINCT author_id) AS n_community_users FROM nodes),
feats AS (
  SELECT p.user_id,
         p.post_count,
         coalesce(r.replied_posts, 0) AS replied_posts,
         coalesce(r.n_replying_users, 0) AS n_replying_users,
         coalesce(ng.n_neighbours, 0) AS n_neighbours,
         coalesce(b.n_bidir_neighbours, 0) AS n_bidir_neighbours,
         coalesce(b.bidir_threads, 0) AS bidir_threads,
         CASE WHEN nc.n_community_users > 0
              THEN CAST(coalesce(r.n_replying_users, 0) AS DOUBLE) / nc.n_community_users
              ELSE 0.0 END AS in_degree_ratio,
         CASE WHEN p.post_count > 0
              THEN CAST(coalesce(r.replied_posts, 0) AS DOUBLE) / p.post_count
              ELSE 0.0 END AS posts_reply_ratio,
         0.0 AS thread_initiation_ratio,
         CASE WHEN coalesce(ng.n_neighbours, 0) > 0
              THEN CAST(coalesce(b.n_bidir_neighbours, 0) AS DOUBLE) / ng.n_neighbours
              ELSE 0.0 END AS bidir_neighbour_ratio,
         CASE WHEN p.post_count > 0
              THEN CAST(coalesce(b.bidir_threads, 0) AS DOUBLE) / p.post_count
              ELSE 0.0 END AS bidir_thread_ratio,
         CASE WHEN coalesce(t.n_trees, 0) > 0
              THEN CAST(t.sum_tree_sizes AS DOUBLE) / t.n_trees
              ELSE 0.0 END AS avg_posts_per_thread,
         CASE WHEN coalesce(t.n_trees, 0) >= 2
              THEN sqrt(CAST(t.n_trees * t.sum_tree_sizes_sq
                             - t.sum_tree_sizes * t.sum_tree_sizes AS DOUBLE)
                        / CAST(t.n_trees * (t.n_trees - 1) AS DOUBLE))
              ELSE 0.0 END AS stddev_posts_per_thread
  FROM posts p
  LEFT JOIN replied r USING (user_id)
  LEFT JOIN neigh ng USING (user_id)
  LEFT JOIN bidir b USING (user_id)
  LEFT JOIN user_trees t USING (user_id)
  CROSS JOIN nc
)
"""


def _roles_bounds_sql() -> str:
    from .ops.roles import LEVEL_FEATURES

    lists = ", ".join(
        f"list({f} ORDER BY {f}) AS l_{f}" for f in LEVEL_FEATURES
    )
    bounds = ", ".join(
        f"(l_{f}[n // 3 + 1] + l_{f}[n // 3 + 2]) / 2 AS {f}_lm, "
        f"(l_{f}[(2 * n) // 3 + 1] + l_{f}[(2 * n) // 3 + 2]) / 2 AS {f}_mh"
        for f in LEVEL_FEATURES
    )
    levels = ", ".join(
        f"CASE WHEN f.{f} <= bd.{f}_lm THEN 'low' "
        f"WHEN f.{f} <= bd.{f}_mh THEN 'med' ELSE 'high' END AS {f}_level"
        for f in LEVEL_FEATURES
    )
    return (
        f", sorted AS (SELECT {lists}, count(*) AS n FROM feats)\n"
        f", bounds AS (SELECT {bounds} FROM sorted)\n"
        f", leveled AS (SELECT f.*, {levels} FROM feats f CROSS JOIN bounds bd)\n"
    )


def _roles_case_sql() -> str:
    from .ops.roles import ROLE_RULES

    whens = []
    for role, conds in reversed(ROLE_RULES):
        cond = " AND ".join(f"{feat}_level = '{lvl}'" for feat, lvl in conds.items())
        whens.append(f"WHEN {cond} THEN '{role}'")
    return "CASE " + " ".join(whens) + " ELSE '<None>' END"


def _ckpt_small(df: DataFrame, n: int = 8) -> DataFrame:
    """Eagerly materialize a SMALL loop-invariant frame (r8, guide
    §2.4/§5): the graph entries derive their edge/node frames from an
    events self-join and then reference them 3-10x across unrolled
    iteration rounds — without truncation the whole derivation sits
    in the plan once per reference (gr_hits' before plan scanned
    events 268x, saved only partially by runtime exchange reuse).

    ``localCheckpoint`` (not ``persist``): eager, lineage-truncating,
    and leaves AQE/exchange-reuse of the downstream rounds intact —
    a ``persist()`` variant was A/B-measured to REGRESS 3.7->20.6s on
    gr_hits by pinning partitioning.  Blocks are reclaimed by the
    harness's periodic driver GC (the established checkpoint contract
    of the connected-components / BPE kernels).

    CALLER CONTRACT (ADVICE r8, pinned by
    tests/test_entry_contract.py::test_ckpt_small_contract):
    - the frame must be SMALL at any scale (edge lists after
      distinct, node lists) — the coalesce funnels everything through
      ``n`` partitions, so an unbounded frame would serialize;
    - this EXECUTES a Spark job at call time (catalog functions that
      use it run work at construction, which bench.py's timed region
      includes by design);
    - localCheckpoint blocks are NOT recoverable on executor loss —
      acceptable for derived frames that a retry of the whole query
      rebuilds, never for state that outlives the query.
    """
    return df.coalesce(n).localCheckpoint()


def _event_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    k = F.from_json("props", "k LONG").getField("k")
    eid = F.col("event_id")
    return ev.select(
        eid.alias("tweet_id"),
        F.when(eid % 5 == 0, F.lit(None).cast("long"))
        .when(k % 3 == 0, eid - 1)
        .otherwise(eid - (eid % 5))
        .alias("parent_id"),
        F.col("user_id").alias("author_id"),
    )


def _event_forest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`_event_edges` with ``root_id`` attached IN-ROW (r9, guide §8
    "use what you know that the optimizer does not").

    The a3 entries were COMPILE-bound: the generic pointer-doubling
    root walk (2 persisted self-joins + join-back + eager
    localCheckpoint) cost ~3-6 s of Catalyst analysis/codegen per run
    while executing in ~0.3 s.  But on THIS forest the walk has a
    closed form: both parent rules stay inside the id-block
    [5k, 5k+4] (eid-1 keeps eid%5 != 0 positive; eid-(eid%5) IS the
    block head 5k), every step strictly decreases the id, and the
    only parentless node of a block is 5k — so every chain terminates
    at ``eid - eid % 5``.  Equivalence to the oracle's recursive CTE
    (which inner-joins away nodes whose chain is incomplete) holds
    because event_ids are contiguous from 0: verified by EXCEPT in
    DuckDB at sf0.001/0.01/0.1 — 0 differing rows in either direction
    (OPTIMIZATION_r09.md §1).  The generic walk stays in
    ops/roles.with_root_ids for real (unknown-shape) forests.

    The closed form needs that contiguity: see `_event_ids_contiguous`.
    """
    eid = F.col("tweet_id")
    return _event_edges(spark, sf_dir).withColumn("root_id", eid - (eid % 5))


def _event_ids_contiguous(spark: SparkSession, sf_dir: str) -> Column:
    """A filter that keeps every row when event_id is exactly
    0..count-1 and raises otherwise: with a gap, `_event_forest`'s
    closed form gives a node whose parent is missing a root instead of
    dropping it.  A scalar subquery over the one-row min/max/count
    aggregate; the a3 entries filter their OUTPUT on it, so it runs in
    the action's plan and adds no eager job even where the features
    are checkpointed at build."""
    eid = F.col("event_id")
    lo, hi, n = F.min(eid), F.max(eid), F.count(F.lit(1))
    message = F.concat(
        F.lit("_event_forest needs event_id contiguous from 0, got min "),
        lo.cast("string"),
        F.lit(" max "),
        hi.cast("string"),
        F.lit(" count "),
        n.cast("string"),
    )
    check = _t(spark, sf_dir, "events").select(
        F.when((n == 0) | ((lo == 0) & (hi == n - 1)), F.lit(True)).otherwise(
            F.raise_error(message)
        )
    )
    return check.scalar()


@_register(
    "a3_role_features",
    _ROLES_FEATS_CTE
    + """
    SELECT user_id, post_count, replied_posts, n_replying_users,
           CAST(n_neighbours AS INTEGER) AS n_neighbours,
           n_bidir_neighbours, bidir_threads,
           round(in_degree_ratio, 6) AS in_degree_ratio,
           round(posts_reply_ratio, 6) AS posts_reply_ratio,
           round(bidir_neighbour_ratio, 6) AS bidir_neighbour_ratio,
           round(bidir_thread_ratio, 6) AS bidir_thread_ratio,
           round(avg_posts_per_thread, 6) AS avg_posts_per_thread,
           round(stddev_posts_per_thread, 6) AS stddev_posts_per_thread
    FROM feats
    """,
    doc="A3/§2.7 per-user behaviour features over the discussion forest. "
    "Reference: reveal-interaction-1.0.jar!CommunityAnalysis#analyseUserFeatures.",
)
def a3_role_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .ops.roles import role_features

    # root_id arrives in-row (_event_forest, r9) so the pointer-
    # doubling walk — the dominant Catalyst-analysis cost of this
    # compile-bound entry — is skipped entirely; the node frame is a
    # scan+project, cheap to re-analyze per aggregation branch.
    feats = role_features(_event_forest(spark, sf_dir))
    return feats.where(_event_ids_contiguous(spark, sf_dir)).select(
        "user_id",
        "post_count",
        "replied_posts",
        "n_replying_users",
        "n_neighbours",
        "n_bidir_neighbours",
        "bidir_threads",
        F.round("in_degree_ratio", 6).alias("in_degree_ratio"),
        F.round("posts_reply_ratio", 6).alias("posts_reply_ratio"),
        F.round("bidir_neighbour_ratio", 6).alias("bidir_neighbour_ratio"),
        F.round("bidir_thread_ratio", 6).alias("bidir_thread_ratio"),
        F.round("avg_posts_per_thread", 6).alias("avg_posts_per_thread"),
        F.round("stddev_posts_per_thread", 6).alias("stddev_posts_per_thread"),
    )


def _roles_assign_oracle() -> str:
    return (
        _ROLES_FEATS_CTE
        + _roles_bounds_sql()
        + f"SELECT user_id, post_count, {_roles_case_sql()} AS role FROM leveled"
    )


@_register(
    "a3_role_assignment",
    None,  # oracle attached below (built programmatically)
    doc="§2.7 full kernel: features -> per-window tercile levels (A4) -> "
    "8-rule cascade, last match wins (RoleAssociation#assignRole, intended mode).",
)
def a3_role_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .ops.roles import assign_roles, role_features, tercile_levels

    # root_id arrives in-row (_event_forest, r9): no pointer-doubling
    # walk, no eager node checkpoint — see a3_role_features.  The r8
    # feats.localCheckpoint() is gone too: with the walk out of the
    # lineage the feature subtree is small enough that ONE lazy plan
    # (the bounds and the join-back share it by exchange reuse)
    # beats paying a separate eager analyze+codegen+job cycle —
    # paired cold A/B 7.3 s -> 3.3 s at sf0.1 (OPTIMIZATION_r09.md §1).
    feats = role_features(_event_forest(spark, sf_dir))
    roles = assign_roles(tercile_levels(feats))
    return roles.where(_event_ids_contiguous(spark, sf_dir)).select(
        "user_id", "post_count", "role"
    )


# attach the programmatic oracle to the spec registered above
_CATALOG[-1] = QuerySpec(
    _CATALOG[-1].name, _CATALOG[-1].spark, _roles_assign_oracle(), _CATALOG[-1].doc
)


# scale-extension entries (dedup / similarity / text stats /
# multimodal) register themselves into _CATALOG on import
from . import queries_scale  # noqa: E402, F401

# temporal + training-data-prep + rollup entries
from . import queries_ext  # noqa: E402, F401

# graph analytics over the reply-derived user graph
from . import queries_graph  # noqa: E402, F401

# round-2 batch: TPC-H Q7/Q10/Q14/Q19 shapes, GROUPING SETS, JL
# projection, chi-square terms, feature hashing, keep-best dedup,
# hourly top-k
from . import queries_ext2  # noqa: E402, F401

# round-3 batch: Gopher quality rules, TextRank keywords, product
# quantization, top-PC power iteration
from . import queries_ext3  # noqa: E402, F401

# round-3 batch 4: HITS, local clustering, Zipf fit, temperature
# mixture, Mahalanobis outliers, audio framing plan, Mann-Kendall
from . import queries_ext4  # noqa: E402, F401

# round-3 batch 5: remaining TPC-H decorrelation shapes (Q2/Q4/Q9/
# Q11/Q16/Q20), compaction planner, hourly OHLC, PQ-ADC search
from . import queries_ext5  # noqa: E402, F401

# round-3 batch 6: personalized PageRank, survival life table,
# iterative BPE trainer + fertility audit
from . import queries_ext6  # noqa: E402, F401

# round-3 batch 7: ACF correlogram, peak hours, Q-Q drift points,
# training shard manifest
from . import queries_ext7  # noqa: E402, F401


# Lazy oracles are resolved at first catalog access, not at module
# scope: if a caller imports a submodule like queries_ext FIRST, Python
# re-enters this module before that submodule finished registering its
# entries (circular import), and an eager pass would see a partial
# _CATALOG.
_RESOLVED = False


def _resolve_lazy_oracles() -> None:
    global _RESOLVED
    if not _RESOLVED:
        for _i, _spec in enumerate(_CATALOG):
            if callable(_spec.oracle):
                _CATALOG[_i] = QuerySpec(
                    _spec.name, _spec.spark, _spec.oracle(), _spec.doc
                )
        _RESOLVED = True


# ---------------------------------------------------------------------------
# Catalog ordering: the driver's per-round correctness gate checks the
# FIRST 50 dict entries (CORRECTNESS_r01.json == the first 50 of round 1's
# insertion order). Round 1 left 84 queries without a hard-signal row, so
# the catalog is explicitly ordered per round: every SURVEY §2 operator
# first, then representatives of the families the driver has not yet
# checked (ts_/ag_/sq_/tp_/gr_), then the rest of the unchecked set, and
# the queries that already have a green round-1 row last. See COVERAGE.md
# §"hard-signal rotation".
# ---------------------------------------------------------------------------

# Pinned core of the 50-query hard-signal window, kept small so the
# rest of the window rotates (VERDICT r2 #1: with 50 pinned names the
# window could never rotate — 121 of 171 queries had no CORRECTNESS
# row after two rounds).  Always-pinned SURVEY §2 sentinels,
# one per reference pipeline family:
_SENTINELS = [
    "w1_window_rollup",  # streaming window family
    "a3_role_assignment",  # role cascade family
    "x2_tokenize",  # text family
]

# Pin UNTIL RE-CHECKED: entries that carry a targeted fix or a
# brand-new hard-signal contract (an old row proves the OLD contract,
# not the fix).  name -> round the fix landed after; the pin releases
# once a CORRECTNESS row from a LATER round exists, so a never-checked
# entry pinned at 0 releases on its first row.  Empty while every
# fix has its post-fix row; a released pin is deleted, not kept.
_PIN_UNTIL_RECHECKED: dict[str, int] = {}


def _correctness_rounds() -> dict[int, dict]:
    """round -> {name: row} for every CORRECTNESS_r{N}.json committed
    into the repo root — the one reader of those artifacts.
    Tolerant of absence (round 1, fresh clones); an unreadable or
    non-object file counts as a round with no rows."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out: dict[int, dict] = {}
    for path in glob.glob(os.path.join(root, "CORRECTNESS_r*.json")):
        m = re.search(r"CORRECTNESS_r(\d+)\.json$", path)
        if not m:
            continue
        try:
            with open(path) as f:
                rows = json.load(f)
        except (OSError, ValueError):
            rows = {}
        out[int(m.group(1))] = rows if isinstance(rows, dict) else {}
    return out


def _rounds_with_row() -> dict[str, set]:
    """name -> set of round numbers with a committed CORRECTNESS row."""
    out: dict[str, set] = {}
    for n, rows in _correctness_rounds().items():
        for name in rows:
            out.setdefault(name, set()).add(n)
    return out


def _latest_round_failures() -> list[str]:
    """Names whose row in the NEWEST committed CORRECTNESS_r*.json has
    any explicit false match flag — the automatic re-check set.
    err-only rows (e.g. rows-only entries recorded as no_oracle) are
    not failures to re-check; by-design gaps would pin forever."""
    rounds = _correctness_rounds()
    if not rounds:
        return []
    return [
        name
        for name, r in rounds[max(rounds)].items()
        if isinstance(r, dict)
        and (
            any(
                r.get(k) is False
                for k in ("rows_match", "schema_match", "hash_match")
            )
            # a crash in the driver's comparator is a failure too
            # (r5: ag_approx_percentiles' array output broke the
            # pandas canonicalizer — err-only row, no False flags);
            # only the by-design 'no_oracle' marker is not one
            or (r.get("err") and r.get("err") != "no_oracle")
        )
    ]


def _top_priority() -> list[str]:
    """The pinned head of the driver window, SELF-MAINTAINING
    (round-4 rework — the hand-edited list needed per-round pruning):
    1. every entry the newest driver round FAILED (re-check the fix),
    2. fix-carrying entries with no CORRECTNESS row since their fix,
    3. the three SURVEY sentinels.
    Once a fix is driver-green its pin disappears on the next round's
    ordering without an edit, freeing the slot for the never-checked
    backlog."""
    rounds = _rounds_with_row()
    pins = list(dict.fromkeys(
        _latest_round_failures()
        + [
            n
            for n, after in _PIN_UNTIL_RECHECKED.items()
            if not any(r > after for r in rounds.get(n, ()))
        ]
        + _SENTINELS
    ))
    return pins


# Families the judge grades as the LLM-pipeline headline (VERDICT r2
# "do this" #1): among never-checked queries these rotate in first.
# r6: gr_ added — the graph family was simultaneously 10/12
# never-checked AND bench-regressed in r5 (VERDICT r5 #4); pulling
# all ten into the r6 window closes its verification gap in one round.
_HEADLINE_FAMILIES = ("dd_", "tx_", "dv_", "emb_", "mm_", "ann_", "gr_")

# (the former hand-maintained _ROUND1_GREEN_DEFERRED list is
# subsumed by the self-rotating order below: any query present in a
# committed CORRECTNESS_r*.json sorts after the never-checked ones)


def _hard_signal_rounds() -> dict[str, int]:
    """How many committed rounds have hard-checked each query."""
    return {name: len(rs) for name, rs in _rounds_with_row().items()}


def _ordered() -> list[QuerySpec]:
    """Catalog order = the driver's per-round 50-query hard-signal
    window, SELF-ROTATING: the pinned core (_top_priority() —
    every SURVEY §2 operator plus family representatives) leads, and
    everything else sorts by STALENESS — the round of each query's
    most recent driver row, oldest first (never-checked = round 0,
    so the backlog still drains before anything re-checks); ties
    break by fewest total rounds checked, then headline family, then
    registration order.  Each new CORRECTNESS_r{N}.json the driver
    commits therefore pushes freshly-checked queries toward the tail
    automatically (the round-1 lesson: 84 of 134 queries had no
    driver row because the order was static).

    Staleness replaced fewest-rounds-checked as the PRIMARY key in
    round 8 (VERDICT r7 "What's missing" #3): with the never-checked
    backlog at zero, the fewest-first sort let headline-family
    entries checked once in r5/r6 outrank the 62 entries whose last
    row predates the r4 strict-type sweep and r5 scaled-int rewrites
    — exactly the ones whose current output wraps have never been
    driver-hashed.  Oldest-last-check-first pulls all of them ahead
    of anything already re-proven on the post-rewrite contracts."""
    _resolve_lazy_oracles()
    pins = _top_priority()
    by_name = {spec.name: spec for spec in _CATALOG}
    top = [by_name[n] for n in pins if n in by_name]
    checked = _hard_signal_rounds()
    last = {n: max(rs) for n, rs in _rounds_with_row().items()}
    rest = [spec for spec in _CATALOG if spec.name not in set(pins)]
    order = {spec.name: i for i, spec in enumerate(_CATALOG)}
    rest.sort(
        key=lambda s: (
            last.get(s.name, 0),
            checked.get(s.name, 0),
            0 if s.name.startswith(_HEADLINE_FAMILIES) else 1,
            order[s.name],
        )
    )
    return top + rest


def catalog() -> list[QuerySpec]:
    return _ordered()


def window_double_offenders(spark, sf_dir: str = "/root/testdata/sf0.001") -> list[str]:
    """THE window hash-exactness rule, shared by
    tests/test_entry_contract.py and tools/preflight.py (VERDICT r4
    #7 — one implementation, never two drifting copies): a
    driver-window entry may only emit double/float columns if it
    (a) already has a driver value-hash PASS on record, or (b) is
    rows-only BY DESIGN (oracle=None — the driver never hashes it,
    so a double output cannot fail). Everything else is an offender:
    a never-checked window entrant whose double output would re-expose
    the ts_sessionize failure class the moment the driver hashes it.

    Returns ['name.col:type', ...]; empty == clean."""
    passed = {
        name
        for rows in _correctness_rounds().values()
        for name, r in rows.items()
        if isinstance(r, dict) and r.get("hash_match")
    }
    offenders = []
    for spec in _ordered()[:50]:
        if spec.oracle is None or spec.name in passed:
            continue
        df = spec.spark(spark, sf_dir)
        for f in df.schema.fields:
            t = f.dataType.simpleString()
            if "double" in t or "float" in t:
                offenders.append(f"{spec.name}.{f.name}:{t}")
    return offenders


def complex_output_offenders(
    spark, sf_dir: str = "/root/testdata/sf0.001"
) -> list[str]:
    """Primitive-only output rule, shared by tests/test_entry_contract.py
    and tools/preflight.py: NO catalog entry — rows-only entries
    included — may emit array/map/struct columns. The driver's
    rows-compare canonicalizer sorts every output column with pandas,
    which cannot factorize list values (``TypeError: unhashable type:
    'list'``) — ``ag_approx_percentiles``'s array<double> output was
    the one red r5 driver row, proving the canonicalizer contract
    applies to rows-only entries too (VERDICT r5 #2). Catalog-wide
    because the driver window rotates: every entry is eventually
    canonicalized.

    Returns ['name.col:type', ...]; empty == clean."""
    offenders = []
    for spec in _ordered():
        df = spec.spark(spark, sf_dir)
        for f in df.schema.fields:
            t = f.dataType.simpleString()
            if t.startswith(("array", "map", "struct")):
                offenders.append(f"{spec.name}.{f.name}:{t}")
    return offenders


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {spec.name: spec.spark for spec in _ordered()}


def oracle_sql() -> dict[str, str]:
    return {spec.name: spec.oracle.strip() for spec in _ordered() if spec.oracle is not None}
