"""Seventh catalog-extension batch (round 3, fourth continuation):
time-series and distribution diagnostics plus a training-shard
manifest — the ACF correlogram (multi-lag autocorrelation), per-type
peak-hour detection, decile Q-Q drift points between two value
distributions, and a deterministic hash-sharded WebDataset-style
manifest.

Same oracle discipline as the earlier batches: exact integer
sufficient statistics, the catalog's standard scaled-BIGINT wrap for
the one computed score (composed identically on both engines), and
raw-value passthroughs for quantile points.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .queries import _register, _t
from .scale import constants as C

# ---------------------------------------------------------------------------
# ACF correlogram: autocorrelation of the hourly count series at
# lags 1..ACF_MAX_LAG (ts_autocorr generalized from lag 1)
# ---------------------------------------------------------------------------

ACF_MAX_LAG = 6


@_register(
    "ts_acf_lags",
    f"""
    WITH hourly AS (
      SELECT CAST(floor(epoch(ts) / 3600) AS BIGINT) AS h, count(*) AS n
      FROM events GROUP BY 1
    ),
    lags AS (SELECT unnest(range(1, {ACF_MAX_LAG + 1})) AS lag),
    pairs AS (
      SELECT l.lag, a.n AS x, b.n AS y
      FROM hourly a CROSS JOIN lags l
      JOIN hourly b ON b.h = a.h + l.lag
    ),
    s AS (
      SELECT lag, count(*) AS np,
             CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
             CAST(sum(x * y) AS BIGINT) AS sxy,
             CAST(sum(x * x) AS BIGINT) AS sxx,
             CAST(sum(y * y) AS BIGINT) AS syy
      FROM pairs GROUP BY 1
    )
    SELECT CAST(lag AS BIGINT) AS lag, CAST(np AS BIGINT) AS n_pairs,
           CAST(round(
             (CAST(np AS DOUBLE) * CAST(sxy AS DOUBLE)
              - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
             / sqrt((CAST(np AS DOUBLE) * CAST(sxx AS DOUBLE)
                     - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                    * (CAST(np AS DOUBLE) * CAST(syy AS DOUBLE)
                       - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))
             * 1000000) AS BIGINT) AS corr_x1e6
    FROM s
    """,
    doc="ACF correlogram: autocorrelation of the hourly event-count "
    "series at lags 1..6 — the seasonality/memory diagnostic behind "
    "window sizing and anomaly baselines (ts_autocorr generalized "
    "past lag 1). Lagged pairs come from ONE expression-keyed "
    "equi-join of the pre-aggregated hourly table against itself "
    "cross the 6-row lag frame — never raw events; all per-lag "
    "sufficient statistics fold as exact BIGINT and the Pearson r "
    "ships with the catalog's standard scaled-BIGINT wrap. "
    "Temporal extension.",
)
def ts_acf_lags(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    hourly = ev.groupBy(
        F.floor(F.unix_timestamp("ts") / 3600).cast("bigint").alias("h")
    ).agg(F.count(F.lit(1)).alias("n"))
    lags = spark.range(1, ACF_MAX_LAG + 1).select(F.col("id").alias("lag"))
    a = hourly.select(F.col("h").alias("ha"), F.col("n").alias("x"))
    b = hourly.select(F.col("h").alias("hb"), F.col("n").alias("y"))
    pairs = a.crossJoin(F.broadcast(lags)).join(
        b, F.col("hb") == F.col("ha") + F.col("lag")
    )
    s = pairs.groupBy("lag").agg(
        F.count(F.lit(1)).alias("np"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("bigint").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("bigint").alias("syy"),
    )
    npd = F.col("np").cast("double")
    sxd, syd = F.col("sx").cast("double"), F.col("sy").cast("double")
    sxxd, syyd = F.col("sxx").cast("double"), F.col("syy").cast("double")
    sxyd = F.col("sxy").cast("double")
    # try_divide: a constant hourly series has zero variance — NULL,
    # matching DuckDB's x/0 (rule 15; fuzzer-found ANSI crash)
    r = F.try_divide(
        npd * sxyd - sxd * syd,
        F.sqrt((npd * sxxd - sxd * sxd) * (npd * syyd - syd * syd)),
    )
    return s.select(
        F.col("lag").cast("bigint").alias("lag"),
        F.col("np").cast("bigint").alias("n_pairs"),
        F.round(r * 1_000_000).cast("bigint").alias("corr_x1e6"),
    )


# ---------------------------------------------------------------------------
# peak-hour detection: strict local maxima of each type's hourly series
# ---------------------------------------------------------------------------


@_register(
    "ts_peak_hours",
    """
    WITH hourly AS (
      SELECT event_type, CAST(floor(epoch(ts) / 3600) AS BIGINT) AS h,
             CAST(count(*) AS BIGINT) AS n
      FROM events GROUP BY 1, 2
    ),
    w AS (
      SELECT event_type, h, n,
             lag(n) OVER (PARTITION BY event_type ORDER BY h) AS prev_n,
             lead(n) OVER (PARTITION BY event_type ORDER BY h) AS next_n
      FROM hourly
    )
    SELECT event_type, h, n, prev_n, next_n
    FROM w
    WHERE prev_n IS NOT NULL AND next_n IS NOT NULL
      AND n > prev_n AND n > next_n
    """,
    doc="Peak-hour detection: strict local maxima of each event "
    "type's hourly count series (n above BOTH ordered neighbors; "
    "series endpoints excluded — a one-sided comparison is not a "
    "peak). The burst-triage primitive downstream of ts_anomaly's "
    "z-scores. One keyed shuffle: hourly rollup, then lag/lead over "
    "the same (type, hour) key; all-integer output. Temporal "
    "extension.",
)
def ts_peak_hours(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    hourly = ev.groupBy(
        "event_type",
        F.floor(F.unix_timestamp("ts") / 3600).cast("bigint").alias("h"),
    ).agg(F.count(F.lit(1)).alias("n"))
    w = Window.partitionBy("event_type").orderBy("h")
    d = hourly.select(
        "event_type",
        "h",
        "n",
        F.lag("n").over(w).alias("prev_n"),
        F.lead("n").over(w).alias("next_n"),
    )
    return d.filter(
        F.col("prev_n").isNotNull()
        & F.col("next_n").isNotNull()
        & (F.col("n") > F.col("prev_n"))
        & (F.col("n") > F.col("next_n"))
    )


# ---------------------------------------------------------------------------
# Q-Q drift points: decile quantiles of one value distribution
# against another (exact lower-rule ranks, raw-value passthrough)
# ---------------------------------------------------------------------------

QQ_TYPE_A = "click"
QQ_TYPE_B = "purchase"


def _qq_side_sql(etype: str, alias: str) -> str:
    return f"""
    {alias}_r AS (
      SELECT value,
             row_number() OVER (ORDER BY value, event_id) AS rn,
             count(*) OVER () AS cnt
      FROM events WHERE event_type = '{etype}' AND value IS NOT NULL
    ),
    {alias}_q AS (
      SELECT p10, min(value) AS q FROM {alias}_r
      CROSS JOIN (SELECT unnest(range(1, 10)) AS p10)
      WHERE rn * 10 >= p10 * cnt
      GROUP BY 1
    )"""


@_register(
    "ag_qq_points",
    f"""
    WITH {_qq_side_sql(QQ_TYPE_A, "a")},
    {_qq_side_sql(QQ_TYPE_B, "b")}
    SELECT CAST(a.p10 AS INTEGER) AS p10,
           a.q AS q_{QQ_TYPE_A}, b.q AS q_{QQ_TYPE_B}
    FROM a_q a JOIN b_q b ON a.p10 = b.p10
    """,
    doc="Q-Q drift points: the 9 decile quantiles of the click value "
    "distribution against the purchase distribution — the "
    "distribution-shift diagnostic that localizes WHERE ag_ks_test's "
    "scalar distance comes from. Quantiles are exact lower-rule "
    "ranks over a (value, event_id) total order (the ag_percentiles "
    "rank plan), and every output value is a raw stored double — no "
    "arithmetic, hash-exact by passthrough precedent. Distributed "
    "shape (VERDICT r5 #5): the global row_number is two-phase — "
    "range-partition by the total order, partition-local row_number, "
    "plus a broadcast per-partition prefix-count table (the "
    "sq_skyline recipe) — so no single task ever sorts the full "
    "side. Aggregate-statistics extension.",
    # r5 catalog-wide double scan: one of the last two never-checked
    # entries with raw-double outputs — all passthroughs (lower-rule
    # quantile = min), zero-doubt cents wrap
    scaled={"q_click": 2, "q_purchase": 2},
)
def ag_qq_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")

    def side(etype: str) -> DataFrame:
        # value IS NOT NULL on both engines: Spark ascending sorts
        # NULLS FIRST, DuckDB NULLS LAST — a NULL measurement would
        # land in opposite deciles (NULL-events probe find)
        base = (
            ev.filter(F.col("event_type") == etype)
            .filter(F.col("value").isNotNull())
            .select("value", "event_id")
        )
        # two-phase global rank: (value, event_id) is a total order,
        # so range partitions never split a key; global rn = local
        # row_number + count of rows in earlier partitions.
        # pin: BOTH the counts branch and the join probe side below
        # read ``part`` — repartitionByRange SAMPLES its range
        # boundaries per computation, so without pinning the two
        # branches could land rows in different pids (correctness
        # would silently ride on spark.sql.exchange.reuse; ADVICE r6
        # — the same hazard scale/dedup.py distributed_rank pins
        # against).  A lazy local checkpoint fixes the partitioning
        # once; its blocks belong to the frame, not the CacheManager.
        part = (
            base.repartitionByRange(F.asc("value"), F.asc("event_id"))
            .withColumn("pid", F.spark_partition_id())
            .localCheckpoint(eager=False)
        )
        w_in = Window.partitionBy("pid").orderBy("value", "event_id")
        w_pre = Window.orderBy("pid").rowsBetween(
            Window.unboundedPreceding, -1
        )
        counts = part.groupBy("pid").agg(F.count(F.lit(1)).alias("pn"))
        # partition-count-sized frame: the unpartitioned window here
        # is over ~shuffle-partitions rows, not data
        prefix = counts.select(
            "pid",
            F.coalesce(F.sum("pn").over(w_pre), F.lit(0)).alias("pre"),
            F.sum("pn").over(
                Window.orderBy("pid").rowsBetween(
                    Window.unboundedPreceding, Window.unboundedFollowing
                )
            ).alias("cnt"),
        )
        r = part.join(F.broadcast(prefix), "pid").withColumn(
            "rn", F.row_number().over(w_in) + F.col("pre")
        )
        ps = spark.range(1, 10).select(F.col("id").cast("int").alias("p10"))
        return (
            r.crossJoin(F.broadcast(ps))
            .filter(F.col("rn") * 10 >= F.col("p10") * F.col("cnt"))
            .groupBy("p10")
            .agg(F.min("value").alias("q"))
        )

    a = side(QQ_TYPE_A).select("p10", F.col("q").alias(f"q_{QQ_TYPE_A}"))
    b = side(QQ_TYPE_B).select(
        F.col("p10").alias("_p"), F.col("q").alias(f"q_{QQ_TYPE_B}")
    )
    return a.join(b, a.p10 == b._p).select(
        "p10", f"q_{QQ_TYPE_A}", f"q_{QQ_TYPE_B}"
    )


# ---------------------------------------------------------------------------
# training shard manifest: deterministic hash sharding + per-shard stats
# ---------------------------------------------------------------------------

SHARD_N = 16


@_register(
    "tp_shard_manifest",
    f"""
    WITH hashed AS (
      SELECT doc_id, source, n_chars,
             list_reduce(list_prepend(0::BIGINT,
               list_transform(range(1, length(CAST(doc_id AS VARCHAR)) + 1),
                              i -> ord(CAST(doc_id AS VARCHAR)[i]))),
               (a, c) -> (a * {C.FP_MULT} + c) % {C.SHINGLE_P})
               % {SHARD_N} AS shard
      FROM documents
    )
    SELECT CAST(shard AS BIGINT) AS shard,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS n_chars,
           CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
           CAST(min(doc_id) AS BIGINT) AS min_doc_id,
           CAST(max(doc_id) AS BIGINT) AS max_doc_id
    FROM hashed GROUP BY 1
    """,
    doc="Training shard manifest: assign every document to one of 16 "
    "shards by the catalog's engine-identical polynomial char hash "
    "over the doc_id string (the minhash token-id recipe — NOT "
    "doc_id % N, so id-ordered ingest cannot stripe correlated "
    "content into one shard), then emit the per-shard manifest "
    "(doc/byte counts, source diversity, id range) a WebDataset-"
    "style writer publishes next to the shards. Pure map + one "
    "16-group rollup; all-integer output. Train-prep extension.",
)
def tp_shard_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    sid = 'CAST(doc_id AS STRING)'
    shard = F.expr(
        f"aggregate(transform(sequence(1, length({sid})), "
        f"i -> ascii(substring({sid}, i, 1))), 0L, "
        f"(a, c) -> (a * {C.FP_MULT} + c) % {C.SHINGLE_P}) % {SHARD_N}"
    )
    return (
        docs.select(
            shard.cast("bigint").alias("shard"),
            "doc_id",
            "source",
            "n_chars",
        )
        .groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").cast("bigint").alias("n_chars"),
            F.countDistinct("source").alias("n_sources"),
            F.min("doc_id").cast("bigint").alias("min_doc_id"),
            F.max("doc_id").cast("bigint").alias("max_doc_id"),
        )
    )


# ===========================================================================
# batch 8: payload entropy, Pareto concentration, effect size
# ===========================================================================

from .queries import _as_scaled_int, _scaled_int_sql  # noqa: E402

# ---------------------------------------------------------------------------
# byte-level payload entropy — the corruption/encryption QC gate
# ---------------------------------------------------------------------------


@_register(
    "mm_payload_entropy",
    _scaled_int_sql(
        """
    WITH chars AS (
      SELECT doc_id,
             ascii(unnest(string_split(text, ''))) AS code
      FROM documents
    ),
    hist AS (
      SELECT doc_id, CAST(code // 16 AS INT) AS bin, count(*) AS c
      FROM chars GROUP BY 1, 2
    )
    SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_bytes,
           round(ln(sum(c)) - sum(c * ln(c)) / sum(c), 6) AS bin_entropy
    FROM hist GROUP BY 1
    """,
        ["doc_id", "n_bytes"],
        {"bin_entropy": 6},
    ),
    doc="Byte-level payload entropy: Shannon entropy of each binary "
    "payload's 16-bin byte histogram — the multimodal QC gate that "
    "flags corrupted, encrypted, or non-text payloads before "
    "decode is attempted (near-uniform bins -> entropy near "
    "ln(16)). Composes the mm_byte_histogram Arrow kernel with one "
    "map-combinable per-doc rollup; ln-sum identity "
    "(ln N - sum c*ln c / N) avoids materializing p_i fractions, "
    "and the score ships with the catalog's standard scaled-BIGINT "
    "wrap (ln parity has tx_entropy's green precedent). Multimodal "
    "extension.",
)
def mm_payload_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .scale import multimodal

    hist = multimodal.byte_histogram(
        multimodal.as_binary_docs(_t(spark, sf_dir, "documents"))
    )
    out = hist.groupBy("doc_id").agg(
        F.sum("n").cast("long").alias("n_bytes"),
        F.round(
            F.log(F.sum("n")) - F.sum(F.col("n") * F.log("n")) / F.sum("n"),
            6,
        ).alias("bin_entropy"),
    )
    return _as_scaled_int(out, {"bin_entropy": 6})


# ---------------------------------------------------------------------------
# Pareto concentration: how many top customers carry 80% of revenue
# ---------------------------------------------------------------------------

PARETO_NUM = 4
PARETO_DEN = 5  # threshold = NUM/DEN of total revenue (80%)


@_register(
    "sq_pareto_8020",
    f"""
    WITH rev AS (
      SELECT o_custkey,
             CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) * 100
                  AS BIGINT) AS cents
      FROM orders GROUP BY 1
    ),
    r AS (
      SELECT cents,
             row_number() OVER (ORDER BY cents DESC, o_custkey) AS rn,
             sum(cents) OVER (ORDER BY cents DESC, o_custkey
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      FROM rev
    ),
    tot AS (
      SELECT CAST(count(*) AS BIGINT) AS n_customers,
             CAST(sum(cents) AS BIGINT) AS total_cents
      FROM rev
    )
    SELECT t.n_customers,
           CAST(min(r.rn) AS BIGINT) AS n_top80,
           CAST(min(r.cum) AS BIGINT) AS top80_cents,
           t.total_cents
    FROM r CROSS JOIN tot t
    WHERE {PARETO_DEN} * r.cum >= {PARETO_NUM} * t.total_cents
    GROUP BY t.n_customers, t.total_cents
    """,
    doc="Pareto concentration (the 80/20 curve point): the minimal "
    "number of top customers whose cumulative revenue reaches 80% "
    "of the total — the concentration statistic behind skew "
    "planning and account tiering. Revenue folds as exact integer "
    "cents; the cumulative rank runs over the CUSTOMER-cardinality "
    "aggregate (the ag_percentiles rank-plan class, one sort "
    "shuffle, O(1) memory per row), and the 80% cut is an exact "
    "integer cross-multiply against the 1-row total. All-integer "
    "single-row output. Relational extension.",
)
def sq_pareto_8020(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    rev = o.groupBy("o_custkey").agg(
        (F.sum(F.col("o_totalprice").cast("decimal(18,2)")) * 100)
        .cast("long")
        .alias("cents")
    )
    w = Window.orderBy(F.desc("cents"), F.asc("o_custkey"))
    r = rev.select(
        "cents",
        F.row_number().over(w).alias("rn"),
        F.sum("cents")
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .alias("cum"),
    )
    tot = rev.agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.sum("cents").cast("long").alias("total_cents"),
    )
    return (
        r.crossJoin(F.broadcast(tot))
        .filter(PARETO_DEN * F.col("cum") >= PARETO_NUM * F.col("total_cents"))
        .groupBy("n_customers", "total_cents")
        .agg(
            F.min("rn").cast("long").alias("n_top80"),
            F.min("cum").cast("long").alias("top80_cents"),
        )
        .select("n_customers", "n_top80", "top80_cents", "total_cents")
    )


# ---------------------------------------------------------------------------
# Cohen's d effect size between event-type value distributions
# ---------------------------------------------------------------------------


@_register(
    "ag_effect_size",
    _scaled_int_sql(
        """
    WITH st AS (
      SELECT event_type,
             count(*) AS n,
             CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS s,
             CAST(sum(CAST(value AS DECIMAL(18,4))
                      * CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS ss
      FROM events GROUP BY 1
    ),
    pairs AS (
      SELECT a.event_type AS type_a, b.event_type AS type_b,
             a.n AS na, b.n AS nb,
             a.s / a.n AS ma, b.s / b.n AS mb,
             (a.ss - a.s * a.s / a.n) / (a.n - 1) AS va,
             (b.ss - b.s * b.s / b.n) / (b.n - 1) AS vb
      FROM st a JOIN st b ON a.event_type < b.event_type
    )
    SELECT type_a, type_b, na, nb,
           round((ma - mb)
                 / sqrt(((na - 1) * va + (nb - 1) * vb) / (na + nb - 2)),
                 6) AS cohens_d
    FROM pairs
    """,
        ["type_a", "type_b", "na", "nb"],
        {"cohens_d": 6},
    ),
    doc="Cohen's d effect size of `value` between every event-type "
    "pair (pooled-variance standardized mean difference) — the "
    "practical-significance companion to ag_welch_ttest's p-value "
    "screen: a t-stat says WHETHER distributions differ, d says by "
    "HOW MUCH in standard-deviation units. Identical sufficient-"
    "statistic recipe (exact DECIMAL folds, one partial-agg "
    "shuffle, 5-row pair broadcast, scaled-BIGINT output). "
    "Aggregate-statistics extension.",
)
def ag_effect_size(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    dec = F.col("value").cast("decimal(18,4)")
    st = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(dec).cast("double").alias("s"),
        F.sum(dec * dec).cast("double").alias("ss"),
    )
    # try_divide throughout: a single-row group has n-1 == 0 and a
    # pair of constant groups has pooled variance 0 — DuckDB's x/0
    # yields NULL in both spots while Spark ANSI division throws
    # (rule 15; fuzzer-found crash, same fix as ag_welch_ttest)
    var = F.try_divide(
        F.col("ss") - F.col("s") * F.col("s") / F.col("n"), F.col("n") - 1
    )
    a = st.select(
        F.col("event_type").alias("type_a"),
        F.col("n").alias("na"),
        (F.col("s") / F.col("n")).alias("ma"),
        var.alias("va"),
    )
    b = st.select(
        F.col("event_type").alias("type_b"),
        F.col("n").alias("nb"),
        (F.col("s") / F.col("n")).alias("mb"),
        var.alias("vb"),
    )
    na, nb = F.col("na"), F.col("nb")
    pooled = F.try_divide(
        (na - 1) * F.col("va") + (nb - 1) * F.col("vb"), na + nb - 2
    )
    out = a.join(F.broadcast(b), F.col("type_a") < F.col("type_b")).select(
        "type_a",
        "type_b",
        "na",
        "nb",
        F.round(
            F.try_divide(F.col("ma") - F.col("mb"), F.sqrt(pooled)), 6
        ).alias("cohens_d"),
    )
    return _as_scaled_int(out, {"cohens_d": 6})


# ===========================================================================
# batch 9: corpus novelty curve, hot-streak islands
# ===========================================================================


def _novelty_sql() -> str:
    from .queries_scale import _SHINGLES_CTE, _TOKS_CHAR_CTE

    return f"""
    WITH {_TOKS_CHAR_CTE.strip()},
    {_SHINGLES_CTE.strip()},
    first AS (
      SELECT shingle, min(doc_id) AS first_doc FROM shingles GROUP BY 1
    )
    SELECT s.doc_id,
           CAST(count(*) AS BIGINT) AS n_shingles,
           CAST(sum(CASE WHEN f.first_doc = s.doc_id THEN 1 ELSE 0 END)
                AS BIGINT) AS n_novel,
           CAST((sum(CASE WHEN f.first_doc = s.doc_id THEN 1 ELSE 0 END)
                 * 10000) // count(*) AS BIGINT) AS novelty_x1e4
    FROM shingles s JOIN first f ON f.shingle = s.shingle
    GROUP BY 1
    """


@_register(
    "tx_ngram_novelty",
    _novelty_sql(),
    doc="Corpus novelty curve: per document (in doc_id ingest order), "
    "the fraction of its distinct token 3-gram shingles never seen "
    "in any earlier document — the marginal-diversity signal "
    "curation uses to decide when a source is exhausted (novelty "
    "decays toward 0 as a crawl saturates), built on the SAME "
    "char-vocab shingle recipe as the dedup family (dd_minhash_lsh "
    "et al.), so its numbers compose with theirs. One "
    "shingle-keyed min aggregation + one doc-keyed rollup. "
    "All-integer output. Text-analysis extension.",
)
def tx_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .scale import dedup

    docs = _t(spark, sf_dir, "documents")
    sh = dedup.exploded_shingles(docs)
    first = sh.groupBy("shingle").agg(F.min("doc_id").alias("first_doc"))
    novel = F.when(F.col("first_doc") == F.col("doc_id"), 1).otherwise(0)
    return (
        sh.join(first, "shingle")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.sum(novel).cast("long").alias("n_novel"),
        )
        .select(
            "doc_id",
            "n_shingles",
            "n_novel",
            F.expr("(n_novel * 10000) DIV n_shingles")
            .cast("long")
            .alias("novelty_x1e4"),
        )
    )


# ---------------------------------------------------------------------------
# hot-streak islands: maximal runs of consecutive above-average hours
# ---------------------------------------------------------------------------

STREAK_MIN_LEN = 3


@_register(
    "ts_hot_streaks",
    f"""
    WITH hourly AS (
      SELECT event_type, CAST(floor(epoch(ts) / 3600) AS BIGINT) AS h,
             CAST(count(*) AS BIGINT) AS n
      FROM events GROUP BY 1, 2
    ),
    stats AS (
      SELECT event_type, CAST(count(*) AS BIGINT) AS n_hours,
             CAST(sum(n) AS BIGINT) AS total
      FROM hourly GROUP BY 1
    ),
    hot AS (
      SELECT h.event_type, h.h, h.n
      FROM hourly h JOIN stats s ON s.event_type = h.event_type
      WHERE h.n * s.n_hours >= s.total
    ),
    grp AS (
      SELECT event_type, h, n,
             h - row_number() OVER (
               PARTITION BY event_type ORDER BY h) AS g
      FROM hot
    )
    SELECT event_type,
           CAST(min(h) AS BIGINT) AS start_h,
           CAST(max(h) AS BIGINT) AS end_h,
           CAST(count(*) AS BIGINT) AS len,
           CAST(sum(n) AS BIGINT) AS n_events
    FROM grp GROUP BY event_type, g
    HAVING count(*) >= {STREAK_MIN_LEN}
    """,
    doc="Hot-streak detection: maximal runs of CONSECUTIVE hours at "
    "or above the type's average hourly rate, kept when the run "
    "lasts >= 3 hours — sustained-load windows for capacity review "
    "(ts_peak_hours finds instants; this finds durations). The "
    "gaps-and-islands rewrite: island id = h - row_number() over "
    "the hot rows (constant exactly while hours are consecutive), "
    "so runs fall out of one keyed window + one grouped rollup — "
    "no self-join, no iteration. The hot threshold is an integer "
    "cross-multiply (n * n_hours >= total), scale-independent by "
    "construction. All-integer output. Temporal extension.",
)
def ts_hot_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    hourly = ev.groupBy(
        "event_type",
        F.floor(F.unix_timestamp("ts") / 3600).cast("bigint").alias("h"),
    ).agg(F.count(F.lit(1)).alias("n"))
    stats = hourly.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_hours"),
        F.sum("n").cast("long").alias("total"),
    )
    hot = hourly.join(F.broadcast(stats), "event_type").filter(
        F.col("n") * F.col("n_hours") >= F.col("total")
    )
    w = Window.partitionBy("event_type").orderBy("h")
    grp = hot.select(
        "event_type",
        "h",
        "n",
        (F.col("h") - F.row_number().over(w)).alias("g"),
    )
    return (
        grp.groupBy("event_type", "g")
        .agg(
            F.min("h").cast("long").alias("start_h"),
            F.max("h").cast("long").alias("end_h"),
            F.count(F.lit(1)).alias("len"),
            F.sum("n").cast("long").alias("n_events"),
        )
        .filter(F.col("len") >= STREAK_MIN_LEN)
        .select("event_type", "start_h", "end_h", "len", "n_events")
    )
